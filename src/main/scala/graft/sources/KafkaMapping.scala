package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Kafka transport mapping — `in_kafka` / `out_kafka` expressed against
  * Spark's first-class `format("kafka")` connector.
  *
  * The connector jar (`spark-sql-kafka-0-10`) is not shipped in this
  * sandbox, so the reader/writer calls cannot be exercised end-to-end
  * here; everything AROUND the connector is real and unit-tested: the
  * reference-config → Spark-option translation
  * (`plugins/in_kafka/in_kafka.c` / `plugins/out_kafka/kafka.c` config
  * maps) and the record-frame adapters to/from the engine's (tag, ts,
  * record) model. On a cluster with the connector on the classpath these
  * functions run unchanged.
  *
  * Scale shape: Kafka partitions map 1:1 onto Spark input partitions
  * (the connector's planner); `minPartitions` can oversplit hot topics.
  * No extra shuffle is introduced by either adapter.
  */
object KafkaMapping {

  /** in_kafka config keys → structured-streaming kafka reader options
    * (in_kafka.c config map: brokers/topics/client_id/group_id/poll_ms/
    * enable_auto_commit). Unknown `rdkafka.` passthrough keys map to the
    * connector's `kafka.` passthrough prefix, preserving the reference's
    * escape hatch to raw client configs.
    */
  def sourceOptions(props: Map[String, String]): Map[String, String] = {
    val base = Map("subscribe" -> props.getOrElse("topics",
      throw new IllegalArgumentException("in_kafka requires 'topics'")),
      "kafka.bootstrap.servers" -> props.getOrElse("brokers",
        throw new IllegalArgumentException("in_kafka requires 'brokers'")))
    val opt = Seq(
      // the connector manages offsets via checkpoint, not the broker's
      // consumer-group commit — group_id still names the group
      props.get("group_id").map("kafka.group.id" -> _),
      props.get("client_id").map("kafka.client.id" -> _),
      props.get("poll_timeout_ms").map("kafkaConsumer.pollTimeoutMs" -> _),
      // buffer_max_size bounds a poll batch; maxOffsetsPerTrigger is the
      // per-micro-batch equivalent when provided as a row count
      props.get("buffer_max_rows").map("maxOffsetsPerTrigger" -> _)
    ).flatten.toMap
    val passthrough = props.collect {
      case (k, v) if k.startsWith("rdkafka.") =>
        "kafka." + k.stripPrefix("rdkafka.") -> v
    }
    base ++ opt ++ passthrough
  }

  /** Kafka record frame → the engine's (tag, ts, record) model, the
    * adapter in_kafka applies per message (in_kafka.c:58-120: topic/
    * partition/offset/key as metadata next to the payload). `format
    * json` parses the payload into the record map; `format none` keeps
    * the raw payload string under `payload`.
    */
  def fromKafkaFrame(df: DataFrame, format: String = "json"): DataFrame = {
    val meta = Seq(
      col("topic").as("tag"),
      col("timestamp").as("ts"),
      col("partition"), col("offset"),
      col("key").cast("string").as("message_key"))
    format match {
      case "json" => df.select(meta :+
        from_json(col("value").cast("string"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)).as("record"): _*)
      case "none" => df.select(meta :+
        col("value").cast("string").as("payload"): _*)
      case other =>
        throw new IllegalArgumentException(s"in_kafka format '$other'")
    }
  }

  /** Engine frame → kafka writer frame: `topic` from the tag (out_kafka
    * `dynamic_topic` uses topic_key / falls back to the static topic
    * list), `key` from message_key_field, JSON value.
    */
  def toKafkaFrame(df: DataFrame, tagCol: Column, recordCol: Column,
                   messageKey: Option[Column] = None): DataFrame = {
    val cols = Seq(
      tagCol.cast("string").as("topic"),
      messageKey.getOrElse(lit(null)).cast("string").as("key"),
      to_json(recordCol).as("value"))
    df.select(cols: _*)
  }

  /** The composed reader (runs only with the connector jar present). */
  def read(spark: SparkSession, props: Map[String, String]): DataFrame =
    fromKafkaFrame(
      sourceOptions(props).foldLeft(spark.readStream.format("kafka")) {
        case (r, (k, v)) => r.option(k, v)
      }.load(),
      props.getOrElse("format", "json"))
}
