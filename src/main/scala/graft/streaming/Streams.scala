package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured Streaming facade (SURVEY §2.9/§2.10 source+sink mapping).
  *
  * fluent-bit's pipeline = inputs → filters/SP → tag-routed outputs with
  * retry + filesystem buffering. Spark-native: readStream sources →
  * the same graft.ops/FluentQL transforms (they are plain DataFrame
  * functions, batch/streaming agnostic) → per-sink filtered writeStream
  * with checkpointing (replaces the offset sqlite + chunkio buffering).
  */
object Streams {

  /** in_tail analogue: tail files under a glob. Offset tracking is the
    * checkpoint, not a sqlite DB (tail_db.c:82). `maxFilesPerTrigger`
    * bounds per-batch intake like mem_buf_limit backpressure.
    */
  def tailText(spark: SparkSession, pathGlob: String,
               maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(pathGlob)

  /** Rotation-tolerant tail ([[TailSource]]): per-inode byte offsets in
    * the checkpointed offset log, so appends resume mid-file, renames
    * keep their read position (no duplicate ingest), and truncation
    * restarts from zero — the `in_tail` contract
    * (`plugins/in_tail/tail_file.c`) that the plain FileStreamSource
    * ([[tailText]]) does not honor (path-keyed, whole-file-once).
    * Point the glob at the rotated names too (`app.log*`) to keep
    * draining a renamed file's tail.
    */
  def tailRotating(spark: SparkSession, pathGlob: String,
                   maxBytesPerTrigger: Long = 64L * 1024 * 1024): DataFrame =
    spark.readStream
      .format(classOf[TailSourceProvider].getName)
      .option(TailSource.PathOption, pathGlob)
      .option(TailSource.MaxBytesOption, maxBytesPerTrigger.toString)
      .load()

  def tailParquet(spark: SparkSession, path: String, schema: StructType,
                  maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(path)

  /** Streaming WARC/WET ingestion — crawl segments landing in a bucket
    * (the drop-directory pattern of a live fetch fleet) stream in as
    * whole binary files via the `binaryFile` source: one segment = one
    * task = one [[graft.functions.WarcScan]] pass, gzip segments
    * inflate off the magic bytes, and file-source checkpointing makes
    * restarts resume at the first unread segment. Emits one row per
    * record with the source segment path kept for provenance.
    */
  def warcSegments(spark: SparkSession, pathGlob: String,
                   maxFilesPerTrigger: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.col
    // the streaming DataSource path requires the schema up front; this
    // is binaryFile's fixed schema (BinaryFileFormat.schema)
    val binarySchema = StructType.fromDDL(
      "path string, modificationTime timestamp, length bigint, content binary")
    graft.parse.Parsers.warc(
      spark.readStream.format("binaryFile").schema(binarySchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .load(pathGlob)
        .select(col("path").as("segment"), col("content")),
      col("content")).drop("content")
  }

  /** in_dummy / in_random analogue: the `rate` source emitting
    * `recordsPerSecond` rows, shaped as log events with a constant tag
    * and templated body — the generator the reference's runtime tests
    * lean on (in_dummy fixed-message intervals).
    */
  def dummy(spark: SparkSession, tag: String, message: String,
            recordsPerSecond: Int = 10): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", recordsPerSecond)
      .load()
      .select(
        lit(tag).as("tag"),
        col("timestamp").as("ts"),
        lit(message).as("message"),
        col("value").as("seq"))

  /** Tag-routed fan-out: one writeStream per sink pattern
    * (§2.8 routing; each sink gets its own checkpoint = independent
    * delivery progress, like per-output task queues).
    */
  def routeToSinks(df: DataFrame, tagCol: String,
                   sinks: Seq[(String, DataFrameWriterConfig)]): Seq[StreamingQuery] =
    sinks.map { case (pattern, cfg) =>
      val routed = df.filter(graft.route.Router.tagMatch(col(tagCol), pattern))
      cfg.start(routed)
    }

  final case class DataFrameWriterConfig(
      format: String,
      path: Option[String] = None,
      queryName: Option[String] = None,
      checkpoint: Option[String] = None,
      outputMode: String = "append",
      trigger: Option[Trigger] = None
  ) {
    def start(df: DataFrame): StreamingQuery = {
      LocalCheckpointFiles.install(df.sparkSession)
      var w: DataStreamWriter[org.apache.spark.sql.Row] =
        df.writeStream.format(format).outputMode(outputMode)
      path.foreach(p => w = w.option("path", p))
      queryName.foreach(n => w = w.queryName(n))
      checkpoint.foreach(c => w = w.option("checkpointLocation", c))
      trigger.foreach(t => w = w.trigger(t))
      w.start()
    }
  }
}
