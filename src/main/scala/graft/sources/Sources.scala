package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Batch file ingestion (SURVEY §2.9): the read-side counterparts of the
  * out_file formats — NDJSON, CSV, raw text lines — normalized toward
  * the log-event shape (`tag`, `ts`, body columns). Streaming twins live
  * in [[graft.streaming.Streams]] (tailText/tailParquet). The network
  * push sources (Forward, Tcp, Udp, Unix, Http, Mqtt) are real listening
  * servers on one core, [[PushSource]]; the helpers below read them.
  *
  * Scale note: every reader here is a plain FileScan — partition count
  * follows `spark.sql.files.maxPartitionBytes`, column pruning and
  * filter pushdown apply to the parsed columns (json/csv), and no
  * driver-side work happens beyond listing.
  */
object Sources {

  /** NDJSON file(s) with an explicit schema (in_tail + json parser).
    * Schema-on-read: inference is a separate sampling pass at 100 TB, so
    * the library requires the DDL up front.
    */
  def ndjson(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(StructType.fromDDL(ddl)).json(path)

  /** Raw text lines (in_tail without a parser): one `value` column plus
    * the source file path as the tag seed (≙ tail's tag-from-path).
    */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .withColumn("tag", input_file_name())

  /** Tag a batch of records the way an input plugin instance would:
    * constant tag plus optional per-record suffix column.
    */
  def withTag(df: DataFrame, base: String, suffix: Option[String] = None): DataFrame =
    suffix match {
      case Some(c) => df.withColumn("tag", concat(lit(base + "."), col(c)))
      case None => df.withColumn("tag", lit(base))
    }

  // ------------------------------------------------------- network push

  /** in_tcp (plugins/in_tcp): a LISTENING newline-framed TCP source —
    * peers connect and push; rows are (value, ts). See
    * [[TcpServerSource]] for the delivery semantics.
    */
  def tcpLines(spark: SparkSession, port: Int,
               host: String = "127.0.0.1"): DataFrame =
    spark.readStream.format("graft.sources.TcpServerSource")
      .option("port", port).option("host", host).load()

  /** RFC5424 pattern shared with the parse_syslog5424 oracle query
    * (reference conf/parsers.conf `syslog-rfc5424`).
    */
  val Rfc5424Pattern: String =
    "^<(?<pri>[0-9]{1,5})>1 (?<time>[^ ]+) (?<host>[^ ]+) (?<ident>[^ ]+) " +
      "(?<pid>[-0-9]+) (?<msgid>[^ ]+) (?<extradata>(\\[.*?\\]|-)) (?<message>.+)$"

  /** in_http (plugins/in_http): listening HTTP source; POSTed NDJSON
    * lines become rows (value, path, ts); tag from the URI path like
    * in_http's tag_from_uri (leading '/' stripped, '/' → '.').
    */
  def httpLines(spark: SparkSession, port: Int,
                host: String = "127.0.0.1"): DataFrame =
    spark.readStream.format("graft.sources.HttpServerSource")
      .option("port", port).option("host", host).load()
      .withColumn("tag",
        regexp_replace(regexp_replace(col("path"), "^/", ""), "/", "."))

  /** in_opentelemetry logs endpoint (plugins/in_opentelemetry): listening
    * HTTP source accepting BOTH wire formats — proto3-JSON and binary
    * protobuf (`application/x-protobuf`, the default of every standard
    * otel exporter; opentelemetry_utils.c:122-155) — with gzip
    * Content-Encoding handled at the HTTP layer
    * (opentelemetry_prot.c:964-965). One row per logRecord.
    */
  def otlpLogsHttp(spark: SparkSession, port: Int,
                   host: String = "127.0.0.1"): DataFrame = {
    val raw = spark.readStream.format("graft.sources.HttpServerSource")
      .option("port", port).option("host", host)
      .option("body", "raw").load()
    graft.parse.OtlpProto.decodeLogsBodies(raw, unbase64(col("value")),
      col("content_type"), lit(null))
  }

  /** in_collectd (plugins/in_collectd): LISTENING datagram source for
    * the collectd binary network protocol — each packet decodes into
    * one row per sample field via the bounds-checked
    * [[graft.parse.Collectd]] parser (TypesDB-mapped field names).
    */
  def collectdUdp(spark: SparkSession, port: Int,
                  host: String = "127.0.0.1",
                  types: graft.parse.Collectd.TypesDb =
                    graft.parse.Collectd.DefaultTypes): DataFrame = {
    val raw = spark.readStream.format("graft.sources.UdpServerSource")
      .option("port", port).option("host", host)
      .option("body", "raw").load()
    graft.parse.Collectd.decodeBodies(raw, unbase64(col("value")), types)
  }

  /** in_prometheus_remote_write (plugins/in_prometheus_remote_write):
    * listening HTTP endpoint; each POST body is a snappy-compressed
    * protobuf `WriteRequest` decoded into one row per sample
    * (name, labels, value, ts_ms) — same frame as the scrape-text
    * parser, so push- and pull-ingested metrics share a schema.
    */
  def promRemoteWrite(spark: SparkSession, port: Int,
                      host: String = "127.0.0.1"): DataFrame = {
    val raw = spark.readStream.format("graft.sources.HttpServerSource")
      .option("port", port).option("host", host)
      .option("body", "raw").load()
    graft.parse.PromRemoteWrite.decodeBodies(raw, unbase64(col("value")))
  }

  /** in_syslog, tcp transport (plugins/in_syslog/syslog_conf.c shape):
    * listening socket + RFC5424 parse + `syslog.<ident>` tagging — the
    * full push path, ready for [[graft.streaming.Streams.routeToSinks]].
    */
  def syslogTcp(spark: SparkSession, port: Int,
                host: String = "127.0.0.1"): DataFrame = {
    val raw = tcpLines(spark, port, host)
    graft.parse.Parsers.regex(raw, col("value"), Rfc5424Pattern,
      types = Map("pri" -> "int", "pid" -> "long"))
      .withColumn("tag", concat(lit("syslog."),
        coalesce(col("ident"), lit("unparsed"))))
  }

  /** RFC3164 (legacy BSD syslog) pattern — reference conf/parsers.conf
    * `syslog-rfc3164`: `<pri>Mmm dd hh:mm:ss host ident[pid]: message`,
    * timestamp without a year, day space-padded. The `(?:[^:]*:)?` tail
    * swallows the ident/pid echo up to the colon like the reference
    * pattern does.
    */
  val Rfc3164Pattern: String =
    "^<(?<pri>[0-9]+)>(?<time>[^ ]* {1,2}[^ ]* [^ ]*) (?<host>[^ ]*) " +
      "(?<ident>[a-zA-Z0-9_/.\\-]*)(?:\\[(?<pid>[0-9]+)\\])?(?:[^:]*:)? *(?<message>.*)$"

  /** in_udp (plugins/in_udp/udp.c): LISTENING datagram source; rows are
    * (value, peer, ts) — `peer` per in_udp's source_address_key.
    */
  def udpLines(spark: SparkSession, port: Int,
               host: String = "127.0.0.1"): DataFrame =
    spark.readStream.format("graft.sources.UdpServerSource")
      .option("port", port).option("host", host).load()

  /** in_syslog, udp transport with the RFC3164 parser — the legacy BSD
    * framing routers/appliances still emit. Adds the PRI decomposition
    * (facility = pri >> 3, severity = pri & 7) and `syslog.<ident>`
    * tagging like [[syslogTcp]].
    */
  def syslogUdp(spark: SparkSession, port: Int,
                host: String = "127.0.0.1"): DataFrame = {
    val raw = udpLines(spark, port, host)
    graft.parse.Parsers.regex(raw, col("value"), Rfc3164Pattern,
      types = Map("pri" -> "int", "pid" -> "long"))
      .withColumn("facility", expr("pri div 8").cast("int"))
      .withColumn("severity", (col("pri") % 8).cast("int"))
      .withColumn("tag", concat(lit("syslog."),
        coalesce(col("ident"), lit("unparsed"))))
  }

  /** in_statsd (plugins/in_statsd/statsd.c): statsd datagrams — one or
    * more `bucket:value|type[|@rate]` lines per packet (the UDP source
    * already splits packets on newlines) — parsed into typed metric rows.
    */
  def statsdUdp(spark: SparkSession, port: Int,
                host: String = "127.0.0.1"): DataFrame =
    graft.parse.Parsers.statsd(udpLines(spark, port, host), col("value"))

  /** in_unix_socket (plugins/in_unix_socket/unix_socket.c), stream mode:
    * newline-framed records over a unix domain socket, same row shape as
    * [[tcpLines]].
    */
  def unixLines(spark: SparkSession, path: String): DataFrame =
    spark.readStream.format("graft.sources.UnixServerSource")
      .option("path", path).load()
}
