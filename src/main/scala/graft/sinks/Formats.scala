package graft.sinks

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim

/** Sink-side record serialization (SURVEY.md §2.10): the out_file formats
  * (reference `plugins/out_file/file.c:472-580,987-1020` — json / csv /
  * ltsv / plain / template), GELF (`src/flb_pack_gelf.c`) and the
  * Prometheus text exposition format (out_prometheus_exporter).
  *
  * All formatters are single Column expressions (codegen'd string
  * building) — a formatted sink line never leaves the projection, so
  * writing N TB of output lines is a map-only stage.
  */
object Formats {

  /** out_file `Format json` — one JSON object per line. Field order is
    * the struct order, as in msgpack→JSON (flb_pack.c:1156). The text is
    * `to_json(struct(...))`'s; string-only records are written as bytes
    * ([[graft.functions.JsonLine]]).
    */
  def jsonLine(fields: Seq[(String, Column)]): Column =
    shim.column(graft.functions.JsonLine(fields.map(_._1), fields.map(f => shim.expression(f._2))))

  /** out_file `Format csv` (file.c:472): delimiter-joined values. NULLs
    * serialize as empty fields (concat_ws would silently SKIP them,
    * shifting every later column); values containing the delimiter, a
    * quote, or a newline are double-quoted with embedded quotes doubled.
    */
  def csvLine(fields: Seq[Column], delim: String = ","): Column =
    concat_ws(delim, fields.map { f =>
      val s = coalesce(f.cast("string"), lit(""))
      val quoted = concat(lit("\""), regexp_replace(s, "\"", "\"\""), lit("\""))
      when(s.contains(delim) || s.contains("\"") || s.contains("\n"), quoted)
        .otherwise(s)
    }: _*)

  /** out_file `Format plain` (file.c): the bare value, no framing. */
  def plainLine(value: Column): Column = value.cast("string")

  /** out_file `Format ltsv` (file.c:530): `key:value` pairs joined by tabs. */
  def ltsvLine(fields: Seq[(String, Column)]): Column =
    concat_ws("\t", fields.map { case (n, c) =>
      concat(lit(n + ":"), c.cast("string"))
    }: _*)

  /** out_file `Format template` (file.c:987-1020): literal text with
    * `{key}` placeholders resolved from columns.
    */
  def templateLine(template: String, resolve: String => Column): Column = {
    val token = java.util.regex.Pattern.compile("\\{([A-Za-z0-9_.]+)\\}")
    val m = token.matcher(template)
    val parts = scala.collection.mutable.ArrayBuffer[Column]()
    var last = 0
    while (m.find()) {
      if (m.start() > last) parts += lit(template.substring(last, m.start()))
      parts += resolve(m.group(1)).cast("string")
      last = m.end()
    }
    if (last < template.length) parts += lit(template.substring(last))
    concat(parts.toSeq: _*)
  }

  /** GELF 1.1 payload (flb_pack_gelf.c): version/host/short_message/
    * timestamp/level + `_`-prefixed additional fields. Timestamp is
    * integer epoch seconds here (sub-second via `timestampSec` as a
    * decimal string if needed).
    */
  def gelf(host: Column, shortMessage: Column, timestampSec: Column,
           level: Column, additional: Seq[(String, Column)] = Nil): Column =
    to_json(struct(
      (lit("1.1").as("version") +: host.as("host") +:
        shortMessage.as("short_message") +: timestampSec.as("timestamp") +:
        level.as("level") +:
        additional.map { case (n, c) => c.as("_" + n) }): _*))

  /** Prometheus text exposition line:
    * `name{k1="v1",k2="v2"} value timestamp_ms` — labels pre-sorted by
    * key for a canonical form.
    */
  def promLine(name: String, labels: Seq[(String, Column)], value: Column,
               tsMs: Option[Column] = None): Column = {
    val labelStr =
      if (labels.isEmpty) lit("")
      else concat(lit("{"),
        concat_ws(",", labels.sortBy(_._1).map { case (k, v) =>
          concat(lit(k + "=\""), v.cast("string"), lit("\""))
        }: _*), lit("}"))
    val base = concat(lit(name), labelStr, lit(" "), value.cast("string"))
    tsMs.map(t => concat(base, lit(" "), t.cast("string"))).getOrElse(base)
  }

  /** One Loki push `values` entry — `["<ts unix nanos>", "<line>"]`
    * (out_loki `plugins/out_loki/loki.c:1656-1680` payload comment;
    * timestamps are nanosecond strings).
    */
  def lokiValue(tsNs: Column, line: Column): Column =
    to_json(array(tsNs.cast("string"), line))

  /** The Loki push API body (loki.c:1656-1795 pack_payload):
    * `{"streams":[{"stream":{labels},"values":[entries...]}]}` — one
    * stream of pre-built [[lokiValue]] entries under a label map.
    */
  def lokiPush(streamLabels: Seq[(String, Column)], entries: Column): Column =
    concat(lit("{\"streams\":[{\"stream\":"),
      to_json(struct(streamLabels.map { case (n, c) => c.as(n) }: _*)),
      lit(",\"values\":["), array_join(entries, ","), lit("]}]}"))

  /** Splunk HEC sender event (out_splunk `plugins/out_splunk/splunk.c`
    * event_key/sourcetype packing): `{"time":…,"host":…,"source":…,
    * "sourcetype":…,"event":{…}}` — the wire twin of the ingest side's
    * [[graft.parse.Parsers.splunkHecEvents]].
    */
  def splunkHecEvent(timeSec: Column, host: Column, source: Column,
                     sourcetype: Column, event: Column): Column =
    to_json(struct(timeSec.as("time"), host.as("host"), source.as("source"),
      sourcetype.as("sourcetype"), event.as("event")))

  /** InfluxDB line protocol (out_influxdb `plugins/out_influxdb/
    * influxdb.c:120-260`): `measurement,tag=v,... field=v,... <ts_ns>`.
    * Tag keys/values escape comma/equals/space with a backslash
    * (influxdb_escape); string field values are double-quoted with
    * backslash/quote escaping, integer fields carry the `i` suffix —
    * the deterministic value kinds (double rendering is
    * engine-dependent, so callers gate integer/string fields).
    */
  private def influxEscape(c: Column): Column =
    regexp_replace(c.cast("string"), "([,= ])", "\\\\$1")

  def influxLine(measurement: String, tags: Seq[(String, Column)],
                 intFields: Seq[(String, Column)],
                 strFields: Seq[(String, Column)], tsNs: Column): Column = {
    val tagStr = tags.map { case (k, v) =>
      concat(lit("," + k + "="), influxEscape(v))
    }
    val rendered =
      intFields.map { case (k, v) =>
        k -> concat(v.cast("bigint").cast("string"), lit("i"))
      } ++ strFields.map { case (k, v) =>
        k -> concat(lit("\""),
          regexp_replace(regexp_replace(v, "\\\\", "\\\\\\\\"),
            "\"", "\\\\\""), lit("\""))
      }
    val fieldStr = rendered.zipWithIndex.map { case ((k, v), i) =>
      concat(lit((if (i == 0) " " else ",") + k + "="), v)
    }
    concat(lit(measurement) +: (tagStr ++ fieldStr) :+
      concat(lit(" "), tsNs.cast("string")): _*)
  }

  /** RFC 5424 syslog line (out_syslog `plugins/out_syslog/
    * syslog.c:229-370` syslog_rfc5424): `<pri>1 TIMESTAMP host app
    * procid msgid - msg` — microsecond UTC timestamp, `-` NIL values,
    * pri = facility·8 + severity.
    */
  def syslog5424Line(facility: Column, severity: Column, ts: Column,
                     host: Column, appname: Column, procid: Column,
                     msgid: Column, message: Column): Column = {
    def nil(c: Column): Column = coalesce(c.cast("string"), lit("-"))
    // date_format renders in the session timezone; shift to UTC first so
    // the literal 'Z' suffix is truthful in non-UTC sessions (the
    // reference renders gmtime)
    val utcTs = to_utc_timestamp(ts, expr("current_timezone()"))
    concat(
      lit("<"), (facility * 8 + severity).cast("string"), lit(">1 "),
      date_format(utcTs, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"), lit(" "),
      nil(host), lit(" "), nil(appname), lit(" "), nil(procid), lit(" "),
      nil(msgid), lit(" - "), message)
  }

  /** Splunk HEC event-endpoint record (out_splunk `plugins/out_splunk/
    * splunk.c:500-527` splunk_format + `pack_map_meta` :265-420): one
    * JSON map per record — `time` (epoch seconds as double, the
    * reference packs `msgpack_pack_double(mp_pck, t)`), then the
    * metadata keys `host`/`source`/`sourcetype`/`index`/`fields` (each
    * omitted when its config/accessor yields nothing — pass null
    * columns and to_json drops them), then the record under `event`.
    *
    * A HEC POST body is the bare CONCATENATION of these maps (no
    * separator, no array wrapper) — the wire shape the in_splunk side
    * re-ingests via [[graft.parse.Parsers.splunkHecEvents]].
    */
  def splunkHecEvent(timeSec: Column, host: Column, source: Column,
                     sourcetype: Column, index: Column, fields: Column,
                     event: Column): Column =
    to_json(struct(timeSec.as("time"), host.as("host"),
      source.as("source"), sourcetype.as("sourcetype"),
      index.as("index"), fields.as("fields"), event.as("event")))

  /** CloudWatch Logs `PutLogEvents` body (out_cloudwatch_logs
    * `plugins/out_cloudwatch_logs/cloudwatch_api.c:440-520` init_put_payload
    * + write_event): `{"logGroupName":…,"logStreamName":…,
    * "logEvents":[{"timestamp":<ms>,"message":…},…]}`. The API requires
    * events in chronological order — pass `events` through
    * `array_sort`, which orders the (timestamp, message) structs by
    * timestamp first.
    */
  def cloudwatchEvent(timestampMs: Column, message: Column): Column =
    struct(timestampMs.cast("long").as("timestamp"), message.as("message"))

  def cloudwatchBody(group: Column, stream: Column, events: Column): Column =
    to_json(struct(group.as("logGroupName"), stream.as("logStreamName"),
      array_sort(events).as("logEvents")))

  /** Cloud Logging `entries.write` entry (out_stackdriver
    * `plugins/out_stackdriver/stackdriver.c:1728-1830`): `logName`
    * (`projects/<project>/logs/<tag>`), mapped `severity`, RFC3339
    * `timestamp`, residual fields under `jsonPayload`. The body is
    * `{"entries":[…]}`.
    */
  def stackdriverEntry(logName: Column, severity: Column, ts: Column,
                       jsonPayload: Column): Column = {
    val utcTs = to_utc_timestamp(ts, expr("current_timezone()"))
    struct(logName.as("logName"), severity.as("severity"),
      date_format(utcTs, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").as("timestamp"),
      jsonPayload.as("jsonPayload"))
  }

  def stackdriverBody(entries: Column): Column =
    to_json(struct(entries.as("entries")))

  /** LogDNA ingest line (out_logdna `plugins/out_logdna/logdna.c:200-280`):
    * promoted `app`/`level` keys, integer-seconds `timestamp`, the
    * residual record JSON as `line`; the POST body is `{"lines":[…]}`.
    */
  def logdnaLine(timestampSec: Column, app: Column, level: Column,
                 line: Column): Column =
    struct(timestampSec.cast("long").as("timestamp"), app.as("app"),
      level.as("level"), line.as("line"))

  def logdnaBody(lines: Column): Column =
    to_json(struct(lines.as("lines")))

  /** BigQuery `tabledata.insertAll` body (out_bigquery
    * `plugins/out_bigquery/bigquery.c:917-975`): `{"rows":[{"json":
    * {…}},…]}` — the reference skips `insertId` (bigquery.c:964 "we
    * don't support the insertId"), so rows carry only the record.
    */
  def bigqueryBody(rows: Column): Column =
    to_json(struct(transform(rows, r => struct(r.as("json"))).as("rows")))

  /** Kinesis Firehose `PutRecordBatch` body (out_kinesis_firehose
    * `firehose_api.c:80-130`): `{"DeliveryStreamName":…,"Records":
    * [{"Data":"<base64 record>"},…]}` — records travel base64-encoded.
    */
  def kinesisFirehoseBody(deliveryStream: Column, datas: Column): Column =
    to_json(struct(deliveryStream.as("DeliveryStreamName"),
      transform(datas, d => struct(base64(d.cast("binary")).as("Data")))
        .as("Records")))

  /** Kinesis Streams `PutRecords` body (out_kinesis_streams
    * `kinesis_api.c:140-190`): like Firehose plus a per-record
    * `PartitionKey`. `records` is `array<struct<data string,
    * partition_key string>>`.
    */
  def kinesisStreamsBody(streamName: Column, records: Column): Column =
    to_json(struct(streamName.as("StreamName"),
      transform(records, r => struct(
        base64(r.getField("data").cast("binary")).as("Data"),
        r.getField("partition_key").as("PartitionKey"))).as("Records")))

  /** Slack incoming-webhook payload (out_slack `slack.c:220-230`): the
    * whole batch renders as one `{"text": …}` message.
    */
  def slackBody(text: Column): Column =
    to_json(struct(text.as("text")))

  /** New Relic Logs record (out_nrlogs `newrelic.c:53-140`
    * package_record): `{"timestamp":<ms>,"message":<log|message key>,
    * "attributes":{residual}}`, wrapped as
    * `[{"common":{"attributes":{"plugin":…}},"logs":[…]}]`.
    */
  def nrlogsLine(timestampMs: Column, message: Column,
                 attributes: Column): Column =
    struct(timestampMs.cast("long").as("timestamp"),
      message.as("message"), attributes.as("attributes"))

  def nrlogsBody(logs: Column): Column =
    to_json(array(struct(
      struct(struct(struct(lit("graft").as("type")).as("plugin"))
        .as("attributes")).as("common"),
      logs.as("logs"))))

  /** Azure Log Analytics record batch (out_azure `azure.c:120-200`):
    * the POST body is a bare JSON array of records, each carrying the
    * configured time key; Log-Type and the SharedKey signature ride as
    * headers (see [[HttpSink.azureSharedKeyAuth]]).
    */
  def azureBody(records: Column): Column = to_json(records)

  /** Datadog log-intake record (out_datadog `plugins/out_datadog/
    * datadog.c:221-340` datadog_format; key names datadog.h:28-35):
    * `{"timestamp":<ms>,"ddsource":…,"service":…,"hostname":…,
    * "ddtags":"k:v,…","message":…}`. The API body is a JSON array of
    * these — `array_join(collect_list(...))` in the sink batch.
    */
  def datadogEvent(timestampMs: Column, source: Column, service: Column,
                   hostname: Column, tags: Column, message: Column): Column =
    to_json(struct(timestampMs.as("timestamp"), source.as("ddsource"),
      service.as("service"), hostname.as("hostname"), tags.as("ddtags"),
      message.as("message")))

  /** Seconds-resolution ISO-8601 UTC render plus an explicit
    * fractional tail — the reference's recurring
    * `strftime("%Y-%m-%dT%H:%M:%S") + snprintf(".%0<n>d" suffix)`
    * idiom (kafka_rest kafka.c:186-195 nanos, chronicle
    * chronicle.c:1180-1188 nanos, azure_kusto azure_kusto.c:1104-1113
    * millis). `frac` is the already-scaled sub-second value (nanos or
    * millis); `digits` its zero-padded width.
    */
  def isoFracZ(ts: Column, frac: Column, digits: Int): Column = {
    val utcTs = to_utc_timestamp(ts, expr("current_timezone()"))
    concat(date_format(utcTs, "yyyy-MM-dd'T'HH:mm:ss"), lit("."),
      lpad(frac.cast("string"), digits, "0"), lit("Z"))
  }

  /** Kafka REST Proxy record (out_kafka_rest `plugins/out_kafka_rest/
    * kafka.c:131-210`): the POST body is `{"records":[{"key":…,
    * "value":{<time_key>:"<strftime>.%09<ns>Z", <tag_key>:…, …record}}]}`
    * — defaults `@timestamp`/`%Y-%m-%dT%H:%M:%S` (kafka.h:23-24), the
    * tag key included when `include_tag_key` is on. Pass each record
    * already shaped as `struct(key, value)`; a null `key` drops out of
    * the JSON like the reference's `message_key == NULL` branch.
    */
  def kafkaRestBody(records: Column): Column =
    to_json(struct(records.as("records")))

  /** PostgreSQL insert statement (out_pgsql `plugins/out_pgsql/
    * pgsql.h:39-41` FLB_PGSQL_INSERT + `pgsql.c:270-336`): the whole
    * batch travels as ONE statement — `INSERT INTO <table> SELECT
    * '<tag>', to_timestamp(CAST(value->>'<time_key>' as FLOAT)), *
    * FROM json_array_elements('<batch as a JSON array>');` with tag and
    * payload as escaped SQL literals (PQescapeLiteral doubles quotes;
    * we render the standard `''` form).
    */
  def pgsqlInsert(table: String, timestampKey: String, tag: Column,
                  jsonArray: Column): Column = {
    def lit1(c: Column): Column =
      concat(lit("'"), regexp_replace(c, "'", "''"), lit("'"))
    concat(lit(s"INSERT INTO $table SELECT "), lit1(tag),
      lit(s", to_timestamp(CAST(value->>'$timestampKey' as FLOAT)), " +
        "* FROM json_array_elements("), lit1(jsonArray), lit(");"))
  }

  /** SkyWalking OAP log record (out_skywalking `plugins/out_skywalking/
    * skywalking.c:228-276` sw_format + :154-225 sw_msgpack_pack_log_body):
    * `{"timestamp":<ms>,"service":…,"serviceInstance":…,
    * "body":{"json":{"json":"<record JSON as a string>"}}}`; the POST
    * body is a JSON array of these.
    */
  def skywalkingLog(timestampMs: Column, service: Column,
                    serviceInstance: Column, recordJson: Column): Column =
    struct(timestampMs.cast("long").as("timestamp"), service.as("service"),
      serviceInstance.as("serviceInstance"),
      struct(struct(recordJson.as("json")).as("json")).as("body"))

  /** Chronicle unstructured-log entry (out_chronicle `plugins/
    * out_chronicle/chronicle.c:1070-1190`): the body is
    * `{"customer_id":…,"log_type":…,"entries":[{"log_text":"<record
    * JSON>","ts_rfc3339":"<%Y-%m-%dT%H:%M:%S.%09dZ>"},…]}`.
    */
  def chronicleEntry(logText: Column, ts: Column, nanos: Column): Column =
    struct(logText.as("log_text"), isoFracZ(ts, nanos, 9).as("ts_rfc3339"))

  def chronicleBody(customerId: Column, logType: Column,
                    entries: Column): Column =
    to_json(struct(customerId.as("customer_id"), logType.as("log_type"),
      entries.as("entries")))

  /** Azure Data Explorer (Kusto) ingestion line (out_azure_kusto
    * `plugins/out_azure_kusto/azure_kusto.c:1085-1130`): one JSON map
    * per record — `{"timestamp":"<ISO8601.%03dZ>","tag":…,"log":
    * {record}}` with the default `timestamp`/`tag`/`log` key names
    * (azure_kusto.h:56-58); a request body is the newline-joined lines.
    */
  def kustoLine(ts: Column, millis: Column, tag: Column,
                record: Column): Column =
    to_json(struct(isoFracZ(ts, millis, 3).as("timestamp"), tag.as("tag"),
      record.as("log")))

  /** Azure Logs Ingestion API body (out_azure_logs_ingestion
    * `plugins/out_azure_logs_ingestion/azure_logs_ingestion.c:80-150`):
    * a bare JSON array of records, each led by the `@timestamp` time
    * key (azure_logs_ingestion.h:24) as ISO-8601 with milliseconds;
    * records is `array<struct<…>>` whose first field is that key.
    */
  def azureLogsIngestionBody(records: Column): Column = to_json(records)

  /** OCI Log Analytics payload (out_oracle_log_analytics `plugins/
    * out_oracle_log_analytics/oci_logan.c:735-870` pack_lre_payload):
    * `{"metadata":{…},"logEvents":[{"logSourceName":…,"logPath":…,
    * "metadata":{…},"logRecords":["<record JSON>",…]}]}` — log records
    * travel as JSON STRINGS inside the event group.
    */
  def ociLogEvent(logSourceName: Column, logPath: Column,
                  metadata: Column, logRecords: Column): Column =
    struct(logSourceName.as("logSourceName"), logPath.as("logPath"),
      metadata.as("metadata"), logRecords.as("logRecords"))

  def ociLoganBody(metadata: Column, logEvents: Column): Column =
    to_json(struct(metadata.as("metadata"), logEvents.as("logEvents")))

  /** gnuplot-ready line (out_plot `plugins/out_plot/plot.c:170-198`):
    * `dprintf("%f %<val>\n", flb_time_to_double(ts), value)` — a
    * six-decimal time column, a space, the configured key's numeric
    * value. `java.util.Formatter`'s `%f` matches C's six-decimal
    * default.
    */
  def plotLine(tsSecDouble: Column, value: Column): Column =
    concat(format_string("%f", tsSecDouble), lit(" "),
      value.cast("string"))

  /** Vivo exporter stream frame (out_vivo_exporter `plugins/
    * out_vivo_exporter/vivo.c:93-160`): `{"source_type":…,
    * "source_name":…,"tag":…,"records":[{"timestamp":<ns>,
    * "metadata":{…},…body},…]}` — the shape Vivo's HTTP buffer serves
    * back to the UI.
    */
  def vivoBody(sourceType: Column, sourceName: Column, tag: Column,
               records: Column): Column =
    to_json(struct(sourceType.as("source_type"),
      sourceName.as("source_name"), tag.as("tag"), records.as("records")))

  /** Azure Blob block id (out_azure_blob `plugins/out_azure_blob/
    * azure_blob_blockblob.c:229-300` azb_block_blob_id_blob, non-FIPS
    * path): base64 of `"<md5hex(path)>.flb-part.%06d"` — ids must share
    * one length and stay under 64 base64 bytes, so the path is hashed
    * and only the part ordinal varies.
    */
  def azureBlockId(path: Column, partId: Column): Column =
    base64(concat(md5(path), lit(".flb-part."),
      lpad(partId.cast("string"), 6, "0")).cast("binary"))

  /** Azure Blob Put Block List payload (azure_blob_blockblob.c:460-500
    * azb_block_blob_commit_file_parts): an XML doc with the blob path
    * as a comment and one `<Uncommitted>` element per block id.
    */
  def azureBlockListPayload(path: Column, blockIds: Column): Column =
    concat(lit("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n<!-- "), path,
      lit(" -->\n<BlockList>\n"),
      array_join(transform(blockIds,
        id => concat(lit("  <Uncommitted>"), id, lit("</Uncommitted>"))), "\n"),
      lit("\n</BlockList>"))
}
