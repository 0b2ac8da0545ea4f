package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parsing subsystem (SURVEY.md §2.5) — the scan-side text→structure
  * operators of the reference (`src/flb_parser.c:1784` flb_parser_do):
  * regex (onigmo named groups), json, ltsv, logfmt, plus strptime time
  * handling (`src/flb_strptime.c`) and field decoders
  * (`src/flb_parser_decoder.c:392-468`).
  *
  * Everything here compiles to built-in Catalyst expressions
  * (regexp_extract / from_json / from_csv / str_to_map /
  * map_from_arrays) — no UDFs, so parses stay inside whole-stage
  * codegen and scale linearly with partitions.
  */
object Parsers {

  // ---------------------------------------------------------------- regex

  private val NamedGroup = java.util.regex.Pattern.compile("\\(\\?<([A-Za-z][A-Za-z0-9]*)>")

  /** Group names in order of their opening parens — mirrors onigmo's
    * name table used by flb_parser_regex.c.
    */
  def groupNames(pattern: String): Seq[String] = {
    val m = NamedGroup.matcher(pattern)
    val names = scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) names += m.group(1)
    names.toSeq
  }

  /** Index of each named group among ALL capturing groups (named + bare),
    * needed because regexp_extract addresses groups positionally.
    */
  def groupIndexes(pattern: String): Map[String, Int] = {
    var idx = 0
    var i = 0
    val out = scala.collection.mutable.Map[String, Int]()
    while (i < pattern.length) {
      if (pattern(i) == '(' && (i == 0 || pattern(i - 1) != '\\')) {
        val isNonCapturing = i + 2 < pattern.length && pattern(i + 1) == '?' &&
          pattern(i + 2) != '<'
        val isLookbehind = i + 3 < pattern.length && pattern(i + 1) == '?' &&
          pattern(i + 2) == '<' && (pattern(i + 3) == '=' || pattern(i + 3) == '!')
        if (!isNonCapturing && !isLookbehind) {
          idx += 1
          val m = NamedGroup.matcher(pattern.substring(i))
          if (m.lookingAt()) out(m.group(1)) = idx
        }
      }
      i += 1
    }
    out.toMap
  }

  /** Parse `source` with a named-group regex: one output column per named
    * group (types applied via `types`, like the parser's `types` option).
    * Non-matching records yield NULLs — pair with `reserve_data` handling
    * in the caller (filter_parser semantics, filter_parser.c:174).
    */
  def regex(df: DataFrame, source: Column, pattern: String,
            types: Map[String, String] = Map.empty): DataFrame = {
    val matched = "__parsed"
    regexColumns(col(matched), pattern, types)
      .foldLeft(matchOnce(df, source, pattern, matched)) {
        case (d, (name, v)) => d.withColumn(name, v)
      }.drop(matched)
  }

  /** One match of `pattern` against `source`: each named group's text,
    * in group order, or NULL when the pattern does not match. The text is
    * matched once, however many groups the pattern names.
    */
  def regexMatch(source: Column, pattern: String): Column = {
    val idx = groupIndexes(pattern)
    graft.functions.TextFunctions.regexGroups(source, pattern, groupNames(pattern).map(idx))
  }

  /** `df` plus `as`, the [[regexMatch]] of `source` on the records `gate`
    * holds for (NULL on the others), computed once a record. The match
    * sits under a one-element `explode`, which predicate pushdown cannot
    * inline through: a filter on a parsed field stays above it instead
    * of re-running the match once per reference (`FilterExec` has no
    * subexpression elimination).
    */
  def matchOnce(df: DataFrame, source: Column, pattern: String, as: String,
                gate: Column = lit(true)): DataFrame =
    df.withColumn(as, explode(array(when(gate, regexMatch(source, pattern)))))

  /** The named groups of `matched`, a [[regexMatch]] of `pattern`, as
    * (name, value) expressions in group order; NULL where it is NULL.
    */
  def regexColumns(matched: Column, pattern: String,
                   types: Map[String, String] = Map.empty): Seq[(String, Column)] =
    groupNames(pattern).zipWithIndex.map { case (name, i) =>
      val raw = matched.getItem(i)
      name -> types.get(name).map(t => raw.try_cast(t)).getOrElse(raw)
    }

  // ----------------------------------------------------------- json / csv

  /** JSON parser (`src/flb_parser_json.c`): body becomes typed columns via
    * an explicit schema (Spark needs one; schema inference is a separate
    * sampling pass at scale).
    */
  def json(df: DataFrame, source: Column, schema: String, outCol: String): DataFrame =
    df.withColumn(outCol, from_json(source, org.apache.spark.sql.types.StructType.fromDDL(schema)))

  /** CSV helper (`src/flb_csv.c`) via Spark's from_csv. */
  def csv(df: DataFrame, source: Column, schema: String, outCol: String): DataFrame =
    df.withColumn(outCol, from_csv(source, org.apache.spark.sql.types.StructType.fromDDL(schema),
      Map.empty[String, String]))

  // --------------------------------------------------------- ltsv / logfmt

  /** LTSV (`src/flb_parser_ltsv.c`): tab-separated `key:value` pairs. */
  def ltsv(df: DataFrame, source: Column, outCol: String): DataFrame =
    df.withColumn(outCol, str_to_map(source, lit("\t"), lit(":")))

  /** logfmt (`src/flb_parser_logfmt.c`): space-separated `key=value` with
    * optionally double-quoted values. Two aligned regexp_extract_all
    * passes (keys, values) zipped into a map — no UDF.
    */
  def logfmt(df: DataFrame, source: Column, outCol: String): DataFrame = {
    val pair = "([A-Za-z0-9_.]+)=(\"[^\"]*\"|[^\\s\"]*)"
    val keys = regexp_extract_all(source, lit(pair), lit(1))
    val vals = transform(
      regexp_extract_all(source, lit(pair), lit(2)),
      v => regexp_replace(v, "^\"|\"$", ""))
    df.withColumn(outCol, map_from_arrays(keys, vals))
  }

  // ------------------------------------------------------------- strptime

  /** strptime → java.time.DateTimeFormatter pattern translation
    * (reference formats flow through flb_parser_time_lookup,
    * flb_parser.c:1899; `%L` fractional extension).
    */
  def strptimeToJava(fmt: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < fmt.length) {
      if (fmt(i) == '%' && i + 1 < fmt.length) {
        fmt(i + 1) match {
          case 'Y' => sb.append("yyyy")
          case 'y' => sb.append("yy")
          case 'm' => sb.append("MM")
          case 'd' => sb.append("dd")
          case 'H' => sb.append("HH")
          case 'M' => sb.append("mm")
          case 'S' => sb.append("ss")
          case 'b' | 'h' => sb.append("MMM")
          case 'B' => sb.append("MMMM")
          case 'a' => sb.append("EEE")
          case 'A' => sb.append("EEEE")
          case 'e' => sb.append("d")
          case 'j' => sb.append("DDD")
          case 'z' => sb.append("XX")
          case 'Z' => sb.append("zz")
          case 'L' => sb.append("SSS")
          case 'f' => sb.append("SSSSSS")
          case 's' => throw new IllegalArgumentException("%s: use unix_timestamp directly")
          case '%' => sb.append("%")
          case c => throw new IllegalArgumentException(s"unsupported strptime %$c")
        }
        i += 2
      } else {
        if ("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ".indexOf(fmt(i)) >= 0)
          sb.append("'").append(fmt(i)).append("'")
        else sb.append(fmt(i))
        i += 1
      }
    }
    sb.toString
  }

  /** Parse a time string with a strptime format (time_key handling of
    * flb_parser.h:46-54).
    */
  def parseTime(source: Column, strptimeFmt: String): Column =
    to_timestamp(source, strptimeToJava(strptimeFmt))

  // ------------------------------------------------------------- decoders

  /** `escaped` decoder (`src/flb_parser_decoder.c`): unescape \n \t \r \"
    * \\ sequences left by docker-style stringified logs.
    */
  def decodeEscaped(source: Column): Column = {
    val n = regexp_replace(source, "\\\\n", "\n")
    val t = regexp_replace(n, "\\\\t", "\t")
    val r = regexp_replace(t, "\\\\r", "\r")
    val q = regexp_replace(r, "\\\\\"", "\"")
    regexp_replace(q, "\\\\\\\\", "\\\\")
  }

  /** `escaped_utf8` decoder (flb_parser_decoder.c:392-468 →
    * flb_unescape_string_utf8): full escape grammar incl. \uXXXX with
    * surrogate pairs — a codegen'd single-pass expression.
    */
  def decodeEscapedUtf8(source: Column): Column =
    graft.functions.TextFunctions.unescapeUtf8(source)

  /** `mysql_quoted` decoder (flb_parser_decoder.c:114): strip matching
    * surrounding quotes, unescape MySQL sequences.
    */
  def decodeMysqlQuoted(source: Column): Column =
    graft.functions.TextFunctions.mysqlUnquote(source)

  /** Decoder chain — the `decode_field_as <backend> <field> do_next`
    * rule list (flb_parser_decoder.c:677-690): each `as` step replaces
    * the field value in place and `do_next` hands the result to the next
    * rule, i.e. left-to-right composition.
    */
  def decodeChain(source: Column, decoders: Seq[Column => Column]): Column =
    decoders.foldLeft(source)((c, d) => d(c))

  // --------------------------------------------------------------- statsd

  /** strtod/atof semantics as a column: longest leading float prefix,
    * empty or non-numeric ⇒ 0.0 (what `strtod(m->value, NULL)` yields in
    * statsd.c:103/117/130).
    */
  private def strtod(c: Column): Column = {
    val FloatPrefix = "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?"
    coalesce(nullif(regexp_extract(c, FloatPrefix, 0), lit("")).try_cast("double"),
      lit(0.0))
  }

  /** statsd line parser (`plugins/in_statsd/statsd.c:155-202`
    * statsd_process_line): `bucket:value|type[|@sample_rate]`. Bucket is
    * everything before the first ':', value up to the first '|', the type
    * from the first byte(s) after it (get_statsd_type, statsd.c:59-74:
    * g→gauge, s→set, c→counter, ms→timer, anything else counter). Fields
    * per type mirror statsd_process_message (statsd.c:80-146): counters
    * and timers carry a double value and the sample rate (`|@` absent or
    * `|@0` ⇒ 1.0, statsd.c:193-200); gauges carry the double value plus
    * `incremental` (value prefixed +/-, is_incremental statsd.c:76-79);
    * sets keep the raw string value. (statsd.c's timer case is missing a
    * `break` and falls through into the set case, double-appending set
    * fields — we implement the evident intent, not the artifact.)
    * Lines without ':' or '|' parse to all-NULL fields (the reference
    * logs and drops them, statsd.c:164-181).
    */
  def statsd(df: DataFrame, source: Column): DataFrame = {
    val pat = "^([^:]*):([^|]*)\\|(.*)$"
    val matched = source.rlike(pat)
    val rawVal = regexp_extract(source, pat, 2)
    val rest = regexp_extract(source, pat, 3) // "type" or "type|@rate..."
    val mtype = when(rest.startsWith("g"), "gauge")
      .when(rest.startsWith("s"), "set")
      .when(rest.startsWith("ms"), "timer")
      .otherwise("counter")
    val rateRaw = strtod(regexp_extract(rest, "\\|@([^|]*)", 1))
    val sampleRate = when(rateRaw === 0.0, 1.0).otherwise(rateRaw)
    // one select, not a withColumn chain: every output references the
    // ORIGINAL source expression, so a raw input column named "value"
    // (the push sources' line column) is safely replaced, not read back
    val outNames = Set("bucket", "mtype", "value", "sample_rate",
      "incremental", "set_value")
    val keep = df.columns.filterNot(outNames).map(col)
    df.select(keep ++ Seq(
      when(matched, regexp_extract(source, pat, 1)).as("bucket"),
      when(matched, mtype).as("mtype"),
      when(matched && mtype =!= "set", strtod(rawVal)).as("value"),
      when(matched && (mtype === "counter" || mtype === "timer"), sampleRate)
        .as("sample_rate"),
      when(matched && mtype === "gauge",
        (rawVal.startsWith("+") || rawVal.startsWith("-")).cast("long"))
        .as("incremental"),
      when(matched && mtype === "set", rawVal).as("set_value")): _*)
  }

  // ----------------------------------------------- elasticsearch bulk

  /** Elasticsearch Bulk-API ingest — the decode side of the reference's
    * `plugins/in_elasticsearch` (`in_elasticsearch_bulk_prot.c:137-340`
    * process_ndjson_payload): NDJSON lines alternate action and document;
    * `delete` actions stand alone (the idx+=1 adjustment at :228), and
    * only `index`/`create` documents become records — `update` and
    * `delete` produce bulk statuses but no ingested event (error_op
    * gating at :190-246). Each record carries the action map under the
    * `@meta` key (meta_key default, in_elasticsearch.c:195) next to the
    * document fields.
    *
    * The per-request line pairing is inherently sequential (what the
    * reference's msgpack_unpack_next loop does), so it runs as the
    * single-pass [[graft.functions.EsBulkScan]] codegen expression over
    * the request body — requests themselves stay embarrassingly
    * parallel, which is the axis that matters at scale (one POST body is
    * one task's worth of work by construction).
    *
    * Output: one row per ingested record with `write_op`, `meta` (the
    * raw action-line JSON) and `doc` (the raw document-line JSON);
    * callers project typed fields with from_json/get_json_object.
    * Divergence: an unknown action makes the reference abort the whole
    * request with a 400 status (:233-246); we skip the line and keep
    * decoding.
    */
  def esBulk(df: DataFrame, body: Column): DataFrame = {
    val keep = df.columns.map(col)
    val recs = graft.functions.TextFunctions.esBulkScan(body)
    df.select(keep :+ explode(recs).as("__rec"): _*)
      .select(keep ++ Seq(col("__rec.write_op").as("write_op"),
        col("__rec.meta").as("meta"), col("__rec.doc").as("doc")): _*)
  }

  // ------------------------------------------------------- WARC / WET

  /** WARC/WET segment ingest (ISO 28500): one row per record in each
    * binary blob, via the single-pass [[graft.functions.WarcScan]]
    * codegen scanner. Blobs stay embarrassingly parallel — a Common
    * Crawl dump is ~64k segment files, each one task's worth of work —
    * and the scanner resynchronizes past corrupt records instead of
    * dropping the segment.
    */
  def warc(df: DataFrame, blob: Column): DataFrame = {
    val keep = df.columns.map(col)
    val recs = graft.functions.WarcFunctions.warcScan(blob)
    df.select(keep :+ explode(recs).as("__rec"): _*)
      .select(keep ++ Seq(col("__rec.warc_type").as("warc_type"),
        col("__rec.target_uri").as("target_uri"),
        col("__rec.warc_date").as("warc_date"),
        col("__rec.content_length").as("content_length"),
        col("__rec.payload").as("payload")): _*)
  }

  // ------------------------------------------------------- splunk HEC

  /** Splunk HEC `/services/collector/event` ingest — the decode side of
    * the reference's `plugins/in_splunk` (`splunk_prot.c:347-433`
    * process_json_payload_pack): the POST body is one JSON event map, a
    * stream of concatenated maps, or an array of maps; every map becomes
    * one record whose body is the map kept VERBATIM — the reference does
    * not lift `time`/`event`/`fields` out (process_flb_log_append,
    * splunk_prot.c:269-293 copies the map entries as-is and stamps
    * arrival time). Output: pass-through columns + `record` (the raw
    * event JSON string); callers project with from_json.
    */
  def splunkHecEvents(df: DataFrame, body: Column): DataFrame = {
    val keep = df.columns.map(col)
    df.select(keep :+ explode(
      graft.functions.TextFunctions.splitJsonValues(body)).as("record"): _*)
  }

  /** Splunk HEC `/services/collector/raw` ingest (splunk_prot.c:154-230
    * process_raw_payload_pack): the ENTIRE POST body becomes one
    * `{log: <buffer>}` record — the reference performs no line split on
    * this endpoint (line-breaking is the Splunk indexer's job, not the
    * collector's).
    */
  def splunkHecRaw(df: DataFrame, body: Column): DataFrame = {
    val keep = df.columns.map(col)
    df.select(keep :+ body.as("log"): _*)
  }

  // ------------------------------------------------- prometheus scrape

  /** One Prometheus text-exposition sample line:
    * `name{k1="v1",...} value [timestamp_ms]` (the inverse of
    * [[graft.sinks.Formats.promLine]]).
    */
  val PromLinePattern: String =
    "^([a-zA-Z_:][a-zA-Z0-9_:]*)(?:\\{(.*)\\})? ([^ ]+)(?: ([0-9]+))?\\s*$"

  /** Prometheus scrape-body parser — the ingest side of the reference's
    * `plugins/in_prometheus_scrape/prom_scrape.c` (cmetrics text
    * decoder): each exposition line becomes (name, labels
    * map, value, ts_ms). `# HELP`/`# TYPE`/blank lines parse to a NULL
    * name — filter with `name IS NOT NULL`. Label values unescape
    * through the codegen'd single-pass [[graft.functions.UnescapeUtf8]]
    * (the exposition format escapes \\ \" \n).
    */
  def promText(df: DataFrame, source: Column): DataFrame = {
    val kv = "([a-zA-Z_][a-zA-Z0-9_]*)=\"((?:[^\"\\\\]|\\\\.)*)\""
    val matched = source.rlike(PromLinePattern) && !source.startsWith("#")
    val blob = regexp_extract(source, PromLinePattern, 2)
    val keys = regexp_extract_all(blob, lit(kv), lit(1))
    val vals = transform(regexp_extract_all(blob, lit(kv), lit(2)),
      v => graft.functions.TextFunctions.unescapeUtf8(v))
    df
      .withColumn("name", when(matched, regexp_extract(source, PromLinePattern, 1)))
      .withColumn("labels", when(matched, map_from_arrays(keys, vals)))
      .withColumn("value",
        when(matched, regexp_extract(source, PromLinePattern, 3).try_cast("double")))
      .withColumn("ts_ms", when(matched,
        nullif(regexp_extract(source, PromLinePattern, 4), lit("")).try_cast("long")))
  }
}
