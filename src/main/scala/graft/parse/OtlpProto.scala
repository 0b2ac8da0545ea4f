package graft.parse

import org.apache.spark.sql.{Column, DataFrame}

import Proto.{Reader, Writer}
import graft.sources.{Msgpack, Zstd}

/** OTLP/HTTP **binary protobuf** ingest — the wire format every standard
  * otel-collector/SDK exporter sends by default. The reference accepts
  * `application/protobuf` / `application/x-protobuf` / gRPC framing next
  * to proto3-JSON (`plugins/in_opentelemetry/opentelemetry_utils.c:
  * 122-155`) and gzip Content-Encoding (`opentelemetry_prot.c:964-965`
  * → `uncompress_gzip`, :144-160).
  *
  * Strategy: decode the binary `Export{Logs,Metrics,Trace}ServiceRequest`
  * into the **proto3-JSON** shape of [[Otlp.LogsSchema]] /
  * [[Otlp.MetricsSchema]] / [[Otlp.TracesSchema]], then flatten through
  * the one existing decode path — both wire formats land in byte-exact
  * identical rows, so the JSON-path oracles gate this decoder too. Field
  * numbers follow the public opentelemetry-proto definitions (vendored
  * by the reference at `lib/fluent-otel-proto/proto_c/opentelemetry/
  * proto/…`, e.g. logs.pb-c.c LogRecord: time=1 fixed64, severity=2/3,
  * body=5, attributes=6, flags=8 fixed32, trace/span id=9/10 bytes,
  * observed=11 fixed64, event_name=12).
  *
  * All reads go through the bounds-checked [[Proto.Reader]] — this sits
  * behind a listening HTTP source, so hostile lengths must never escape
  * a body slice. Unknown fields are skipped by wire type, as protobuf
  * requires (exponential histograms and exemplars fall out naturally —
  * the reference rejects/ignores those too).
  */
object OtlpProto {

  // ------------------------------------------------------------- json out
  /** Append-only JSON writer with comma tracking — emits the exact
    * proto3-JSON field names [[Otlp]]'s DDL schemas expect.
    */
  private final class J(sb: java.lang.StringBuilder) {
    private var needComma = false
    private def pre(): Unit = { if (needComma) sb.append(','); needComma = true }
    def beginObj(): Unit = { pre(); sb.append('{'); needComma = false }
    def beginObj(name: String): Unit = { key(name); sb.append('{'); needComma = false }
    def endObj(): Unit = { sb.append('}'); needComma = true }
    def beginArr(name: String): Unit = { key(name); sb.append('['); needComma = false }
    def endArr(): Unit = { sb.append(']'); needComma = true }
    private def key(name: String): Unit = {
      pre(); sb.append('"').append(name).append("\":"); needComma = false
    }
    def str(name: String, v: String): Unit = { key(name); strVal(v); needComma = true }
    def num(name: String, v: Long): Unit = { key(name); sb.append(v); needComma = true }
    def dbl(name: String, v: Double): Unit = {
      key(name)
      // JSON has no NaN/Inf literals; proto3-JSON maps them to strings,
      // but our DDL reads doubles — drop to null (absent) instead
      if (java.lang.Double.isFinite(v)) sb.append(v) else sb.append("null")
      needComma = true
    }
    def bool(name: String, v: Boolean): Unit = { key(name); sb.append(v); needComma = true }
    /** uint64 renders as a JSON string per proto3-JSON. */
    def numStr(name: String, v: Long): Unit =
      str(name, java.lang.Long.toUnsignedString(v))
    /** bare array elements (inside beginArr/endArr) */
    def arrStr(v: String): Unit = { pre(); strVal(v) }
    def arrDbl(v: Double): Unit = {
      pre(); if (java.lang.Double.isFinite(v)) sb.append(v) else sb.append("null")
    }
    private def strVal(v: String): Unit = {
      sb.append('"')
      var i = 0
      while (i < v.length) {
        val c = v.charAt(i)
        c match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c0 if c0 < 0x20 => sb.append(f"\\u${c0.toInt}%04x")
          case c0 => sb.append(c0)
        }
        i += 1
      }
      sb.append('"')
    }
  }

  private def hex(b: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(b.length * 2)
    var i = 0
    while (i < b.length) { sb.append(f"${b(i) & 0xff}%02x"); i += 1 }
    sb.toString
  }

  // --------------------------------------------------------- common parts
  /** AnyValue (common.proto: string=1, bool=2, int=3, double=4) — the
    * scalar subset [[Otlp]]'s `AnyValueDdl` reads; array/kvlist/bytes
    * branches are skipped like unknown fields.
    */
  private def anyValue(r: Reader, j: J, name: String): Unit = {
    j.beginObj(name)
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => j.str("stringValue", r.strField())
        case (2, 0) => j.bool("boolValue", r.varint() != 0L)
        case (3, 0) => j.str("intValue", r.varint().toString)
        case (4, 1) => j.dbl("doubleValue", r.double())
        case (_, w) => r.skip(w)
      }
    }
    j.endObj()
  }

  /** repeated KeyValue (key=1, value=2) — caller opens/closes the array
    * so repeated fields interleave correctly.
    */
  private def keyValue(r: Reader, j: J): Unit = {
    j.beginObj()
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => j.str("key", r.strField())
        case (2, 2) => anyValue(r.lenSlice(), j, "value")
        case (_, w) => r.skip(w)
      }
    }
    j.endObj()
  }

  /** Emit a KeyValue array only when non-empty — an ABSENT repeated
    * field must stay absent in JSON so `kvToMap(null)` keeps the
    * reference's "omit empty attribute maps" semantics (the proto3-JSON
    * path omits the key the same way).
    */
  private def kvArr(j: J, name: String, kvs: Seq[Reader]): Unit =
    if (kvs.nonEmpty) {
      j.beginArr(name); kvs.foreach(keyValue(_, j)); j.endArr()
    }

  /** Resource { attributes = 1 } */
  private def resource(r: Reader, j: J): Unit = {
    j.beginObj("resource")
    val kvs = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => kvs += r.lenSlice()
        case (_, w) => r.skip(w)
      }
    }
    kvArr(j, "attributes", kvs.toSeq)
    j.endObj()
  }

  /** InstrumentationScope { name = 1, version = 2 } */
  private def scope(r: Reader, j: J): Unit = {
    j.beginObj("scope")
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => j.str("name", r.strField())
        case (2, 2) => j.str("version", r.strField())
        case (_, w) => r.skip(w)
      }
    }
    j.endObj()
  }

  // ----------------------------------------------------------------- logs
  /** ExportLogsServiceRequest bytes → the proto3-JSON body
    * [[Otlp.decodeLogs]] flattens. Throws on malformed input (the
    * reference answers 400, opentelemetry_prot.c).
    */
  def logsToJson(raw: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(raw.length * 2 + 64)
    val j = new J(sb)
    j.beginObj()
    j.beginArr("resourceLogs")
    val r = new Reader(raw)
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => resourceLogs(r.lenSlice(), j)
        case (_, w) => r.skip(w)
      }
    }
    j.endArr()
    j.endObj()
    sb.toString
  }

  private def resourceLogs(r: Reader, j: J): Unit = {
    j.beginObj()
    // protobuf repeated fields may interleave with others; buffer the
    // scope_logs slices so the resource (field 1) can emit first
    val scopes = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => resource(r.lenSlice(), j)
        case (2, 2) => scopes += r.lenSlice()
        case (_, w) => r.skip(w)
      }
    }
    j.beginArr("scopeLogs")
    scopes.foreach { sl => scopeLogs(sl, j) }
    j.endArr()
    j.endObj()
  }

  private def scopeLogs(r: Reader, j: J): Unit = {
    j.beginObj()
    val records = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => scope(r.lenSlice(), j)
        case (2, 2) => records += r.lenSlice()
        case (_, w) => r.skip(w)
      }
    }
    j.beginArr("logRecords")
    records.foreach(lr => logRecord(lr, j))
    j.endArr()
    j.endObj()
  }

  private def logRecord(r: Reader, j: J): Unit = {
    j.beginObj()
    var timeNano = 0L; var obsNano = 0L; var sev = 0L; var sevText: String = null
    var flags = 0; var traceId: Array[Byte] = null; var spanId: Array[Byte] = null
    var eventName: String = null; var body: Reader = null
    val kvs = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 1) => timeNano = r.fixed64()
        case (2, 0) => sev = r.varint()
        case (3, 2) => sevText = r.strField()
        case (5, 2) => body = r.lenSlice()
        case (6, 2) => kvs += r.lenSlice()
        case (8, 5) => flags = r.fixed32()
        case (9, 2) => traceId = r.bytesField()
        case (10, 2) => spanId = r.bytesField()
        case (11, 1) => obsNano = r.fixed64()
        case (12, 2) => eventName = r.strField()
        case (_, w) => r.skip(w)
      }
    }
    kvArr(j, "attributes", kvs.toSeq)
    // proto3 scalar default (0 / empty) means ABSENT in JSON — matching
    // the reference's "timeUnixNano > 0" effective-time rule
    if (timeNano != 0L) j.numStr("timeUnixNano", timeNano)
    if (obsNano != 0L) j.numStr("observedTimeUnixNano", obsNano)
    if (sev != 0L) j.num("severityNumber", sev)
    if (sevText != null) j.str("severityText", sevText)
    if (body != null) anyValue(body, j, "body")
    if (flags != 0) j.num("flags", flags.toLong & 0xffffffffL)
    if (traceId != null && traceId.nonEmpty) j.str("traceId", hex(traceId))
    if (spanId != null && spanId.nonEmpty) j.str("spanId", hex(spanId))
    if (eventName != null) j.str("eventName", eventName)
    j.endObj()
  }

  // -------------------------------------------------------------- metrics
  /** ExportMetricsServiceRequest bytes → the proto3-JSON body
    * [[Otlp.decodeMetrics]] flattens.
    */
  def metricsToJson(raw: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(raw.length * 2 + 64)
    val j = new J(sb)
    j.beginObj()
    j.beginArr("resourceMetrics")
    val r = new Reader(raw)
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) =>
          envelope(r.lenSlice(), j, "scopeMetrics", "metrics", metric)
        case (_, w) => r.skip(w)
      }
    }
    j.endArr()
    j.endObj()
    sb.toString
  }

  /** Shared Resource{Metrics,Spans} envelope: resource=1, scope list=2;
    * inner scope envelope: scope=1, item list=2.
    */
  private def envelope(r: Reader, j: J, scopesName: String,
                       itemsName: String, item: (Reader, J) => Unit): Unit = {
    j.beginObj()
    val scopes = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => resource(r.lenSlice(), j)
        case (2, 2) => scopes += r.lenSlice()
        case (_, w) => r.skip(w)
      }
    }
    j.beginArr(scopesName)
    scopes.foreach { sr =>
      j.beginObj()
      val items = scala.collection.mutable.ArrayBuffer.empty[Reader]
      while (sr.hasMore) {
        val k = sr.varint()
        ((k >> 3).toInt, (k & 7).toInt) match {
          case (1, 2) => scope(sr.lenSlice(), j)
          case (2, 2) => items += sr.lenSlice()
          case (_, w) => sr.skip(w)
        }
      }
      j.beginArr(itemsName)
      items.foreach(ir => item(ir, j))
      j.endArr()
      j.endObj()
    }
    j.endArr()
    j.endObj()
  }

  /** Metric: name=1, description=2, unit=3, gauge=5, sum=7, histogram=9,
    * summary=11 (exponential_histogram=10 skipped — the reference
    * rejects it too, flb_opentelemetry_metrics.c:3384).
    */
  private def metric(r: Reader, j: J): Unit = {
    j.beginObj()
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => j.str("name", r.strField())
        case (2, 2) => j.str("description", r.strField())
        case (3, 2) => j.str("unit", r.strField())
        case (5, 2) =>
          j.beginObj("gauge"); dataPoints(r.lenSlice(), j, numberDp); j.endObj()
        case (7, 2) =>
          j.beginObj("sum")
          val sr = r.lenSlice()
          val dps = scala.collection.mutable.ArrayBuffer.empty[Reader]
          while (sr.hasMore) {
            val sk = sr.varint()
            ((sk >> 3).toInt, (sk & 7).toInt) match {
              case (1, 2) => dps += sr.lenSlice()
              case (2, 0) => j.num("aggregationTemporality", sr.varint())
              case (3, 0) => j.bool("isMonotonic", sr.varint() != 0L)
              case (_, w) => sr.skip(w)
            }
          }
          j.beginArr("dataPoints"); dps.foreach(numberDp(_, j)); j.endArr()
          j.endObj()
        case (9, 2) =>
          j.beginObj("histogram")
          val hr = r.lenSlice()
          val dps = scala.collection.mutable.ArrayBuffer.empty[Reader]
          while (hr.hasMore) {
            val hk = hr.varint()
            ((hk >> 3).toInt, (hk & 7).toInt) match {
              case (1, 2) => dps += hr.lenSlice()
              case (2, 0) => j.num("aggregationTemporality", hr.varint())
              case (_, w) => hr.skip(w)
            }
          }
          j.beginArr("dataPoints"); dps.foreach(histDp(_, j)); j.endArr()
          j.endObj()
        case (11, 2) =>
          j.beginObj("summary"); dataPoints(r.lenSlice(), j, summDp); j.endObj()
        case (_, w) => r.skip(w)
      }
    }
    j.endObj()
  }

  /** Gauge/Summary wrapper: data_points = 1. */
  private def dataPoints(r: Reader, j: J, dp: (Reader, J) => Unit): Unit = {
    j.beginArr("dataPoints")
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => dp(r.lenSlice(), j)
        case (_, w) => r.skip(w)
      }
    }
    j.endArr()
  }

  /** NumberDataPoint: start=2, time=3, as_double=4, as_int=6 sfixed64,
    * attributes=7.
    */
  private def numberDp(r: Reader, j: J): Unit = {
    j.beginObj()
    var start = 0L; var time = 0L
    var asDouble = Double.NaN; var hasDouble = false
    var asInt = 0L; var hasInt = false
    val kvs = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (2, 1) => start = r.fixed64()
        case (3, 1) => time = r.fixed64()
        case (4, 1) => asDouble = r.double(); hasDouble = true
        case (6, 1) => asInt = r.fixed64(); hasInt = true
        case (7, 2) => kvs += r.lenSlice()
        case (_, w) => r.skip(w)
      }
    }
    kvArr(j, "attributes", kvs.toSeq)
    if (start != 0L) j.numStr("startTimeUnixNano", start)
    if (time != 0L) j.numStr("timeUnixNano", time)
    if (hasDouble) j.dbl("asDouble", asDouble)
    if (hasInt) j.str("asInt", asInt.toString)
    j.endObj()
  }

  /** HistogramDataPoint: start=2, time=3, count=4 fixed64, sum=5 double,
    * bucket_counts=6 (packed fixed64), explicit_bounds=7 (packed
    * double), attributes=9, min=11, max=12. Packed AND unpacked repeated
    * encodings are both accepted, as protobuf requires.
    */
  private def histDp(r: Reader, j: J): Unit = {
    j.beginObj()
    var start = 0L; var time = 0L; var count = 0L
    var sum = Double.NaN; var hasSum = false
    var min = Double.NaN; var hasMin = false
    var max = Double.NaN; var hasMax = false
    val buckets = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bounds = scala.collection.mutable.ArrayBuffer.empty[Double]
    val kvs = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (2, 1) => start = r.fixed64()
        case (3, 1) => time = r.fixed64()
        case (4, 1) => count = r.fixed64()
        case (5, 1) => sum = r.double(); hasSum = true
        case (6, 2) => val pr = r.lenSlice(); while (pr.hasMore) buckets += pr.fixed64()
        case (6, 1) => buckets += r.fixed64()
        case (7, 2) => val pr = r.lenSlice(); while (pr.hasMore) bounds += pr.double()
        case (7, 1) => bounds += r.double()
        case (9, 2) => kvs += r.lenSlice()
        case (11, 1) => min = r.double(); hasMin = true
        case (12, 1) => max = r.double(); hasMax = true
        case (_, w) => r.skip(w)
      }
    }
    kvArr(j, "attributes", kvs.toSeq)
    if (start != 0L) j.numStr("startTimeUnixNano", start)
    if (time != 0L) j.numStr("timeUnixNano", time)
    j.str("count", java.lang.Long.toUnsignedString(count))
    if (hasSum) j.dbl("sum", sum)
    if (buckets.nonEmpty) {
      j.beginArr("bucketCounts")
      buckets.foreach(b => j.arrStr(java.lang.Long.toUnsignedString(b)))
      j.endArr()
    }
    if (bounds.nonEmpty) {
      j.beginArr("explicitBounds")
      bounds.foreach(j.arrDbl)
      j.endArr()
    }
    if (hasMin) j.dbl("min", min)
    if (hasMax) j.dbl("max", max)
    j.endObj()
  }

  /** SummaryDataPoint: start=2, time=3, count=4 fixed64, sum=5 double,
    * quantile_values=6 { quantile=1, value=2 }, attributes=7.
    */
  private def summDp(r: Reader, j: J): Unit = {
    j.beginObj()
    var start = 0L; var time = 0L; var count = 0L
    var sum = Double.NaN; var hasSum = false
    val qs = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val kvs = scala.collection.mutable.ArrayBuffer.empty[Reader]
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (2, 1) => start = r.fixed64()
        case (3, 1) => time = r.fixed64()
        case (4, 1) => count = r.fixed64()
        case (5, 1) => sum = r.double(); hasSum = true
        case (6, 2) =>
          val qr = r.lenSlice()
          var q = 0.0; var v = 0.0
          while (qr.hasMore) {
            val qk = qr.varint()
            ((qk >> 3).toInt, (qk & 7).toInt) match {
              case (1, 1) => q = qr.double()
              case (2, 1) => v = qr.double()
              case (_, w) => qr.skip(w)
            }
          }
          qs += ((q, v))
        case (7, 2) => kvs += r.lenSlice()
        case (_, w) => r.skip(w)
      }
    }
    kvArr(j, "attributes", kvs.toSeq)
    if (start != 0L) j.numStr("startTimeUnixNano", start)
    if (time != 0L) j.numStr("timeUnixNano", time)
    j.str("count", java.lang.Long.toUnsignedString(count))
    if (hasSum) j.dbl("sum", sum)
    if (qs.nonEmpty) {
      j.beginArr("quantileValues")
      qs.foreach { case (q, v) =>
        j.beginObj(); j.dbl("quantile", q); j.dbl("value", v); j.endObj()
      }
      j.endArr()
    }
    j.endObj()
  }

  // --------------------------------------------------------------- traces
  /** ExportTraceServiceRequest bytes → the proto3-JSON body
    * [[Otlp.decodeTraces]] flattens.
    */
  def tracesToJson(raw: Array[Byte]): String = {
    val sb = new java.lang.StringBuilder(raw.length * 2 + 64)
    val j = new J(sb)
    j.beginObj()
    j.beginArr("resourceSpans")
    val r = new Reader(raw)
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => envelope(r.lenSlice(), j, "scopeSpans", "spans", span)
        case (_, w) => r.skip(w)
      }
    }
    j.endArr()
    j.endObj()
    sb.toString
  }

  /** Span (trace.proto): ids 1/2/4 bytes, trace_state=3, name=5, kind=6,
    * start/end=7/8 fixed64, attributes=9, events=11, links=13,
    * status=15 {message=2, code=3}.
    */
  private def span(r: Reader, j: J): Unit = {
    j.beginObj()
    var traceId: Array[Byte] = null; var spanId: Array[Byte] = null
    var parent: Array[Byte] = null; var state: String = null
    var name: String = null; var kind = 0L; var start = 0L; var end = 0L
    var statusMsg: String = null; var statusCode = 0L; var hasStatus = false
    val events = scala.collection.mutable.ArrayBuffer.empty[Reader]
    val kvs = scala.collection.mutable.ArrayBuffer.empty[Reader]
    var linkCount = 0
    while (r.hasMore) {
      val k = r.varint()
      ((k >> 3).toInt, (k & 7).toInt) match {
        case (1, 2) => traceId = r.bytesField()
        case (2, 2) => spanId = r.bytesField()
        case (3, 2) => state = r.strField()
        case (4, 2) => parent = r.bytesField()
        case (5, 2) => name = r.strField()
        case (6, 0) => kind = r.varint()
        case (7, 1) => start = r.fixed64()
        case (8, 1) => end = r.fixed64()
        case (9, 2) => kvs += r.lenSlice()
        case (11, 2) => events += r.lenSlice()
        case (13, 2) => r.skip(2); linkCount += 1 // counted; content unused
        case (15, 2) =>
          hasStatus = true
          val sr = r.lenSlice()
          while (sr.hasMore) {
            val sk = sr.varint()
            ((sk >> 3).toInt, (sk & 7).toInt) match {
              case (2, 2) => statusMsg = sr.strField()
              case (3, 0) => statusCode = sr.varint()
              case (_, w) => sr.skip(w)
            }
          }
        case (_, w) => r.skip(w)
      }
    }
    kvArr(j, "attributes", kvs.toSeq)
    if (traceId != null && traceId.nonEmpty) j.str("traceId", hex(traceId))
    if (spanId != null && spanId.nonEmpty) j.str("spanId", hex(spanId))
    if (state != null) j.str("traceState", state)
    if (parent != null && parent.nonEmpty) j.str("parentSpanId", hex(parent))
    if (name != null) j.str("name", name)
    if (kind != 0L) j.num("kind", kind)
    if (start != 0L) j.numStr("startTimeUnixNano", start)
    if (end != 0L) j.numStr("endTimeUnixNano", end)
    if (events.nonEmpty) {
      j.beginArr("events")
      events.foreach { er =>
        j.beginObj()
        var t = 0L; var ename: String = null
        val ekvs = scala.collection.mutable.ArrayBuffer.empty[Reader]
        while (er.hasMore) {
          val ek = er.varint()
          ((ek >> 3).toInt, (ek & 7).toInt) match {
            case (1, 1) => t = er.fixed64()
            case (2, 2) => ename = er.strField()
            case (3, 2) => ekvs += er.lenSlice()
            case (_, w) => er.skip(w)
          }
        }
        kvArr(j, "attributes", ekvs.toSeq)
        if (t != 0L) j.numStr("timeUnixNano", t)
        if (ename != null) j.str("name", ename)
        j.endObj()
      }
      j.endArr()
    }
    if (linkCount > 0) {
      j.beginArr("links")
      var li = 0
      while (li < linkCount) { j.beginObj(); j.endObj(); li += 1 }
      j.endArr()
    }
    if (hasStatus || statusMsg != null) {
      j.beginObj("status")
      if (statusMsg != null) j.str("message", statusMsg)
      if (statusCode != 0L) j.num("code", statusCode)
      j.endObj()
    }
    j.endObj()
  }

  // ------------------------------------------------------------- transport
  /** Content-type dispatch, mirroring opentelemetry_utils.c:122-155:
    * `application/protobuf`, `application/x-protobuf`, and gRPC content
    * types are protobuf; otherwise sniff — a body whose first
    * non-whitespace byte is `{` is JSON
    * (`opentelemetry_payload_starts_with_json_object`).
    */
  def isProtobuf(contentType: String, body: Array[Byte]): Boolean = {
    val ct = Option(contentType).getOrElse("").trim.toLowerCase(java.util.Locale.ROOT)
    val base = ct.takeWhile(c => c != ';' && c != ' ' && c != '+')
    if (base == "application/protobuf" || base == "application/x-protobuf" ||
        base == "application/grpc") true
    else if (base == "application/json") false
    else {
      var i = 0
      while (i < body.length && Character.isWhitespace(body(i).toChar)) i += 1
      i >= body.length || body(i) != '{'
    }
  }

  /** Strip gRPC framing down to the protobuf payload: each frame is a
    * 1-byte compressed flag + 4-byte big-endian length + message (the
    * framing the reference's gRPC endpoints receive,
    * opentelemetry_prot.c's `*_grpc` routes). flag=1 means that FRAME's
    * message is gzip-compressed (grpc-encoding), independently of HTTP
    * Content-Encoding.
    *
    * A streaming/chunked body carries SEVERAL frames back to back; the
    * reference parses them in sequence. Here the decompressed messages
    * are concatenated: the top level of every OTLP Export*ServiceRequest
    * is a single repeated field, and protobuf concatenation of such
    * messages IS their merge — so one downstream decode of the
    * concatenation yields exactly the union of the chunks' batches.
    */
  def stripGrpcFrame(body: Array[Byte]): Array[Byte] = {
    if (body.length < 5)
      throw new IllegalArgumentException("truncated gRPC frame")
    val out = new java.io.ByteArrayOutputStream(body.length)
    var o = 0
    while (o < body.length) {
      if (o + 5 > body.length)
        throw new IllegalArgumentException("truncated gRPC frame header")
      val compressed = body(o) == 1
      val len = ((body(o + 1) & 0xff) << 24) | ((body(o + 2) & 0xff) << 16) |
        ((body(o + 3) & 0xff) << 8) | (body(o + 4) & 0xff)
      if (len < 0 || o + 5 + len > body.length)
        throw new IllegalArgumentException("bad gRPC frame length")
      val msg = java.util.Arrays.copyOfRange(body, o + 5, o + 5 + len)
      // grpc-encoding is per-frame; the codec is identified by the
      // payload's own magic (the reference accepts gzip and zstd —
      // opentelemetry_prot.c:89-103)
      out.write(
        if (!compressed) msg
        else if (Zstd.sniff(msg)) Zstd.decompress(msg, Msgpack.MaxInflatedBytes)
        else Msgpack.gunzip(msg, Msgpack.MaxInflatedBytes))
      o += 5 + len
    }
    out.toByteArray
  }

  private def isGrpc(contentType: String): Boolean = {
    val ct = Option(contentType).getOrElse("").trim
      .toLowerCase(java.util.Locale.ROOT)
    ct.takeWhile(c => c != ';' && c != ' ' && c != '+') == "application/grpc"
  }

  /** Transport peel: decompress when Content-Encoding (or the magic
    * bytes) say gzip or zstd (opentelemetry_prot.c:89-103 accepts both;
    * magic wins when header and payload disagree), unwrap gRPC framing
    * when Content-Type says grpc. Returns the bare request message
    * (protobuf or JSON).
    */
  def rawBody(body: Array[Byte], contentType: String,
              contentEncoding: String): Array[Byte] = {
    val unzipped = Msgpack.uncompress(body, Msgpack.MaxInflatedBytes)
    if (isGrpc(contentType)) stripGrpcFrame(unzipped) else unzipped
  }

  /** Normalize one POST body to the proto3-JSON string the [[Otlp]]
    * decoders flatten: [[rawBody]] transport peel, then binary-protobuf
    * → JSON when Content-Type (or a JSON sniff) says protobuf. `toJson`
    * is [[logsToJson]]/[[metricsToJson]]/[[tracesToJson]]. (The batch
    * decode path no longer routes through this — [[OtlpRows]] emits
    * rows straight from the wire bytes; this remains the JSON printer
    * for tools and specs.)
    */
  def normalize(body: Array[Byte], contentType: String, contentEncoding: String,
                toJson: Array[Byte] => String): String = {
    val raw = rawBody(body, contentType, contentEncoding)
    if (isProtobuf(contentType, raw)) toJson(raw)
    else new String(raw, java.nio.charset.StandardCharsets.UTF_8)
  }

  // ---------------------------------------------------------- spark-facing
  /** Decode a frame of OTLP POST bodies — binary column `body`, plus
    * `content_type`/`content_encoding` string columns — into one row per
    * logRecord, the column set of [[Otlp.decodeLogs]]. Malformed bodies
    * are dropped (the reference answers 400 per-request and keeps
    * serving).
    *
    * Scale shape: ONE map-only pass per body — gunzip + a single
    * bounds-checked walk emitting rows directly ([[OtlpRows]]); no
    * intermediate proto3-JSON string, no from_json re-parse. The
    * reference likewise parses pb bodies straight into its event model
    * (opentelemetry_prot.c:964-1010). `application/json` bodies take
    * the Jackson twin inside the same pass, so mixed-format batches
    * never fork the plan.
    */
  def decodeLogsBodies(df: DataFrame, body: Column, contentType: Column,
                       contentEncoding: Column): DataFrame =
    decodeBodiesWith(df, body, contentType, contentEncoding,
      OtlpRows.logsFromPb, OtlpRows.logsFromJson)(
      org.apache.spark.sql.Encoders.product[OtlpRows.LogRow])

  def decodeMetricsBodies(df: DataFrame, body: Column, contentType: Column,
                          contentEncoding: Column): DataFrame =
    decodeBodiesWith(df, body, contentType, contentEncoding,
      OtlpRows.metricsFromPb, OtlpRows.metricsFromJson)(
      org.apache.spark.sql.Encoders.product[OtlpRows.MetricRow])

  def decodeTracesBodies(df: DataFrame, body: Column, contentType: Column,
                         contentEncoding: Column): DataFrame =
    decodeBodiesWith(df, body, contentType, contentEncoding,
      OtlpRows.tracesFromPb, OtlpRows.tracesFromJson)(
      org.apache.spark.sql.Encoders.product[OtlpRows.SpanRow])

  /** Shared body→rows dispatch. The readers materialize eagerly, so a
    * malformed body throws inside the Try and drops cleanly instead of
    * poisoning the batch (the bytes were already acked upstream).
    */
  private def decodeBodiesWith[T <: Product : org.apache.spark.sql.Encoder](
      df: DataFrame, body: Column, contentType: Column,
      contentEncoding: Column,
      fromPb: Array[Byte] => Seq[T],
      fromJson: Array[Byte] => Seq[T]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(body.cast("binary"), contentType.cast("string"),
        contentEncoding.cast("string"))
      .as[(Array[Byte], String, String)]
      .flatMap { case (b, ct, ce) =>
        scala.util.Try {
          val raw = rawBody(b, ct, ce)
          if (isProtobuf(ct, raw)) fromPb(raw) else fromJson(raw)
        }.getOrElse(Seq.empty)
      }
      .toDF()
  }

  // ------------------------------------------------------------ pb encode
  // out_opentelemetry's binary wire option — the reference's export path
  // emits protobuf request bodies via fluent-otel-proto's generated
  // packers; here the same bytes come from Proto.Writer.

  /** A KeyValue whose AnyValue is the string branch — sufficient for the
    * engine's map<string,string> attribute frames (decode renders every
    * scalar branch to string anyway).
    */
  final case class KvPair(key: String, value: String)

  final case class LogRecRow(timeUnixNano: Option[Long],
                             observedTimeUnixNano: Option[Long],
                             severityNumber: Option[Int],
                             severityText: Option[String],
                             body: Option[String],
                             attributes: Seq[KvPair],
                             traceId: Option[String])

  final case class LogGroupRow(rattrs: Seq[KvPair], sname: Option[String],
                               sver: Option[String], recs: Seq[LogRecRow])

  private def kvWriter(kv: KvPair): Writer = {
    val w = new Writer
    w.str(1, kv.key)
    val av = new Writer
    av.str(1, Option(kv.value).getOrElse(""))
    w.msg(2, av)
    w
  }

  private def hexToBytes(h: String): Array[Byte] = {
    val out = new Array[Byte]((h.length + 1) / 2)
    var i = 0
    while (i + 1 < h.length) {
      out(i / 2) = ((Character.digit(h.charAt(i), 16) << 4) |
        Character.digit(h.charAt(i + 1), 16)).toByte
      i += 2
    }
    out
  }

  /** Gzip-compress one body (the sender side of Content-Encoding). */
  private[parse] def gzipBytes(pb: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(pb.length / 2 max 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(pb); gz.close()
    bos.toByteArray
  }

  /** Catalyst eval twin of [[encodeLogsRequest]]: serializes one
    * aggregated group row — struct(rattrs, sname, sver, recs) — to an
    * `ExportLogsServiceRequest` body straight from the `InternalRow`,
    * so the encode projection never deserializes records through
    * case classes (the former `.as[LogGroupRow].map` hop rebuilt every
    * record as objects just to read them once). One eval per OUTPUT
    * body, so the non-codegen projection sits outside the hot
    * per-record loop.
    */
  case class LogsPbEncode(child: org.apache.spark.sql.catalyst.expressions.Expression,
                          gzipBody: Boolean)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow

    override def dataType: org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.BinaryType
    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression): LogsPbEncode =
      copy(child = newChild)

    private def kvW(e: InternalRow): Writer = {
      val w = new Writer
      w.bytes(1, e.getUTF8String(0).getBytes)
      val av = new Writer
      av.bytes(1,
        if (e.isNullAt(1)) Array.emptyByteArray else e.getUTF8String(1).getBytes)
      w.msg(2, av)
      w
    }

    override def nullSafeEval(input: Any): Any = {
      val g = input.asInstanceOf[InternalRow]
      val rl = new Writer
      val res = new Writer
      if (!g.isNullAt(0)) {
        val arr = g.getArray(0)
        var i = 0
        while (i < arr.numElements()) {
          res.msg(1, kvW(arr.getStruct(i, 2))); i += 1
        }
      }
      rl.msg(1, res)
      val sl = new Writer
      val sc = new Writer
      if (!g.isNullAt(1)) sc.bytes(1, g.getUTF8String(1).getBytes)
      if (!g.isNullAt(2)) sc.bytes(2, g.getUTF8String(2).getBytes)
      sl.msg(1, sc)
      if (!g.isNullAt(3)) {
        val recs = g.getArray(3)
        var i = 0
        while (i < recs.numElements()) {
          val rec = recs.getStruct(i, 7)
          val lr = new Writer
          if (!rec.isNullAt(0)) {
            val t = rec.getLong(0); if (t != 0L) lr.fixed64(1, t)
          }
          if (!rec.isNullAt(2)) {
            val n = rec.getInt(2); if (n != 0) lr.int64(2, n.toLong)
          }
          if (!rec.isNullAt(3)) lr.bytes(3, rec.getUTF8String(3).getBytes)
          if (!rec.isNullAt(4)) {
            val av = new Writer
            av.bytes(1, rec.getUTF8String(4).getBytes)
            lr.msg(5, av)
          }
          if (!rec.isNullAt(5)) {
            val attrs = rec.getArray(5)
            var j = 0
            while (j < attrs.numElements()) {
              lr.msg(6, kvW(attrs.getStruct(j, 2))); j += 1
            }
          }
          if (!rec.isNullAt(6)) {
            val t = rec.getUTF8String(6).toString
            if (t.nonEmpty) lr.bytes(9, hexToBytes(t))
          }
          if (!rec.isNullAt(1)) {
            val o = rec.getLong(1); if (o != 0L) lr.fixed64(11, o)
          }
          sl.msg(2, lr)
          i += 1
        }
      }
      rl.msg(2, sl)
      val req = new Writer
      req.msg(1, rl)
      val pb = req.result()
      if (gzipBody) gzipBytes(pb) else pb
    }
  }

  /** Serialize one ExportLogsServiceRequest: one resource, one scope,
    * the group's records — the per-group body shape
    * [[Otlp.encodeLogs]] emits as JSON. ([[LogsPbEncode]] is the
    * plan-side twin; this object form serves tools and specs.)
    */
  def encodeLogsRequest(g: LogGroupRow): Array[Byte] = {
    val rl = new Writer
    // Resource { attributes = 1 }
    val res = new Writer
    g.rattrs.foreach(kv => res.msg(1, kvWriter(kv)))
    rl.msg(1, res)
    // ScopeLogs { scope = 1, log_records = 2 }
    val sl = new Writer
    val sc = new Writer
    g.sname.foreach(sc.str(1, _))
    g.sver.foreach(sc.str(2, _))
    sl.msg(1, sc)
    g.recs.foreach { rec =>
      val lr = new Writer
      rec.timeUnixNano.filter(_ != 0L).foreach(lr.fixed64(1, _))
      rec.severityNumber.filter(_ != 0).foreach(n => lr.int64(2, n.toLong))
      rec.severityText.foreach(lr.str(3, _))
      rec.body.foreach { b =>
        val av = new Writer; av.str(1, b); lr.msg(5, av)
      }
      rec.attributes.foreach(kv => lr.msg(6, kvWriter(kv)))
      rec.traceId.filter(_.nonEmpty).foreach(t => lr.bytes(9, hexToBytes(t)))
      rec.observedTimeUnixNano.filter(_ != 0L).foreach(lr.fixed64(11, _))
      sl.msg(2, lr)
    }
    rl.msg(2, sl)
    val req = new Writer
    req.msg(1, rl)
    req.result()
  }

  /** Protobuf twin of [[Otlp.encodeLogs]]: group records by resource
    * identity (sorted attribute set) and scope, emit ONE binary
    * `ExportLogsServiceRequest` body per group. Same single shuffle on
    * the resource identity; record payloads travel once.
    *
    * `gzipBody = true` additionally gzip-compresses each body (the
    * sender side of Content-Encoding: gzip).
    */
  def encodeLogsPb(df: DataFrame,
                   resourceAttrs: Column,
                   scopeName: Column,
                   scopeVersion: Column,
                   tsUnixNano: Column,
                   observedTsUnixNano: Column,
                   severityNumber: Column,
                   severityText: Column,
                   body: Column,
                   attributes: Column,
                   traceId: Column,
                   gzipBody: Boolean = false,
                   maxRecordsPerBody: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    def kvArr(m: Column): Column = array_sort(map_entries(m))
    val rec = struct(
      tsUnixNano.cast("long").as("timeUnixNano"),
      observedTsUnixNano.cast("long").as("observedTimeUnixNano"),
      severityNumber.cast("int").as("severityNumber"),
      severityText.cast("string").as("severityText"),
      body.cast("string").as("body"),
      kvArr(attributes).as("attributes"),
      traceId.cast("string").as("traceId"))
    // maxRecordsPerBody > 0 splits a resource's records across several
    // requests (exporters batch by size, and one resource must never
    // serialize a whole partition's gzip on one core); 0 keeps strict
    // one-body-per-resource
    val batchKey =
      if (maxRecordsPerBody > 0)
        spark_partition_id() * 100000L +
          (monotonically_increasing_id() % (1L << 33)) / maxRecordsPerBody
      else lit(0L)
    df.groupBy(kvArr(resourceAttrs).as("rattrs"),
        scopeName.cast("string").as("sname"),
        scopeVersion.cast("string").as("sver"),
        batchKey.as("__batch"))
      .agg(collect_list(rec).as("recs"))
      .select(org.apache.spark.sql.graftshim.shim.column(LogsPbEncode(
        org.apache.spark.sql.graftshim.shim.expression(
          struct(col("rattrs"), col("sname"), col("sver"), col("recs"))),
        gzipBody)).as("body"))
  }

  // ------------------------------------------------ pb encode: metrics
  final case class QRow(quantile: Double, value: Double)
  final case class MetricDpRow(labels: Seq[KvPair], tsUnixNano: Option[Long],
                               value: Option[Double], count: Option[Long],
                               sum: Option[Double],
                               bucketCounts: Option[Seq[Long]],
                               explicitBounds: Option[Seq[Double]],
                               quantiles: Option[Seq[QRow]])
  final case class MetricRow(name: Option[String], mtype: Option[String],
                             temporality: Option[Int],
                             isMonotonic: Option[Boolean],
                             dps: Seq[MetricDpRow])
  final case class MetricGroupRow(rattrs: Seq[KvPair], sname: Option[String],
                                  sver: Option[String],
                                  metrics: Seq[MetricRow])

  private def resourceWriter(rattrs: Seq[KvPair]): Writer = {
    val w = new Writer
    rattrs.foreach(kv => w.msg(1, kvWriter(kv)))
    w
  }

  private def scopeWriter(name: Option[String], ver: Option[String]): Writer = {
    val w = new Writer
    name.foreach(w.str(1, _))
    ver.foreach(w.str(2, _))
    w
  }

  /** Packed repeated fixed64/double payload (protobuf's default for
    * bucket_counts/explicit_bounds).
    */
  private def packedFixed64(w: Writer, field: Int, vs: Seq[Long]): Unit = {
    val pk = new Writer
    vs.foreach(pk.rawFixed64)
    w.bytes(field, pk.result())
  }

  /** Catalyst eval twin of [[encodeMetricsRequest]] — serializes one
    * aggregated (rattrs, sname, sver, metrics) group row straight from
    * the `InternalRow`, skipping the `.as[MetricGroupRow]` deserializer
    * that rebuilt every data point as nested case classes (and whose
    * allocation burst was the GC noise source in the sequential bench).
    */
  case class MetricsPbEncode(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.util.ArrayData

    override def dataType: org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.BinaryType
    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression): MetricsPbEncode =
      copy(child = newChild)

    private def kvW(e: InternalRow): Writer = {
      val w = new Writer
      w.bytes(1, e.getUTF8String(0).getBytes)
      val av = new Writer
      av.bytes(1,
        if (e.isNullAt(1)) Array.emptyByteArray else e.getUTF8String(1).getBytes)
      w.msg(2, av)
      w
    }

    private def labels(dp: InternalRow, w: Writer, field: Int): Unit =
      if (!dp.isNullAt(0)) {
        val ls = dp.getArray(0)
        var i = 0
        while (i < ls.numElements()) { w.msg(field, kvW(ls.getStruct(i, 2))); i += 1 }
      }

    // dp struct layout: labels(0), tsUnixNano(1), value(2), count(3),
    // sum(4), bucketCounts(5), explicitBounds(6), quantiles(7)
    private def numberDp(dp: InternalRow): Writer = {
      val w = new Writer
      if (!dp.isNullAt(1)) { val t = dp.getLong(1); if (t != 0L) w.fixed64(3, t) }
      if (!dp.isNullAt(2)) w.double(4, dp.getDouble(2))
      labels(dp, w, 7)
      w
    }

    private def packed64(w: Writer, field: Int, arr: ArrayData,
                         asBits: Boolean): Unit = {
      val pk = new Writer
      var i = 0
      while (i < arr.numElements()) {
        pk.rawFixed64(
          if (asBits) java.lang.Double.doubleToLongBits(arr.getDouble(i))
          else arr.getLong(i))
        i += 1
      }
      w.bytes(field, pk.result())
    }

    private def histDp(dp: InternalRow): Writer = {
      val w = new Writer
      if (!dp.isNullAt(1)) { val t = dp.getLong(1); if (t != 0L) w.fixed64(3, t) }
      w.fixed64(4, if (dp.isNullAt(3)) 0L else dp.getLong(3))
      if (!dp.isNullAt(4)) w.double(5, dp.getDouble(4))
      if (!dp.isNullAt(5)) {
        val b = dp.getArray(5)
        if (b.numElements() > 0) packed64(w, 6, b, asBits = false)
      }
      if (!dp.isNullAt(6)) {
        val b = dp.getArray(6)
        if (b.numElements() > 0) packed64(w, 7, b, asBits = true)
      }
      labels(dp, w, 9)
      w
    }

    private def summDp(dp: InternalRow): Writer = {
      val w = new Writer
      if (!dp.isNullAt(1)) { val t = dp.getLong(1); if (t != 0L) w.fixed64(3, t) }
      w.fixed64(4, if (dp.isNullAt(3)) 0L else dp.getLong(3))
      if (!dp.isNullAt(4)) w.double(5, dp.getDouble(4))
      if (!dp.isNullAt(7)) {
        val qs = dp.getArray(7)
        var i = 0
        while (i < qs.numElements()) {
          val q = qs.getStruct(i, 2)
          val qw = new Writer
          qw.double(1, if (q.isNullAt(0)) 0.0 else q.getDouble(0))
          qw.double(2, if (q.isNullAt(1)) 0.0 else q.getDouble(1))
          w.msg(6, qw)
          i += 1
        }
      }
      labels(dp, w, 7)
      w
    }

    override def nullSafeEval(input: Any): Any = {
      val g = input.asInstanceOf[InternalRow]
      val sm = new Writer
      val sc = new Writer
      if (!g.isNullAt(1)) sc.bytes(1, g.getUTF8String(1).getBytes)
      if (!g.isNullAt(2)) sc.bytes(2, g.getUTF8String(2).getBytes)
      sm.msg(1, sc)
      if (!g.isNullAt(3)) {
        val metrics = g.getArray(3)
        var mi = 0
        while (mi < metrics.numElements()) {
          // metric struct: name(0), mtype(1), temporality(2),
          // isMonotonic(3), dps(4)
          val m = metrics.getStruct(mi, 5)
          val mw = new Writer
          if (!m.isNullAt(0)) mw.bytes(1, m.getUTF8String(0).getBytes)
          val mtype = if (m.isNullAt(1)) null else m.getUTF8String(1).toString
          val dps = if (m.isNullAt(4)) null else m.getArray(4)
          def eachDp(f: InternalRow => Writer, into: Writer): Unit =
            if (dps != null) {
              var i = 0
              while (i < dps.numElements()) {
                into.msg(1, f(dps.getStruct(i, 8))); i += 1
              }
            }
          mtype match {
            case "gauge" =>
              val w = new Writer
              eachDp(numberDp, w)
              mw.msg(5, w)
            case "sum" =>
              val w = new Writer
              eachDp(numberDp, w)
              if (!m.isNullAt(2)) w.int64(2, m.getInt(2).toLong)
              if (!m.isNullAt(3)) w.bool(3, m.getBoolean(3))
              mw.msg(7, w)
            case "histogram" =>
              val w = new Writer
              eachDp(histDp, w)
              if (!m.isNullAt(2)) w.int64(2, m.getInt(2).toLong)
              mw.msg(9, w)
            case "summary" =>
              val w = new Writer
              eachDp(summDp, w)
              mw.msg(11, w)
            case _ => ()
          }
          sm.msg(2, mw)
          mi += 1
        }
      }
      val res = new Writer
      if (!g.isNullAt(0)) {
        val arr = g.getArray(0)
        var i = 0
        while (i < arr.numElements()) { res.msg(1, kvW(arr.getStruct(i, 2))); i += 1 }
      }
      val rm = new Writer
      rm.msg(1, res)
      rm.msg(2, sm)
      val req = new Writer
      req.msg(1, rm)
      req.result()
    }
  }

  /** Serialize one ExportMetricsServiceRequest — one resource, one
    * scope, the group's metrics with their typed data points.
    * ([[MetricsPbEncode]] is the plan-side twin.)
    */
  def encodeMetricsRequest(g: MetricGroupRow): Array[Byte] = {
    def numberDp(d: MetricDpRow): Writer = {
      val w = new Writer
      d.tsUnixNano.filter(_ != 0L).foreach(w.fixed64(3, _))
      d.value.foreach(w.double(4, _))
      d.labels.foreach(kv => w.msg(7, kvWriter(kv)))
      w
    }
    def histDp(d: MetricDpRow): Writer = {
      val w = new Writer
      d.tsUnixNano.filter(_ != 0L).foreach(w.fixed64(3, _))
      w.fixed64(4, d.count.getOrElse(0L))
      d.sum.foreach(w.double(5, _))
      d.bucketCounts.filter(_.nonEmpty).foreach(packedFixed64(w, 6, _))
      d.explicitBounds.filter(_.nonEmpty).foreach(bs =>
        packedFixed64(w, 7, bs.map(java.lang.Double.doubleToLongBits)))
      d.labels.foreach(kv => w.msg(9, kvWriter(kv)))
      w
    }
    def summDp(d: MetricDpRow): Writer = {
      val w = new Writer
      d.tsUnixNano.filter(_ != 0L).foreach(w.fixed64(3, _))
      w.fixed64(4, d.count.getOrElse(0L))
      d.sum.foreach(w.double(5, _))
      d.quantiles.getOrElse(Seq.empty).foreach { q =>
        val qw = new Writer
        qw.double(1, q.quantile); qw.double(2, q.value)
        w.msg(6, qw)
      }
      d.labels.foreach(kv => w.msg(7, kvWriter(kv)))
      w
    }
    val sm = new Writer
    sm.msg(1, scopeWriter(g.sname, g.sver))
    g.metrics.foreach { m =>
      val mw = new Writer
      m.name.foreach(mw.str(1, _))
      m.mtype match {
        case Some("gauge") =>
          val w = new Writer
          m.dps.foreach(d => w.msg(1, numberDp(d)))
          mw.msg(5, w)
        case Some("sum") =>
          val w = new Writer
          m.dps.foreach(d => w.msg(1, numberDp(d)))
          m.temporality.foreach(t => w.int64(2, t.toLong))
          m.isMonotonic.foreach(w.bool(3, _))
          mw.msg(7, w)
        case Some("histogram") =>
          val w = new Writer
          m.dps.foreach(d => w.msg(1, histDp(d)))
          m.temporality.foreach(t => w.int64(2, t.toLong))
          mw.msg(9, w)
        case Some("summary") =>
          val w = new Writer
          m.dps.foreach(d => w.msg(1, summDp(d)))
          mw.msg(11, w)
        case _ => ()
      }
      sm.msg(2, mw)
    }
    val rm = new Writer
    rm.msg(1, resourceWriter(g.rattrs))
    rm.msg(2, sm)
    val req = new Writer
    req.msg(1, rm)
    req.result()
  }

  /** Protobuf twin of [[Otlp.encodeMetrics]]: the same two keyed
    * aggregations (resource×metric → points, resource → metrics), one
    * binary `ExportMetricsServiceRequest` body per resource identity.
    */
  def encodeMetricsPb(df: DataFrame,
                      resourceAttrs: Column, scopeName: Column,
                      scopeVersion: Column, name: Column,
                      metricType: Column, temporality: Column,
                      isMonotonic: Column, labels: Column,
                      tsUnixNano: Column, value: Column, count: Column,
                      sum: Column, bucketCounts: Column,
                      explicitBounds: Column, quantiles: Column): DataFrame = {
    // qualified import: bare functions._ would shadow the count/sum params
    import org.apache.spark.sql.{functions => F}
    val spark = df.sparkSession
    import spark.implicits._
    def kvArr(m: Column): Column = F.array_sort(F.map_entries(m))
    val dp = F.struct(
      kvArr(labels).as("labels"),
      tsUnixNano.cast("long").as("tsUnixNano"),
      value.cast("double").as("value"),
      count.cast("long").as("count"),
      sum.cast("double").as("sum"),
      bucketCounts.cast("array<long>").as("bucketCounts"),
      explicitBounds.cast("array<double>").as("explicitBounds"),
      quantiles.cast("array<struct<quantile double, value double>>")
        .as("quantiles"))
    df.groupBy(kvArr(resourceAttrs).as("rattrs"),
        scopeName.cast("string").as("sname"),
        scopeVersion.cast("string").as("sver"),
        name.cast("string").as("name"),
        metricType.cast("string").as("mtype"),
        temporality.cast("int").as("temporality"),
        isMonotonic.cast("boolean").as("isMonotonic"))
      .agg(F.collect_list(dp).as("dps"))
      .groupBy(F.col("rattrs"), F.col("sname"), F.col("sver"))
      .agg(F.collect_list(F.struct(F.col("name"), F.col("mtype"),
        F.col("temporality"), F.col("isMonotonic"), F.col("dps")))
        .as("metrics"))
      .select(org.apache.spark.sql.graftshim.shim.column(MetricsPbEncode(
        org.apache.spark.sql.graftshim.shim.expression(
          F.struct(F.col("rattrs"), F.col("sname"), F.col("sver"),
            F.col("metrics"))))).as("body"))
  }

  // ------------------------------------------------- pb encode: traces
  final case class SpanEventRow(tsUnixNano: Option[Long],
                                name: Option[String],
                                attributes: Seq[KvPair])
  final case class SpanRow(traceId: Option[String], spanId: Option[String],
                           parentSpanId: Option[String],
                           traceState: Option[String], name: Option[String],
                           kind: Option[Int], startUnixNano: Option[Long],
                           endUnixNano: Option[Long],
                           attributes: Seq[KvPair],
                           events: Option[Seq[SpanEventRow]],
                           statusCode: Option[Int],
                           statusMessage: Option[String])
  final case class SpanGroupRow(rattrs: Seq[KvPair], sname: Option[String],
                                sver: Option[String], spans: Seq[SpanRow])

  /** Catalyst eval twin of [[encodeTracesRequest]] — one aggregated
    * (rattrs, sname, sver, spans) group row serialized straight from
    * the `InternalRow` (same rationale as [[MetricsPbEncode]]).
    */
  case class TracesPbEncode(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
      with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    import org.apache.spark.sql.catalyst.InternalRow

    override def dataType: org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.BinaryType
    override protected def withNewChildInternal(
        newChild: org.apache.spark.sql.catalyst.expressions.Expression): TracesPbEncode =
      copy(child = newChild)

    private def kvW(e: InternalRow): Writer = {
      val w = new Writer
      w.bytes(1, e.getUTF8String(0).getBytes)
      val av = new Writer
      av.bytes(1,
        if (e.isNullAt(1)) Array.emptyByteArray else e.getUTF8String(1).getBytes)
      w.msg(2, av)
      w
    }

    private def idBytes(w: Writer, field: Int, row: InternalRow, ord: Int): Unit =
      if (!row.isNullAt(ord)) {
        val s = row.getUTF8String(ord).toString
        if (s.nonEmpty) w.bytes(field, hexToBytes(s))
      }

    override def nullSafeEval(input: Any): Any = {
      val g = input.asInstanceOf[InternalRow]
      val ss = new Writer
      val sc = new Writer
      if (!g.isNullAt(1)) sc.bytes(1, g.getUTF8String(1).getBytes)
      if (!g.isNullAt(2)) sc.bytes(2, g.getUTF8String(2).getBytes)
      ss.msg(1, sc)
      if (!g.isNullAt(3)) {
        val spans = g.getArray(3)
        var si = 0
        while (si < spans.numElements()) {
          // span struct: traceId(0), spanId(1), parentSpanId(2),
          // traceState(3), name(4), kind(5), startUnixNano(6),
          // endUnixNano(7), attributes(8), events(9), statusCode(10),
          // statusMessage(11)
          val sp = spans.getStruct(si, 12)
          val w = new Writer
          idBytes(w, 1, sp, 0)
          idBytes(w, 2, sp, 1)
          if (!sp.isNullAt(3)) w.bytes(3, sp.getUTF8String(3).getBytes)
          idBytes(w, 4, sp, 2)
          if (!sp.isNullAt(4)) w.bytes(5, sp.getUTF8String(4).getBytes)
          if (!sp.isNullAt(5)) { val k = sp.getInt(5); if (k != 0) w.int64(6, k.toLong) }
          if (!sp.isNullAt(6)) { val t = sp.getLong(6); if (t != 0L) w.fixed64(7, t) }
          if (!sp.isNullAt(7)) { val t = sp.getLong(7); if (t != 0L) w.fixed64(8, t) }
          if (!sp.isNullAt(8)) {
            val as = sp.getArray(8)
            var i = 0
            while (i < as.numElements()) { w.msg(9, kvW(as.getStruct(i, 2))); i += 1 }
          }
          if (!sp.isNullAt(9)) {
            val es = sp.getArray(9)
            var i = 0
            while (i < es.numElements()) {
              // event struct: tsUnixNano(0), name(1), attributes(2)
              val e = es.getStruct(i, 3)
              val ew = new Writer
              if (!e.isNullAt(0)) { val t = e.getLong(0); if (t != 0L) ew.fixed64(1, t) }
              if (!e.isNullAt(1)) ew.bytes(2, e.getUTF8String(1).getBytes)
              if (!e.isNullAt(2)) {
                val eas = e.getArray(2)
                var j = 0
                while (j < eas.numElements()) { ew.msg(3, kvW(eas.getStruct(j, 2))); j += 1 }
              }
              w.msg(11, ew)
              i += 1
            }
          }
          // status emitted when a message is PRESENT (even empty) or
          // the code is non-zero — the Option.nonEmpty semantics of the
          // object-form encoder
          val msg = if (sp.isNullAt(11)) null else sp.getUTF8String(11).toString
          val code = if (sp.isNullAt(10)) 0 else sp.getInt(10)
          if (msg != null || code != 0) {
            val stw = new Writer
            if (msg != null) stw.bytes(2, msg.getBytes("UTF-8"))
            if (code != 0) stw.int64(3, code.toLong)
            w.msg(15, stw)
          }
          ss.msg(2, w)
          si += 1
        }
      }
      val res = new Writer
      if (!g.isNullAt(0)) {
        val arr = g.getArray(0)
        var i = 0
        while (i < arr.numElements()) { res.msg(1, kvW(arr.getStruct(i, 2))); i += 1 }
      }
      val rs = new Writer
      rs.msg(1, res)
      rs.msg(2, ss)
      val req = new Writer
      req.msg(1, rs)
      req.result()
    }
  }

  /** Serialize one ExportTraceServiceRequest — one resource, one scope,
    * the group's spans with events and status.
    * ([[TracesPbEncode]] is the plan-side twin.)
    */
  def encodeTracesRequest(g: SpanGroupRow): Array[Byte] = {
    val ss = new Writer
    ss.msg(1, scopeWriter(g.sname, g.sver))
    g.spans.foreach { sp =>
      val w = new Writer
      sp.traceId.filter(_.nonEmpty).foreach(t => w.bytes(1, hexToBytes(t)))
      sp.spanId.filter(_.nonEmpty).foreach(t => w.bytes(2, hexToBytes(t)))
      sp.traceState.foreach(w.str(3, _))
      sp.parentSpanId.filter(_.nonEmpty).foreach(t => w.bytes(4, hexToBytes(t)))
      sp.name.foreach(w.str(5, _))
      sp.kind.filter(_ != 0).foreach(k => w.int64(6, k.toLong))
      sp.startUnixNano.filter(_ != 0L).foreach(w.fixed64(7, _))
      sp.endUnixNano.filter(_ != 0L).foreach(w.fixed64(8, _))
      sp.attributes.foreach(kv => w.msg(9, kvWriter(kv)))
      sp.events.getOrElse(Seq.empty).foreach { e =>
        val ew = new Writer
        e.tsUnixNano.filter(_ != 0L).foreach(ew.fixed64(1, _))
        e.name.foreach(ew.str(2, _))
        e.attributes.foreach(kv => ew.msg(3, kvWriter(kv)))
        w.msg(11, ew)
      }
      if (sp.statusMessage.nonEmpty || sp.statusCode.exists(_ != 0)) {
        val stw = new Writer
        sp.statusMessage.foreach(stw.str(2, _))
        sp.statusCode.filter(_ != 0).foreach(c => stw.int64(3, c.toLong))
        w.msg(15, stw)
      }
      ss.msg(2, w)
    }
    val rs = new Writer
    rs.msg(1, resourceWriter(g.rattrs))
    rs.msg(2, ss)
    val req = new Writer
    req.msg(1, rs)
    req.result()
  }

  /** Protobuf twin of [[Otlp.encodeTraces]]: one shuffle on the
    * resource identity, one binary `ExportTraceServiceRequest` body per
    * group. `events` must be
    * `array<struct<ts_unix_nano, name, attributes map>>` or NULL, the
    * same contract as the JSON encoder.
    */
  def encodeTracesPb(df: DataFrame,
                     resourceAttrs: Column, scopeName: Column,
                     scopeVersion: Column, traceId: Column, spanId: Column,
                     parentSpanId: Column, traceState: Column, name: Column,
                     kind: Column, startUnixNano: Column,
                     endUnixNano: Column, attributes: Column,
                     events: Column, statusCode: Column,
                     statusMessage: Column): DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    import spark.implicits._
    def kvArr(m: Column): Column = array_sort(map_entries(m))
    val span = struct(
      traceId.cast("string").as("traceId"),
      spanId.cast("string").as("spanId"),
      parentSpanId.cast("string").as("parentSpanId"),
      traceState.cast("string").as("traceState"),
      name.cast("string").as("name"),
      kind.cast("int").as("kind"),
      startUnixNano.cast("long").as("startUnixNano"),
      endUnixNano.cast("long").as("endUnixNano"),
      kvArr(attributes).as("attributes"),
      transform(
        events.cast(
          "array<struct<ts_unix_nano long, name string, attributes map<string,string>>>"),
        e => struct(
          e.getField("ts_unix_nano").as("tsUnixNano"),
          e.getField("name").as("name"),
          kvArr(e.getField("attributes")).as("attributes"))).as("events"),
      statusCode.cast("int").as("statusCode"),
      statusMessage.cast("string").as("statusMessage"))
    df.groupBy(kvArr(resourceAttrs).as("rattrs"),
        scopeName.cast("string").as("sname"),
        scopeVersion.cast("string").as("sver"))
      .agg(collect_list(span).as("spans"))
      .select(org.apache.spark.sql.graftshim.shim.column(TracesPbEncode(
        org.apache.spark.sql.graftshim.shim.expression(
          struct(col("rattrs"), col("sname"), col("sver"), col("spans"))))).as("body"))
  }

}
