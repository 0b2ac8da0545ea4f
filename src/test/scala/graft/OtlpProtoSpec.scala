package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.parse.{Otlp, OtlpProto, Proto}

/** Binary-protobuf OTLP ingest (in_opentelemetry accepts
  * application/x-protobuf + gzip, opentelemetry_utils.c:122-155,
  * opentelemetry_prot.c:964-965): pb bodies must land in the SAME rows
  * as the proto3-JSON path, hostile bytes must be rejected bounded, and
  * the dispatcher must honor both headers and payload sniffing.
  */
class OtlpProtoSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def kv(key: String, value: String): Proto.Writer = {
    val w = new Proto.Writer
    w.str(1, key)
    val av = new Proto.Writer
    av.str(1, value)
    w.msg(2, av)
    w
  }

  // ------------------------------------------------------------------ logs
  test("logs: pb body decodes to the same rows as the JSON body") {
    val json =
      """{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"svc"}}]},
        |"scopeLogs":[{"scope":{"name":"lib","version":"2.0"},"logRecords":[
        |{"timeUnixNano":"1700000000000000000","severityNumber":9,"severityText":"INFO",
        | "body":{"stringValue":"hello"},"attributes":[{"key":"k","value":{"stringValue":"v"}}],
        | "traceId":"00112233445566778899aabbccddeeff","flags":1},
        |{"observedTimeUnixNano":"1700000000000000001","severityText":"WARN",
        | "body":{"stringValue":"later"}}]}]}]}""".stripMargin.replace("\n", "")

    val pb = OtlpProto.encodeLogsRequest(OtlpProto.LogGroupRow(
      rattrs = Seq(OtlpProto.KvPair("service.name", "svc")),
      sname = Some("lib"), sver = Some("2.0"),
      recs = Seq(
        OtlpProto.LogRecRow(Some(1700000000000000000L), None, Some(9),
          Some("INFO"), Some("hello"), Seq(OtlpProto.KvPair("k", "v")),
          Some("00112233445566778899aabbccddeeff")),
        OtlpProto.LogRecRow(None, Some(1700000000000000001L), None,
          Some("WARN"), Some("later"), Seq.empty, None))))

    def rows(body: String) =
      Otlp.decodeLogs(Seq(body).toDF("v"), col("v")).drop("v")
        .orderBy("ts_unix_nano")
        // flags differ intentionally (pb encoder doesn't carry them);
        // compare the semantic columns
        .drop("trace_flags")
        .collect().toSeq
    val viaJson = rows(json)
    val viaPb = rows(OtlpProto.logsToJson(pb))
    assert(viaPb == viaJson)
    assert(viaPb.length == 2)
    assert(viaPb.head.getAs[Map[String, String]]("resource_attributes") ==
      Map("service.name" -> "svc"))
    assert(viaPb.head.getAs[String]("trace_id") ==
      "00112233445566778899aabbccddeeff")
    // effective-time fallback: second record used observedTimeUnixNano
    assert(viaPb(1).getAs[Long]("ts_unix_nano") == 1700000000000000001L)
  }

  test("logs: scalar body branches (int/double/bool) render like proto3-JSON") {
    def logReq(avBuild: Proto.Writer => Unit): Array[Byte] = {
      val lr = new Proto.Writer
      lr.fixed64(1, 5L)
      val av = new Proto.Writer
      avBuild(av)
      lr.msg(5, av)
      val sl = new Proto.Writer
      sl.msg(1, new Proto.Writer) // empty scope
      sl.msg(2, lr)
      val rl = new Proto.Writer
      rl.msg(1, new Proto.Writer) // empty resource
      rl.msg(2, sl)
      val req = new Proto.Writer
      req.msg(1, rl)
      req.result()
    }
    def bodyOf(pb: Array[Byte]): String =
      Otlp.decodeLogs(Seq(OtlpProto.logsToJson(pb)).toDF("v"), col("v"))
        .select("body").collect().head.getString(0)
    assert(bodyOf(logReq(_.int64(3, -42L))) == "-42")
    assert(bodyOf(logReq(_.double(4, 2.5))) == "2.5")
    assert(bodyOf(logReq(_.int64(2, 1L))) == "true") // bool branch
    assert(bodyOf(logReq(_.str(1, "line \"q\" \n end"))) == "line \"q\" \n end")
  }

  // --------------------------------------------------------------- metrics
  test("metrics: all four kinds via pb match the JSON decode, packed and unpacked") {
    // NumberDataPoint time=3 asDouble=4; HistogramDataPoint count=4 sum=5
    // bucket_counts=6 explicit_bounds=7 (PACKED); Summary quantile=6
    def numberDp(t: Long, v: Double): Proto.Writer = {
      val w = new Proto.Writer; w.fixed64(3, t); w.double(4, v); w
    }
    val gauge = new Proto.Writer
    gauge.msg(1, numberDp(1L, 1.5))
    val sum = new Proto.Writer
    sum.msg(1, {
      val w = new Proto.Writer; w.fixed64(3, 2L)
      // as_int branch: sfixed64 field 6
      w.tag(6, 1); w.rawFixed64(3L)
      w
    })
    sum.int64(2, 2L) // temporality
    sum.bool(3, true)
    val hist = new Proto.Writer
    hist.msg(1, {
      val w = new Proto.Writer; w.fixed64(3, 3L)
      w.fixed64(4, 4L) // count
      w.double(5, 10.0)
      // packed bucket_counts [1,3]: field 6 wire 2
      val pk = new Proto.Writer
      pk.rawFixed64(1L)
      pk.rawFixed64(3L)
      w.bytes(6, pk.result())
      // UNPACKED explicit_bounds [5.0]: field 7 wire 1
      w.double(7, 5.0)
      w
    })
    hist.int64(2, 1L)
    val summ = new Proto.Writer
    summ.msg(1, {
      val w = new Proto.Writer; w.fixed64(3, 4L)
      w.fixed64(4, 4L); w.double(5, 10.0)
      val q = new Proto.Writer; q.double(1, 0.5); q.double(2, 2.0)
      w.msg(6, q)
      w
    })
    def metric(name: String, field: Int, m: Proto.Writer): Proto.Writer = {
      val w = new Proto.Writer; w.str(1, name); w.msg(field, m); w
    }
    val sm = new Proto.Writer
    sm.msg(1, new Proto.Writer) // empty scope
    sm.msg(2, metric("g", 5, gauge))
    sm.msg(2, metric("c", 7, sum))
    sm.msg(2, metric("h", 9, hist))
    sm.msg(2, metric("q", 11, summ))
    val rm = new Proto.Writer
    rm.msg(1, { val r = new Proto.Writer; r.msg(1, kv("host", "a")); r })
    rm.msg(2, sm)
    val req = new Proto.Writer
    req.msg(1, rm)

    val out = Otlp.decodeMetrics(
        Seq(OtlpProto.metricsToJson(req.result())).toDF("v"), col("v"))
      .orderBy("ts_unix_nano").collect()
    assert(out.map(_.getAs[String]("metric_type")).toSeq ==
      Seq("gauge", "sum", "histogram", "summary"))
    assert(out(0).getAs[Double]("value") == 1.5)
    assert(out(1).getAs[Double]("value") == 3.0) // asInt branch
    assert(out(1).getAs[Int]("temporality") == 2)
    assert(out(1).getAs[Boolean]("is_monotonic"))
    assert(out(2).getAs[Long]("count") == 4L)
    assert(out(2).getAs[collection.Seq[Long]]("bucket_counts") == Seq(1L, 3L))
    assert(out(2).getAs[collection.Seq[Double]]("explicit_bounds") == Seq(5.0))
    assert(out(3).getAs[collection.Seq[org.apache.spark.sql.Row]]("quantiles")
      .map(r => (r.getDouble(0), r.getDouble(1))) == Seq((0.5, 2.0)))
    assert(out.forall(_.getAs[Map[String, String]]("resource_attributes") ==
      Map("host" -> "a")))
  }

  // ---------------------------------------------------------------- traces
  test("traces: pb span with events, links and status matches the span frame") {
    val ev = new Proto.Writer
    ev.fixed64(1, 150L); ev.str(2, "retry"); ev.msg(3, kv("n", "1"))
    val link = new Proto.Writer
    link.bytes(1, Array.fill[Byte](16)(1))
    val status = new Proto.Writer
    status.str(2, "boom"); status.int64(3, 2L)
    val sp = new Proto.Writer
    sp.bytes(1, Array.tabulate[Byte](16)(_.toByte))
    sp.bytes(2, Array.tabulate[Byte](8)(i => (i + 1).toByte))
    sp.str(3, "k=v")
    sp.bytes(4, Array.fill[Byte](8)(9))
    sp.str(5, "op")
    sp.int64(6, 3L)
    sp.fixed64(7, 100L); sp.fixed64(8, 200L)
    sp.msg(9, kv("http.method", "GET"))
    sp.msg(11, ev)
    sp.msg(13, link)
    sp.msg(15, status)
    val ss = new Proto.Writer
    ss.msg(1, { val s = new Proto.Writer; s.str(1, "tracer"); s })
    ss.msg(2, sp)
    val rs = new Proto.Writer
    rs.msg(1, { val r = new Proto.Writer; r.msg(1, kv("service.name", "s")); r })
    rs.msg(2, ss)
    val req = new Proto.Writer
    req.msg(1, rs)

    val out = Otlp.decodeTraces(
        Seq(OtlpProto.tracesToJson(req.result())).toDF("v"), col("v"))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("trace_id") == "000102030405060708090a0b0c0d0e0f")
    assert(r.getAs[String]("span_id") == "0102030405060708")
    assert(r.getAs[String]("parent_span_id") == "0909090909090909")
    assert(r.getAs[String]("trace_state") == "k=v")
    assert(r.getAs[String]("name") == "op")
    assert(r.getAs[Int]("kind") == 3)
    assert(r.getAs[Long]("start_unix_nano") == 100L)
    assert(r.getAs[Long]("end_unix_nano") == 200L)
    assert(r.getAs[Map[String, String]]("attributes") == Map("http.method" -> "GET"))
    val evs = r.getAs[collection.Seq[org.apache.spark.sql.Row]]("events")
    assert(evs.length == 1 && evs.head.getAs[String]("name") == "retry")
    assert(evs.head.getAs[Long]("ts_unix_nano") == 150L)
    assert(r.getAs[Int]("link_count") == 1)
    assert(r.getAs[Int]("status_code") == 2)
    assert(r.getAs[String]("status_message") == "boom")
  }

  // ------------------------------------------------------------- transport
  test("gzip + content-type dispatch: all four header combinations normalize") {
    val pb = OtlpProto.encodeLogsRequest(OtlpProto.LogGroupRow(
      Seq(OtlpProto.KvPair("r", "1")), Some("s"), None,
      Seq(OtlpProto.LogRecRow(Some(7L), None, None, None, Some("x"),
        Seq.empty, None))))
    val json = OtlpProto.logsToJson(pb)
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val jsonBytes = json.getBytes("UTF-8")
    // (body, contentType, contentEncoding)
    val cases = Seq(
      (pb, "application/x-protobuf", ""),
      (pb, "application/protobuf; charset=utf-8", null),
      (gz(pb), "application/x-protobuf", "gzip"),
      (gz(pb), "", ""), // sniffed: gzip magic + non-JSON payload
      (jsonBytes, "application/json", ""),
      (gz(jsonBytes), "application/json", "gzip"),
      (jsonBytes, "", "")) // sniffed: starts with '{'
    cases.foreach { case (body, ct, ce) =>
      val norm = OtlpProto.normalize(body, ct, ce, OtlpProto.logsToJson)
      assert(norm == json, s"ct=$ct ce=$ce")
    }
  }

  test("zstd bodies: content-encoding and magic-sniff both route to the codec") {
    def res(name: String): Array[Byte] = {
      val in = getClass.getResourceAsStream(s"/zstd/$name")
      try in.readAllBytes() finally in.close()
    }
    val plain = res("otlp.json")
    val zst = res("otlp.json.zst")
    // declared zstd (opentelemetry_prot.c:89-103 uncompress_zstd)
    assert(OtlpProto.rawBody(zst, "application/json", "zstd").toSeq
      == plain.toSeq)
    // undeclared: the frame magic routes it anyway
    assert(OtlpProto.rawBody(zst, "application/json", "").toSeq
      == plain.toSeq)
    // the decoded JSON is a decodable OTLP logs body
    val norm = OtlpProto.normalize(zst, "application/json", "zstd",
      OtlpProto.logsToJson)
    assert(norm.contains("zstd hello"))
    // a zstd-compressed gRPC frame message decompresses per-frame
    val n = zst.length
    val framed = Array[Byte](1,
      ((n >> 24) & 0xff).toByte, ((n >> 16) & 0xff).toByte,
      ((n >> 8) & 0xff).toByte, (n & 0xff).toByte) ++ zst
    assert(OtlpProto.stripGrpcFrame(framed).toSeq == plain.toSeq)
  }

  test("gRPC framing: unary frame unwraps, compressed flag gunzips the message") {
    val pb = OtlpProto.encodeLogsRequest(OtlpProto.LogGroupRow(
      Seq(OtlpProto.KvPair("r", "1")), Some("s"), None,
      Seq(OtlpProto.LogRecRow(Some(7L), None, None, None, Some("grpc"),
        Seq.empty, None))))
    val json = OtlpProto.logsToJson(pb)
    def frame(msg: Array[Byte], compressed: Boolean): Array[Byte] = {
      val n = msg.length
      Array[Byte](if (compressed) 1 else 0,
        ((n >> 24) & 0xff).toByte, ((n >> 16) & 0xff).toByte,
        ((n >> 8) & 0xff).toByte, (n & 0xff).toByte) ++ msg
    }
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    assert(OtlpProto.normalize(frame(pb, compressed = false),
      "application/grpc", "", OtlpProto.logsToJson) == json)
    assert(OtlpProto.normalize(frame(gz(pb), compressed = true),
      "application/grpc", "", OtlpProto.logsToJson) == json)
    // a streaming/chunked body carries several frames back to back —
    // their (per-frame decompressed) payloads concatenate, and for OTLP
    // export requests protobuf concatenation IS the batch union: both
    // log records surface from one downstream decode
    val pb2 = OtlpProto.encodeLogsRequest(OtlpProto.LogGroupRow(
      Seq(OtlpProto.KvPair("r", "2")), Some("s2"), None,
      Seq(OtlpProto.LogRecRow(Some(9L), None, None, None, Some("grpc2"),
        Seq.empty, None))))
    val multi = OtlpProto.stripGrpcFrame(
      frame(pb, compressed = false) ++ frame(gz(pb2), compressed = true))
    val mj = OtlpProto.logsToJson(multi)
    assert(mj.contains("grpc") && mj.contains("grpc2"), mj)
    // truncated frame, over-long declared length, and a valid frame with
    // trailing garbage are protocol errors
    intercept[IllegalArgumentException] {
      OtlpProto.stripGrpcFrame(Array[Byte](0, 0, 0))
    }
    intercept[IllegalArgumentException] {
      OtlpProto.stripGrpcFrame(Array[Byte](0, 0, 0, 0, 9, 1, 2))
    }
    intercept[IllegalArgumentException] {
      OtlpProto.stripGrpcFrame(frame(pb, compressed = false) ++
        Array[Byte](0, 0))
    }
  }

  test("hostile bodies: truncated/negative lengths throw; batch decode drops them") {
    val pb = OtlpProto.encodeLogsRequest(OtlpProto.LogGroupRow(
      Seq.empty, Some("s"), None,
      Seq(OtlpProto.LogRecRow(Some(7L), None, None, None, Some("x"),
        Seq.empty, None))))
    intercept[IllegalArgumentException] {
      OtlpProto.logsToJson(pb.dropRight(3)) // truncated nested message
    }
    // field 1 wire 2 with a huge declared length
    intercept[IllegalArgumentException] {
      OtlpProto.logsToJson(Array[Byte](0x0a, 0x7f.toByte, 1, 2))
    }
    // batch path: one good pb body + one garbage body → one decoded row
    val df = Seq(
      (pb, "application/x-protobuf", ""),
      (Array[Byte](0x0a, 0x7f.toByte, 1), "application/x-protobuf", ""))
      .toDF("body", "ct", "ce")
    val out = OtlpProto.decodeLogsBodies(df, col("body"), col("ct"), col("ce"))
    assert(out.count() == 1)
    assert(out.select("body").collect().head.getString(0) == "x")
  }

  test("gzip bomb cap: an over-limit expansion is rejected, not buffered") {
    val big = new Array[Byte](4 * 1024 * 1024)
    val bos = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bos)
    g.write(big); g.close()
    intercept[IllegalArgumentException] {
      graft.sources.Msgpack.gunzip(bos.toByteArray, 1024 * 1024)
    }
  }

  test("encodeLogsPb groups by resource identity and round-trips through pb decode") {
    val df = Seq(
      ("svc-a", 1L, "m1", "k1"),
      ("svc-a", 2L, "m2", "k2"),
      ("svc-b", 3L, "m3", "k3"))
      .toDF("service", "ts", "msg", "attr")
    val bodies = OtlpProto.encodeLogsPb(df,
      resourceAttrs = map(lit("service.name"), col("service")),
      scopeName = lit("lib"), scopeVersion = lit("1"),
      tsUnixNano = col("ts"), observedTsUnixNano = lit(null),
      severityNumber = lit(9), severityText = lit("INFO"),
      body = col("msg"), attributes = map(lit("a"), col("attr")),
      traceId = lit(null), gzipBody = true)
    assert(bodies.count() == 2) // one body per resource identity
    val back = OtlpProto.decodeLogsBodies(bodies, col("body"),
        lit("application/x-protobuf"), lit("gzip"))
      .orderBy("ts_unix_nano")
      .select("resource_attributes", "ts_unix_nano", "body", "attributes")
      .collect()
    assert(back.length == 3)
    assert(back.map(_.getAs[Long]("ts_unix_nano")).toSeq == Seq(1L, 2L, 3L))
    assert(back.head.getAs[Map[String, String]]("resource_attributes") ==
      Map("service.name" -> "svc-a"))
    assert(back.map(_.getAs[String]("body")).toSeq == Seq("m1", "m2", "m3"))
    assert(back.head.getAs[Map[String, String]]("attributes") == Map("a" -> "k1"))
  }

  // ------------------------------------------- direct-rows path parity
  // decode*Bodies now emits rows straight from the wire bytes
  // (OtlpRows) — pin it against the original pb→proto3-JSON→from_json
  // composition, column for column, for all three signals and for the
  // application/json branch.

  private def samplePbLogs: Array[Byte] =
    OtlpProto.encodeLogsRequest(OtlpProto.LogGroupRow(
      rattrs = Seq(OtlpProto.KvPair("service.name", "svc")),
      sname = Some("lib"), sver = Some("2.0"),
      recs = Seq(
        OtlpProto.LogRecRow(Some(1700000000000000000L), None, Some(9),
          Some("INFO"), Some("hello"), Seq(OtlpProto.KvPair("k", "v")),
          Some("00112233445566778899aabbccddeeff")),
        OtlpProto.LogRecRow(None, Some(1700000000000000001L), None,
          Some("WARN"), Some("later"), Seq.empty, None),
        // out-of-range severity must null out, not clamp
        OtlpProto.LogRecRow(Some(5L), None, Some(99), None, None,
          Seq.empty, None))))

  private def samplePbMetrics: Array[Byte] =
    OtlpProto.encodeMetricsRequest(OtlpProto.MetricGroupRow(
      rattrs = Seq(OtlpProto.KvPair("service.name", "svc")),
      sname = Some("lib"), sver = Some("2.0"),
      metrics = Seq(
        OtlpProto.MetricRow(Some("g"), Some("gauge"), None, None,
          Seq(OtlpProto.MetricDpRow(Seq(OtlpProto.KvPair("h", "a")),
            Some(10L), Some(1.5), None, None, None, None, None))),
        OtlpProto.MetricRow(Some("s"), Some("sum"), Some(2), Some(true),
          Seq(OtlpProto.MetricDpRow(Seq.empty, Some(11L), Some(4.0),
            None, None, None, None, None))),
        OtlpProto.MetricRow(Some("h"), Some("histogram"), Some(2), None,
          Seq(OtlpProto.MetricDpRow(Seq.empty, Some(12L), None, Some(7L),
            Some(21.5), Some(Seq(2L, 5L)), Some(Seq(50.0)), None))),
        OtlpProto.MetricRow(Some("q"), Some("summary"), None, None,
          Seq(OtlpProto.MetricDpRow(Seq.empty, Some(13L), None, Some(3L),
            Some(9.0), None, None,
            Some(Seq(OtlpProto.QRow(0.5, 2.0), OtlpProto.QRow(0.99, 8.0)))))))))

  private def samplePbTraces: Array[Byte] =
    OtlpProto.encodeTracesRequest(OtlpProto.SpanGroupRow(
      rattrs = Seq(OtlpProto.KvPair("service.name", "svc")),
      sname = Some("lib"), sver = Some("2.0"),
      spans = Seq(
        OtlpProto.SpanRow(Some("00112233445566778899aabbccddeeff"),
          Some("0011223344556677"), Some("8899aabbccddeeff"),
          Some("sampled=1"), Some("op"), Some(2), Some(100L), Some(200L),
          Seq(OtlpProto.KvPair("k", "v")),
          Some(Seq(OtlpProto.SpanEventRow(Some(150L), Some("retry"),
            Seq(OtlpProto.KvPair("attempt", "2"))))),
          Some(2), Some("boom")),
        OtlpProto.SpanRow(Some("ffeeddccbbaa99887766554433221100"),
          Some("ffeedd0011223344"), None, None, Some("root"), None,
          Some(300L), Some(400L), Seq.empty, None, None, None))))

  test("direct pb rows match the from_json composition for all three signals") {
    val logsPb = samplePbLogs
    val direct = OtlpProto.decodeLogsBodies(
      Seq(logsPb).toDF("body"), col("body"),
      lit("application/x-protobuf"), lit(null))
      .orderBy("ts_unix_nano").collect().toSeq
    val composed = Otlp.decodeLogs(
      Seq(OtlpProto.logsToJson(logsPb)).toDF("v"), col("v")).drop("v")
      .orderBy("ts_unix_nano").collect().toSeq
    assert(direct == composed)
    assert(direct.length == 3)

    val metricsPb = samplePbMetrics
    val directM = OtlpProto.decodeMetricsBodies(
      Seq(metricsPb).toDF("body"), col("body"),
      lit("application/x-protobuf"), lit(null))
      .orderBy("ts_unix_nano").collect().toSeq
    val composedM = Otlp.decodeMetrics(
      Seq(OtlpProto.metricsToJson(metricsPb)).toDF("v"), col("v")).drop("v")
      .orderBy("ts_unix_nano").collect().toSeq
    assert(directM == composedM)
    assert(directM.length == 4)

    val tracesPb = samplePbTraces
    val directT = OtlpProto.decodeTracesBodies(
      Seq(tracesPb).toDF("body"), col("body"),
      lit("application/x-protobuf"), lit(null))
      .orderBy("start_unix_nano").collect().toSeq
    val composedT = Otlp.decodeTraces(
      Seq(OtlpProto.tracesToJson(tracesPb)).toDF("v"), col("v")).drop("v")
      .orderBy("start_unix_nano").collect().toSeq
    assert(directT == composedT)
    assert(directT.length == 2)
  }

  test("application/json bodies take the Jackson twin and match from_json") {
    val jsonLogs = OtlpProto.logsToJson(samplePbLogs)
    val direct = OtlpProto.decodeLogsBodies(
      Seq(jsonLogs.getBytes("UTF-8")).toDF("body"), col("body"),
      lit("application/json"), lit(null))
      .orderBy("ts_unix_nano").collect().toSeq
    val composed = Otlp.decodeLogs(Seq(jsonLogs).toDF("v"), col("v"))
      .drop("v").orderBy("ts_unix_nano").collect().toSeq
    assert(direct == composed)

    val jsonMetrics = OtlpProto.metricsToJson(samplePbMetrics)
    val directM = OtlpProto.decodeMetricsBodies(
      Seq(jsonMetrics.getBytes("UTF-8")).toDF("body"), col("body"),
      lit("application/json"), lit(null))
      .orderBy("ts_unix_nano").collect().toSeq
    val composedM = Otlp.decodeMetrics(Seq(jsonMetrics).toDF("v"), col("v"))
      .drop("v").orderBy("ts_unix_nano").collect().toSeq
    assert(directM == composedM)

    val jsonTraces = OtlpProto.tracesToJson(samplePbTraces)
    val directT = OtlpProto.decodeTracesBodies(
      Seq(jsonTraces.getBytes("UTF-8")).toDF("body"), col("body"),
      lit("application/json"), lit(null))
      .orderBy("start_unix_nano").collect().toSeq
    val composedT = Otlp.decodeTraces(Seq(jsonTraces).toDF("v"), col("v"))
      .drop("v").orderBy("start_unix_nano").collect().toSeq
    assert(directT == composedT)
  }
}
