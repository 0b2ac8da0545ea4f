package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.LuaContract
import graft.ops.LuaContract.Record
import graft.sources.Sources

/** Second-wave operators: the lua-contract UDF surface and the file
  * sources (SURVEY §2.3 lua / §2.9 in_tail analogues).
  */
class Ops2Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("lua contract: drop / keep / modify / split per return code") {
    val in = Seq(
      Record("t", 10, Map("k" -> "drop_me")),
      Record("t", 20, Map("k" -> "keep")),
      Record("t", 30, Map("k" -> "retime")),
      Record("t", 40, Map("k" -> "split"))).toDS()
    val out = LuaContract.applyTo(spark, in) { (_, ts, body) =>
      body("k") match {
        case "drop_me" => (-1, ts, Nil)
        case "keep" => (0, ts, Nil)
        case "retime" => (1, 999L, Seq(body + ("extra" -> "1")))
        case "split" => (2, ts, Seq(Map("part" -> "a"), Map("part" -> "b")))
      }
    }.collect().sortBy(_.tsSec)
    assert(out.length == 4)
    assert(out(0) == Record("t", 20, Map("k" -> "keep")))
    assert(out.count(_.body.get("part").nonEmpty) == 2) // split → 2 records
    assert(out.exists(r => r.tsSec == 999 && r.body.get("extra").contains("1")))
    assert(!out.exists(_.body.get("k").contains("drop_me")))
  }

  test("avro sink golden: container files round-trip typed records per partition") {
    import graft.sinks.AvroSink
    val dir = java.nio.file.Files.createTempDirectory("graft_avro").toString
    val df = Seq(
      (1L, "app.a", 1.5, true, "hello"),
      (2L, "app.b", -0.25, false, null: String)
    ).toDF("id", "tag", "score", "ok", "msg").repartition(2)
    AvroSink.write(df, dir)
    val got = AvroSink.readAll(dir).map(m => m("id") -> m).toMap
    assert(got.size == 2)
    assert(got(1L)("tag") == "app.a" && got(1L)("score") == 1.5 && got(1L)("ok") == true)
    assert(got(2L)("msg") == null) // nullable column -> avro null union
    // schema is faithful: long/double/boolean/string + null unions
    val s = AvroSink.avroSchema(df.schema)
    assert(s.getField("id").schema().toString.contains("long"))
    assert(s.getField("msg").schema().getTypes.size() == 2)
  }

  test("throttle_size admit-only: a dropped record's bytes do not consume budget") {
    import graft.ops.ThrottleSize
    // sizes 50, 30, 5 with cap 60: 50 admitted, 30 dropped (80 > 60),
    // 5 still admitted (55 <= 60). A cumulative sum would drop the 5 too.
    val df = Seq((1L, 10L, 50), (2L, 20L, 30), (3L, 30L, 5))
      .toDF("id", "ts_sec", "sz")
    val out = ThrottleSize(df, Seq(lit("k")), col("ts_sec"), Seq(col("id")),
      col("sz"), paneSeconds = 3600L, maxBytes = 60L)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(out.toSeq == Seq(1L, 3L))
  }

  test("csv line: NULL keeps its delimiter slot; embedded quotes escape") {
    import graft.sinks.Formats
    val df = Seq(("a", null: String, "c"), ("x\"y", "p,q", "z"))
      .toDF("f1", "f2", "f3")
    val out = df.select(Formats.csvLine(Seq(col("f1"), col("f2"), col("f3")))
      .as("line")).collect().map(_.getString(0))
    assert(out(0) == "a,,c")
    assert(out(1) == "\"x\"\"y\",\"p,q\",z")
  }

  test("conditions: empty rule list passes; in with a scalar value is a config error") {
    import graft.ops.Conditions
    val df = Seq(("a", 1)).toDF("k", "v")
    assert(df.filter(Conditions.combine(Nil)).count() == 1)
    val bad = Conditions.Rule(col("k"), Conditions.In, "not-a-list")
    val e = intercept[IllegalArgumentException](Conditions.compile(bad))
    assert(e.getMessage.contains("needs a list value"))
  }

  test("rewrite_tag re-injection: chained rules converge within the hop bound") {
    import graft.ops.RewriteTag
    val df = Seq((1L, "app.error"), (2L, "app.info"), (3L, "svc.error"))
      .toDF("id", "tag")
    // hop 1: app.error → alert.app ; hop 2: alert.* → page.alert
    val rules = Seq(
      RewriteTag.Rule(col("tag"), "^app\\.error$", lit("alert.app"), keep = false),
      RewriteTag.Rule(col("tag"), "^alert\\..*$", lit("page.alert"), keep = false))
    val out = RewriteTag.reinjectLoop(df, "tag", rules, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "page.alert") // two rewrites in sequence
    assert(out(2L) == "app.info")   // never matched, unchanged
    assert(out(3L) == "svc.error")
    assert(out.size == 3)           // keep=false: no duplicates
  }

  test("tail sampling conditions: attribute match types and span-count range") {
    import graft.ops.TailSampling
    val spans = Seq(
      ("t1", "s1", "db", 10L, true),   // t1: 1 span
      ("t2", "s2", "web", 900L, false),
      ("t2", "s3", "web", 5L, false),
      ("t2", "s4", "cache", 5L, false) // t2: 3 spans
    ).toDF("trace_id", "span_id", "service", "latency", "sampled_flag")
    // string attribute: strict / exists / regex
    assert(spans.filter(TailSampling.stringAttributePolicy(
      col("service"), Seq("db", "queue"))).count() == 1)
    assert(spans.filter(TailSampling.stringAttributePolicy(
      col("service"), Nil, "exists")).count() == 4)
    assert(spans.filter(TailSampling.stringAttributePolicy(
      col("service"), Seq("^w.b$"), "regex")).count() == 2)
    // numeric range and boolean
    assert(spans.filter(TailSampling.numericAttributePolicy(
      col("latency"), 100L, 1000L)).count() == 1)
    assert(spans.filter(TailSampling.booleanAttributePolicy(
      col("sampled_flag"), expected = true)).count() == 1)
    // span_count: whole traces with 2..5 spans
    val kept = TailSampling.keepTracesBySpanCount(spans, col("trace_id"), 2L, 5L)
    assert(kept.select("trace_id").distinct().as[String].collect().toSeq == Seq("t2"))
    // trace_state substring
    val ts = Seq(("vendor=x,sampled=1"), ("other=y")).toDF("trace_state")
    assert(ts.filter(TailSampling.traceStatePolicy(
      col("trace_state"), Seq("sampled=1"))).count() == 1)
  }

  test("modify MOVE_TO_START reorders matching keys to the front") {
    import graft.ops.Modify
    val df = Seq((1, "x", "y")).toDF("id", "meta_a", "val")
    val out = Modify(df, Seq(Modify.MoveToStart("meta_")))
    assert(out.columns.toSeq == Seq("meta_a", "id", "val"))
    val out2 = Modify(df, Seq(Modify.MoveToEnd("id")))
    assert(out2.columns.toSeq == Seq("meta_a", "val", "id"))
  }

  test("dummy rate source emits tagged log events; counter sink counts per tag") {
    val src = graft.streaming.Streams.dummy(spark, "dummy.0", "hello", 100)
    assert(src.isStreaming)
    assert(src.columns.toSeq == Seq("tag", "ts", "message", "seq"))
    val counted = src.groupBy(col("tag")).agg(count(lit(1)).as("records"))
    val q = counted.writeStream.format("memory").queryName("cnt_out")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      var tries = 0
      while (spark.table("cnt_out").isEmpty && tries < 50) {
        Thread.sleep(200); q.processAllAvailable(); tries += 1
      }
    } finally q.stop()
    val rows = spark.table("cnt_out").collect()
    assert(rows.nonEmpty && rows.head.getString(0) == "dummy.0")
    assert(rows.head.getLong(1) > 0)
  }

  test("conditions framework: all ten operators with NULL=>false, AND/OR combine") {
    import graft.ops.Conditions
    import graft.ops.Conditions._
    val df = Seq(
      (1L, Some("error"), Some(10.0)),
      (2L, Some("info"), Some(99.0)),
      (3L, None, None) // missing fields must fail rules, never error
    ).toDF("id", "level", "v")
    def ids(c: org.apache.spark.sql.Column): Set[Long] =
      df.filter(c).select("id").collect().map(_.getLong(0)).toSet

    assert(ids(compile(Rule(col("level"), Eq, "error"))) == Set(1L))
    assert(ids(compile(Rule(col("level"), Neq, "error"))) == Set(2L))
    assert(ids(compile(Rule(col("v"), Gt, 50.0))) == Set(2L))
    assert(ids(compile(Rule(col("v"), Lte, 10.0))) == Set(1L))
    assert(ids(compile(Rule(col("level"), Regex, "^err"))) == Set(1L))
    assert(ids(compile(Rule(col("level"), NotRegex, "^err"))) == Set(2L))
    assert(ids(compile(Rule(col("level"), In, Seq[Any]("error", "warn")))) == Set(1L))
    assert(ids(compile(Rule(col("level"), NotIn, Seq[Any]("error", "warn")))) == Set(2L))
    assert(ids(Conditions.combine(Seq(
      Rule(col("level"), Eq, "info"), Rule(col("v"), Gte, 90.0)), "and")) == Set(2L))
    assert(ids(Conditions.combine(Seq(
      Rule(col("level"), Eq, "error"), Rule(col("v"), Gt, 90.0)), "or")) == Set(1L, 2L))
  }

  test("ndjson source reads typed columns; text source tags by file") {
    val dir = java.nio.file.Files.createTempDirectory("graft_src").toFile
    val f = new java.io.File(dir, "part1.jsonl")
    val pw = new java.io.PrintWriter(f)
    pw.println("""{"id": 1, "msg": "hello", "n": 1.5}""")
    pw.println("""{"id": 2, "msg": "world", "n": 2.5}""")
    pw.close()
    val df = Sources.ndjson(spark, f.getAbsolutePath, "id BIGINT, msg STRING, n DOUBLE")
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq == Seq("hello", "world"))

    val lines = Sources.textLines(spark, f.getAbsolutePath)
    assert(lines.count() == 2)
    assert(lines.select("tag").head.getString(0).contains("part1.jsonl"))

    val tagged = Sources.withTag(df, "app", suffix = Some("msg"))
    assert(tagged.filter(col("tag") === "app.hello").count() == 1)
  }
}
