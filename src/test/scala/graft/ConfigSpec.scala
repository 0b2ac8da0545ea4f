package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.config.ClassicConfig

/** Classic-mode config frontend: the reference's ini-style pipeline files
  * assemble into tag-routed frames (inputs → match-gated filters →
  * stream task → formatted outputs) — the "switch without rewriting your
  * config" path.
  */
class ConfigSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("parse: sections, repeated keys, comments, key-only entries") {
    val s = ClassicConfig.parse(
      """# pipeline (full-line comment)
        |[FILTER]
        |    name  grep
        |    # rules follow
        |    regex log a
        |    regex log ERROR#\d+
        |[OUTPUT]
        |    name null
        |""".stripMargin)
    assert(s.map(_.name) == Seq("FILTER", "OUTPUT"))
    // inline '#' is part of the value (only full lines are comments)
    assert(s.head.all("regex") == Seq("log a", "log ERROR#\\d+"))
    assert(s.head.get("name").contains("grep"))
  }

  test("full conf: parser + grep + modify + stream task + routed outputs") {
    val web = Seq(
      "GET /index 200 1043",
      "GET /admin 500 12",
      "POST /login 200 88"
    ).toDF("log").withColumn("tag", lit("app.web"))
    val audit = Seq("login ok").toDF("log").withColumn("tag", lit("audit"))

    val conf =
      """[INPUT]
        |    name lib
        |    tag  app.web
        |[INPUT]
        |    name lib
        |    tag  audit
        |[PARSER]
        |    name   access
        |    format regex
        |    regex  ^(?<method>[A-Z]+) (?<uri>\S+) (?<status>\d+) (?<bytes>\d+)$
        |[FILTER]
        |    name         parser
        |    match        app.*
        |    key_name     log
        |    parser       access
        |    reserve_data on
        |[FILTER]
        |    name    grep
        |    match   app.*
        |    exclude method ^POST$
        |[FILTER]
        |    name  modify
        |    match *
        |    add   host graft-1
        |[STREAM_TASK]
        |    name errors
        |    exec SELECT COUNT(*) AS n FROM TAG:'app.*' WHERE status = '500';
        |[OUTPUT]
        |    name   file
        |    match  app.*
        |    format json
        |[OUTPUT]
        |    name  null
        |    match audit
        |""".stripMargin

    val outs = ClassicConfig.assemble(spark, conf,
      streams = Map("app.web" -> web, "audit" -> audit))

    // the SP task runs on the post-filter flow (flb_input_chunk.c:3355
    // taps the SP after the filter chain) — POST row already dropped
    val n = outs("stream_task:errors").collect().head.getAs[Long]("n")
    assert(n == 1L)

    val fileLines = outs("file:app.*").select("line").as[String].collect()
    assert(fileLines.length == 2) // POST excluded, audit routed away
    assert(fileLines.forall(_.contains("\"host\":\"graft-1\"")))
    assert(fileLines.exists(l => l.contains("\"status\":\"500\"") &&
      l.contains("\"uri\":\"/admin\"")))

    assert(outs("null:audit").count() == 0)
  }

  test("the same conf assembles a STREAMING pipeline from a streaming input") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, String)]
    val streamingInput = in.toDF().toDF("level", "log")
      .withColumn("tag", lit("app.web"))
    val conf =
      """[INPUT]
        |    name lib
        |    tag  app.web
        |[FILTER]
        |    name  grep
        |    match app.*
        |    regex level ^error$
        |[FILTER]
        |    name  modify
        |    match *
        |    add   host graft-1
        |[OUTPUT]
        |    name   file
        |    match  app.*
        |    format json
        |""".stripMargin
    val outs = ClassicConfig.assemble(spark, conf,
      streams = Map("app.web" -> streamingInput))
    val out = outs("file:app.*")
    assert(out.isStreaming, "config over a streaming input must stay streaming")
    val q = out.writeStream.format("memory").queryName("conf_stream")
      .outputMode("append").start()
    try {
      in.addData(("error", "boom"), ("info", "fine"), ("error", "again"))
      q.processAllAvailable()
    } finally q.stop()
    val lines = spark.table("conf_stream").select("line").as[String].collect()
    assert(lines.length == 2)
    assert(lines.forall(l => l.contains("\"level\":\"error\"") &&
      l.contains("\"host\":\"graft-1\"")))
  }

  test("rewrite_tag rule with $1 capture re-tags through the config") {
    val in = Seq(("error", 1L), ("info", 2L)).toDF("level", "id")
      .withColumn("tag", lit("app.log"))
    val conf =
      """[INPUT]
        |    name lib
        |    tag  app.log
        |[FILTER]
        |    name  rewrite_tag
        |    match app.*
        |    rule  $level ^(err)or$ alert.$1 false
        |[OUTPUT]
        |    name   file
        |    match  alert.*
        |    format json
        |""".stripMargin
    val outs = ClassicConfig.assemble(spark, conf, streams = Map("app.log" -> in))
    val lines = outs("file:alert.*").select("tag").as[String].collect()
    assert(lines.toSeq == Seq("alert.err"))
  }

  test("parser filter leaves unparseable records untouched (FLB_FILTER_NOTOUCH)") {
    val in = Seq("GET /a 200 10", "not an access line").toDF("log")
      .withColumn("tag", lit("app.web"))
    val conf =
      """[INPUT]
        |    name lib
        |    tag  app.web
        |[PARSER]
        |    name   access
        |    format regex
        |    regex  ^(?<method>[A-Z]+) (?<uri>\S+) (?<status>\d+) (?<bytes>\d+)$
        |[FILTER]
        |    name     parser
        |    match    app.*
        |    key_name log
        |    parser   access
        |[OUTPUT]
        |    name   file
        |    match  *
        |    format json
        |""".stripMargin
    val outs = ClassicConfig.assemble(spark, conf, streams = Map("app.web" -> in))
    val lines = outs("file:*").select("line").as[String].collect().toSet
    // parsed record: groups only (reserve_data off); unparsed record:
    // original log field intact, no fabricated group values
    assert(lines.exists(l => l.contains("\"method\":\"GET\"") && !l.contains("not an")))
    assert(lines.exists(l => l.contains("\"log\":\"not an access line\"")))
  }

  test("rewrite_tag Match pattern gates the rules: other tags pass untouched") {
    val in = Seq(("error", "app.log", 1L), ("error", "db.log", 2L))
      .toDF("level", "tag", "id")
    val conf =
      """[INPUT]
        |    name lib
        |    tag  app.log
        |[FILTER]
        |    name  rewrite_tag
        |    match app.*
        |    rule  $level ^error$ alert false
        |[OUTPUT]
        |    name   file
        |    match  *
        |    format json
        |""".stripMargin
    val outs = ClassicConfig.assemble(spark, conf, streams = Map("app.log" -> in))
    val tags = outs("file:*").select("tag").as[String].collect().sorted.toSeq
    // app.log (level=error) re-tagged; db.log untouched despite matching
    // the field regex — the filter's Match never admitted it
    assert(tags == Seq("alert", "db.log"))
  }

  test("duplicate outputs with the same plugin and match both survive") {
    val in = Seq(("x", 1L)).toDF("v", "id").withColumn("tag", lit("t"))
    val conf =
      """[INPUT]
        |    name lib
        |    tag  t
        |[OUTPUT]
        |    name   file
        |    match  *
        |    format json
        |[OUTPUT]
        |    name   file
        |    match  *
        |    format plain
        |""".stripMargin
    val outs = ClassicConfig.assemble(spark, conf, streams = Map("t" -> in))
    assert(outs.keySet == Set("file:*", "file:*#1"))
  }

  test("loki output: label sets from static + record-accessor values") {
    val in = Seq(
      ("checkout", "boom", 10L, 1000000000L),
      ("checkout", "ok", 11L, 2000000000L),
      ("billing", "late", 12L, 3000000000L)
    ).toDF("app", "log", "id", "ts_ns").withColumn("tag", lit("svc"))
    val conf =
      """[INPUT]
        |    name lib
        |    tag  svc
        |[OUTPUT]
        |    name   loki
        |    match  *
        |    labels job=graft,app=$app
        |""".stripMargin
    val outs = ClassicConfig.assemble(spark, conf, streams = Map("svc" -> in))
    val bodies = outs("loki:*").select("body").as[String].collect()
    assert(bodies.length == 2) // one push body per (job, app) label set
    val checkout = bodies.find(_.contains("\"app\":\"checkout\"")).get
    assert(checkout.contains("\"job\":\"graft\""))
    assert(checkout.contains("[\"1000000000\",\"{\\\"app\\\":\\\"checkout\\\",\\\"log\\\":\\\"boom\\\",\\\"id\\\":10}\"]"))
    assert(checkout.contains("\"2000000000\""))
    assert(!checkout.contains("billing"))
  }

  test("datadog output: config-driven source/service/tags, record message") {
    val in = Seq(("oops", 5L, 2000000000L))
      .toDF("log", "id", "ts_ns").withColumn("tag", lit("app.web"))
    val conf =
      """[INPUT]
        |    name lib
        |    tag  app.web
        |[OUTPUT]
        |    name       datadog
        |    match      *
        |    dd_source  nginx
        |    dd_tags    env:prod
        |    hostname   h1
        |""".stripMargin
    val outs = ClassicConfig.assemble(spark, conf, streams = Map("app.web" -> in))
    val line = outs("datadog:*").select("line").as[String].collect()(0)
    assert(line.contains("\"timestamp\":2000"))
    assert(line.contains("\"ddsource\":\"nginx\""))
    assert(line.contains("\"service\":\"app.web\"")) // defaults to the tag
    assert(line.contains("\"hostname\":\"h1\""))
    assert(line.contains("\"ddtags\":\"env:prod\""))
    assert(line.contains("\"message\":\"oops\""))
  }

  // ------------------------------------------------ per-row Match gating
  // Each gated op below runs under a non-`*` Match over two tags. The
  // expected lines are the exact `to_json` output, key order included,
  // of the split-filter-union plans the per-row form replaced.

  /** Every line of output `id` as `tag line`, sorted. */
  private def tagged(outs: Map[String, DataFrame], id: String): Seq[String] =
    outs(id).select(concat_ws(" ", col("tag"), col("line"))).as[String]
      .collect().sorted.toSeq

  private def webAndSys(web: DataFrame, sys: DataFrame, filters: String,
                        outputs: String = ""): Map[String, DataFrame] =
    ClassicConfig.assemble(spark,
      s"""[INPUT]
         |    name lib
         |    tag  app.web
         |[INPUT]
         |    name lib
         |    tag  sys.log
         |$filters
         |[OUTPUT]
         |    name   file
         |    match  *
         |    format json
         |$outputs""".stripMargin,
      streams = Map("app.web" -> web, "sys.log" -> sys))

  test("parser under Match app.*: reserve_data x preserve_key, unparseable line, other tag") {
    val web = Seq(("GET /a 200", "old", 1L), ("PUT /b 500", "old", 2L),
      ("not an access line", "old", 3L)).toDF("log", "code", "id")
    val sys = Seq(("GET /c 200", "kernel", 4L)).toDF("log", "unit", "id")
    def lines(reserve: String, preserve: String): Seq[String] = tagged(webAndSys(web, sys,
      s"""[PARSER]
         |    name   access
         |    format regex
         |    regex  ^(?<method>[A-Z]+) (?<path>\\S+) (?<code>\\d+)$$
         |[FILTER]
         |    name         parser
         |    match        app.*
         |    key_name     log
         |    parser       access
         |    reserve_data $reserve
         |    preserve_key $preserve""".stripMargin), "file:*")
    assert(lines("off", "off") == Seq(
      "app.web {\"code\":\"old\",\"log\":\"not an access line\",\"id\":3}",
      "app.web {\"method\":\"GET\",\"path\":\"/a\",\"code\":\"200\"}",
      "app.web {\"method\":\"PUT\",\"path\":\"/b\",\"code\":\"500\"}",
      "sys.log {\"log\":\"GET /c 200\",\"id\":4,\"unit\":\"kernel\"}"))
    assert(lines("off", "on") == Seq(
      "app.web {\"code\":\"old\",\"log\":\"not an access line\",\"id\":3}",
      "app.web {\"method\":\"GET\",\"path\":\"/a\",\"code\":\"200\",\"log\":\"GET /a 200\"}",
      "app.web {\"method\":\"PUT\",\"path\":\"/b\",\"code\":\"500\",\"log\":\"PUT /b 500\"}",
      "sys.log {\"log\":\"GET /c 200\",\"id\":4,\"unit\":\"kernel\"}"))
    assert(lines("on", "off") == Seq(
      "app.web {\"code\":\"200\",\"id\":1,\"method\":\"GET\",\"path\":\"/a\"}",
      "app.web {\"code\":\"500\",\"id\":2,\"method\":\"PUT\",\"path\":\"/b\"}",
      "app.web {\"code\":\"old\",\"id\":3,\"log\":\"not an access line\"}",
      "sys.log {\"id\":4,\"unit\":\"kernel\",\"log\":\"GET /c 200\"}"))
    assert(lines("on", "on") == Seq(
      "app.web {\"log\":\"GET /a 200\",\"code\":\"200\",\"id\":1,\"method\":\"GET\",\"path\":\"/a\"}",
      "app.web {\"log\":\"PUT /b 500\",\"code\":\"500\",\"id\":2,\"method\":\"PUT\",\"path\":\"/b\"}",
      "app.web {\"log\":\"not an access line\",\"code\":\"old\",\"id\":3}",
      "sys.log {\"log\":\"GET /c 200\",\"id\":4,\"unit\":\"kernel\"}"))
  }

  test("modify under Match app.* with a Condition: rename, hard_rename, add, set, copy") {
    val web = Seq(("error", "h1", "u1", "a1", "new", 1L), ("info", "h2", "u2", null, "new", 2L))
      .toDF("level", "host", "user", "account", "stage", "id")
    val sys = Seq(("error", "s1", 3L)).toDF("level", "host", "id")
    val outs = webAndSys(web, sys,
      """[FILTER]
        |    name        modify
        |    match       app.*
        |    condition   key_value_equals level error
        |    rename      host remote
        |    rename      id level
        |    hard_rename user account
        |    add         env prod
        |    add         level ignored
        |    set         stage done
        |    copy        level severity""".stripMargin)
    assert(tagged(outs, "file:*") == Seq(
      "app.web {\"level\":\"error\",\"remote\":\"h1\",\"account\":\"u1\",\"stage\":\"done\",\"id\":1,\"env\":\"prod\",\"severity\":\"error\"}",
      "app.web {\"level\":\"info\",\"remote\":\"h2\",\"account\":\"u2\",\"stage\":\"new\",\"id\":2}",
      "sys.log {\"level\":\"error\",\"id\":3,\"host\":\"s1\"}"))
  }

  test("rewrite_tag keep=true chained over two hops keeps every copy") {
    val web = Seq(("error", 1L), ("error", 1L), ("info", 2L)).toDF("level", "id")
    val sys = Seq(("error", 3L)).toDF("level", "id")
    val outs = webAndSys(web, sys,
      """[FILTER]
        |    name  rewrite_tag
        |    match a*
        |    rule  $tag ^alert\.err$ page.err true
        |    rule  $level ^(err)or$ alert.$1 true""".stripMargin,
      """[OUTPUT]
        |    name   file
        |    match  page.*
        |    format json""".stripMargin)
    assert(tagged(outs, "file:*") == Seq(
      "alert.err {\"level\":\"error\",\"id\":1}",
      "alert.err {\"level\":\"error\",\"id\":1}",
      "app.web {\"level\":\"error\",\"id\":1}",
      "app.web {\"level\":\"error\",\"id\":1}",
      "app.web {\"level\":\"info\",\"id\":2}",
      "page.err {\"level\":\"error\",\"id\":1}",
      "page.err {\"level\":\"error\",\"id\":1}",
      "sys.log {\"level\":\"error\",\"id\":3}"))
    assert(tagged(outs, "file:page.*") == Seq(
      "page.err {\"level\":\"error\",\"id\":1}",
      "page.err {\"level\":\"error\",\"id\":1}"))
  }

  test("a record with a null tag is dropped by every Match-gated filter but rewrite_tag") {
    // No Match admits a NULL tag, so the gated filters drop the record;
    // nothing counts the drop. rewrite_tag passes it through.
    val in = Seq[(String, String)](("app.web", "GET /a 200"), ("sys.log", "x"), (null, "y"))
      .toDF("tag", "log")
    val filters = Seq(
      "name grep\n    match app.*\n    exclude log ^zzz$",
      "name grep\n    match *\n    exclude log ^zzz$",
      "name parser\n    match app.*\n    key_name log\n    parser access",
      "name modify\n    match app.*\n    add env prod",
      "name record_modifier\n    match app.*\n    record env prod",
      "name content_modifier\n    match app.*\n    action insert\n    key env\n    value prod",
      "name rewrite_tag\n    match app.*\n    rule $log ^GET alert false")
    val counts = filters.map { f =>
      val outs = ClassicConfig.assemble(spark,
        s"""[INPUT]
           |    name lib
           |    tag  app.web
           |[PARSER]
           |    name   access
           |    format regex
           |    regex  ^(?<method>[A-Z]+) (?<path>\\S+)
           |[FILTER]
           |    $f
           |[STREAM_TASK]
           |    name all
           |    exec SELECT COUNT(*) AS n FROM STREAM:CONF;""".stripMargin,
        streams = Map("app.web" -> in))
      outs("stream_task:all").collect().head.getAs[Long]("n")
    }
    assert(counts == Seq(2L, 2L, 2L, 2L, 2L, 2L, 3L))
  }
}
