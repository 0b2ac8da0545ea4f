package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.config.{ClassicConfig, Yaml, YamlConfig}
import graft.config.Yaml.{YMap, YSeq, YStr}

/** YAML config frontend: the reference's modern pipeline format
  * (flb_cf_yaml.c) — parser subset, section translation, and
  * classic↔yaml assembly equivalence.
  */
class YamlSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // ------------------------------------------------------------ parser

  test("parse: nested mappings, sequences, inline map items") {
    val m = Yaml.parse(
      """service:
        |  flush: 1
        |  log_level: info
        |pipeline:
        |  inputs:
        |    - name: tail
        |      path: /var/log/app.log
        |      tag: app.log
        |    - name: dummy
        |  outputs:
        |    - name: stdout
        |      match: '*'
        |""".stripMargin)
    val svc = m.get("service").get.asInstanceOf[YMap]
    assert(svc.str("flush").contains("1"))
    assert(svc.str("log_level").contains("info"))
    val pipe = m.get("pipeline").get.asInstanceOf[YMap]
    val ins = pipe.seq("inputs")
    assert(ins.size == 2)
    assert(ins(0).asInstanceOf[YMap].str("path").contains("/var/log/app.log"))
    assert(ins(1).asInstanceOf[YMap].str("name").contains("dummy"))
    val outs = pipe.seq("outputs")
    assert(outs(0).asInstanceOf[YMap].str("match").contains("*"))
  }

  test("parse: comments, doc markers, blank lines, trailing comments") {
    val m = Yaml.parse(
      """---
        |# full-line comment
        |a: 1   # trailing comment
        |
        |b: value # with # later hash
        |c: "quoted # not a comment"
        |d: 'single # also kept'
        |""".stripMargin)
    assert(m.str("a").contains("1"))
    assert(m.str("b").contains("value"))
    assert(m.str("c").contains("quoted # not a comment"))
    assert(m.str("d").contains("single # also kept"))
  }

  test("parse: quoted scalars and escapes") {
    val m = Yaml.parse(
      """a: "line\nbreak"
        |b: 'it''s quoted'
        |c: "tab\there"
        |'quoted key': v
        |""".stripMargin)
    assert(m.str("a").contains("line\nbreak"))
    assert(m.str("b").contains("it's quoted"))
    assert(m.str("c").contains("tab\there"))
    assert(m.str("quoted key").contains("v"))
  }

  test("parse: literal block scalar keeps newlines; folded joins") {
    val m = Yaml.parse(
      """code: |
        |  function f(x)
        |    return x + 1
        |  end
        |next_key: here
        |folded: >
        |  one
        |  two
        |
        |  three
        |stripped: |-
        |  no trailing
        |""".stripMargin)
    assert(m.str("code").contains("function f(x)\n  return x + 1\nend\n"))
    assert(m.str("next_key").contains("here"))
    assert(m.str("folded").contains("one two\nthree\n"))
    assert(m.str("stripped").contains("no trailing"))
  }

  test("parse: empty block scalar does not swallow the next key") {
    val m = Yaml.parse(
      """a: |
        |b: after
        |""".stripMargin)
    assert(m.str("a").contains(""))
    assert(m.str("b").contains("after"))
  }

  test("parse: flow sequence and flow mapping") {
    val m = Yaml.parse(
      """list: [a, b, "c, d"]
        |map: {k: v, n: 2}
        |""".stripMargin)
    assert(m.get("list").get == YSeq(Vector(YStr("a"), YStr("b"), YStr("c, d"))))
    val fm = m.get("map").get.asInstanceOf[YMap]
    assert(fm.str("k").contains("v") && fm.str("n").contains("2"))
  }

  test("parse: sequence of scalars under a property (slist)") {
    val m = Yaml.parse(
      """pipeline:
        |  inputs:
        |    - name: http
        |      success_header:
        |        - foo bar
        |        - bar foo
        |""".stripMargin)
    val in = m.get("pipeline").get.asInstanceOf[YMap]
      .seq("inputs")(0).asInstanceOf[YMap]
    assert(in.seq("success_header") ==
      Vector(YStr("foo bar"), YStr("bar foo")))
  }

  test("parse: sequence at the same indent as its key") {
    val m = Yaml.parse(
      """parsers:
        |- name: json
        |  format: json
        |- name: re
        |  format: regex
        |""".stripMargin)
    assert(m.seq("parsers").size == 2)
  }

  test("parse: deep nesting (processors under an input)") {
    val m = Yaml.parse(
      """pipeline:
        |  inputs:
        |    - name: dummy
        |      processors:
        |        logs:
        |          - name: record_modifier
        |            record:
        |              - powered_by graft
        |          - name: content_modifier
        |            action: insert
        |            key: k
        |            value: v
        |  outputs:
        |    - name: stdout
        |      match: '*'
        |""".stripMargin)
    val in = m.get("pipeline").get.asInstanceOf[YMap]
      .seq("inputs")(0).asInstanceOf[YMap]
    val logs = in.get("processors").get.asInstanceOf[YMap].seq("logs")
    assert(logs.size == 2)
    assert(logs(1).asInstanceOf[YMap].str("action").contains("insert"))
  }

  test("parse: tabs in indentation and leftover content are errors") {
    intercept[IllegalArgumentException](Yaml.parse("a:\n\tb: 1"))
    intercept[IllegalArgumentException](
      Yaml.parse("a: 1\n    stray: deeper\nb: 2"))
  }

  test("parse: tab-indented CONTENT inside a block scalar is fine") {
    // lua code is commonly tab-indented; only STRUCTURAL tab
    // indentation is a YAML error
    val m = Yaml.parse(
      "code: |\n  function f()\n  \treturn 1\n  end\nafter: ok\n")
    assert(m.str("code").contains("function f()\n\treturn 1\nend\n"))
    assert(m.str("after").contains("ok"))
  }

  test("parse: '#' at value start is a comment; key gets nested block") {
    val m = Yaml.parse(
      """pipeline:   # main pipeline
        |  inputs:
        |    - name: dummy
        |empty: # just a note
        |""".stripMargin)
    assert(m.get("pipeline").get.asInstanceOf[YMap].seq("inputs").size == 1)
    assert(m.str("empty").contains(""))
  }

  test("parse: flow collections as sequence items") {
    val m = Yaml.parse(
      """rules:
        |  - {state: start_state, regex: "/^E/", next_state: cont}
        |  - [a, b]
        |""".stripMargin)
    val rules = m.seq("rules")
    assert(rules(0).asInstanceOf[YMap].str("state").contains("start_state"))
    assert(rules(1) == YSeq(Vector(YStr("a"), YStr("b"))))
  }

  test("parse: ' #' inside a quoted flow scalar is content, not comment") {
    val m = Yaml.parse("list: [a, \"x # y\"]  # trailing ok\n")
    assert(m.get("list").get == YSeq(Vector(YStr("a"), YStr("x # y"))))
  }

  // ----------------------------------------------------- interpolation

  test("env interpolation: config env, then empty for undefined") {
    assert(YamlConfig.interpolate("x-${name}-y", Map("name" -> "N")) == "x-N-y")
    assert(YamlConfig.interpolate("x-${undefined_graft_var}-y", Map.empty) == "x--y")
    assert(YamlConfig.interpolate("no vars", Map("a" -> "b")) == "no vars")
  }

  test("env interpolation: bash-style ${VAR:-default} (flb_env.c:315)") {
    // unset -> default; do not assign
    assert(YamlConfig.interpolate("${graft_unset_v:-fb}", Map.empty) == "fb")
    // set non-empty -> value wins over the default
    assert(YamlConfig.interpolate("${n:-fb}", Map("n" -> "V")) == "V")
    // set EMPTY -> default (the reference skips an empty hit when a
    // fallback is defined, flb_env.c:395)
    assert(YamlConfig.interpolate("${n:-fb}", Map("n" -> "")) == "fb")
    // empty default text is a valid default
    assert(YamlConfig.interpolate("[${graft_unset_v:-}]", Map.empty) == "[]")
    // the separator is the FIRST ':' and only when followed by '-':
    // `${a:b:-c}` has ':b' first, so the WHOLE body is the (missing) name
    assert(YamlConfig.interpolate("${a:b:-c}", Map("a" -> "X")) == "")
    // default text may itself contain ':' (split once, at the first ':-')
    assert(YamlConfig.interpolate("${u:-h:p}", Map.empty) == "h:p")
  }

  // ------------------------------------------------- round-15 parser fixes

  test("parse: keep-chomping |+ does not double the final newline") {
    // trailing-newline source: |+ keeps exactly the one final break
    assert(Yaml.parse("k: |+\n  a\n").str("k").contains("a\n"))
    // a real trailing blank line IS kept
    assert(Yaml.parse("k: |+\n  a\n\nz: w\n").str("k").contains("a\n\n"))
    // clip (default) unchanged
    assert(Yaml.parse("k: |\n  a\n\nz: w\n").str("k").contains("a\n"))
    // strip unchanged
    assert(Yaml.parse("k: |-\n  a\n\nz: w\n").str("k").contains("a"))
  }

  test("parse: quoted flow-mapping key may contain ':'") {
    val m = Yaml.parse("map: {\"a:b\": v, 'c:d': w, plain: x}\n")
    val fm = m.get("map").get.asInstanceOf[YMap]
    assert(fm.str("a:b").contains("v"))
    assert(fm.str("c:d").contains("w"))
    assert(fm.str("plain").contains("x"))
  }

  test("parse: ' #' after a plain flow scalar fails loudly (comment swallows ])") {
    intercept[IllegalArgumentException](Yaml.parse("list: [a # c]\n"))
  }

  test("parse: double-quoted unicode/control escapes decode like libyaml") {
    val m = Yaml.parse(
      "a: \"caf\\u00e9\"\nb: \"\\x41\\x42\"\nc: \"bell\\a\"\nd: \"\\u0394\"\n")
    assert(m.str("a").contains("caf\u00e9"))
    assert(m.str("b").contains("AB"))
    assert(m.str("c").contains("bell\u0007"))
    assert(m.str("d").contains("\u0394"))
    // unknown escapes fail loudly instead of silently degrading
    intercept[IllegalArgumentException](Yaml.parse("a: \"bad\\q\"\n"))
    intercept[IllegalArgumentException](Yaml.parse("a: \"trunc\\u00\"\n"))
  }

  test("parse: anchors, aliases, non-string tags, complex keys and extra documents raise") {
    for (doc <- Seq("a: &x 1\nb: *x", "a: !!int 5", "a: !custom v", "? [a, b]\n: v",
                    "a: 1\n---\nb: 2"))
      intercept[IllegalArgumentException](Yaml.parse(doc))
  }

  test("parse: a multi-line quoted scalar folds its line break like libyaml") {
    assert(Yaml.parse("x: \"multi\n  line\"").str("x").contains("multi line"))
  }

  test("parse: booleans, octals and nulls stay the strings they were written as") {
    val m = Yaml.parse("a: on\nb: 010\nc: ~\n")
    assert(m.entries == Vector("a" -> YStr("on"), "b" -> YStr("010"), "c" -> YStr("~")))
  }

  test("parse: an empty or comment-only document is an empty mapping") {
    for (doc <- Seq("", "# only a comment\n", "---\n"))
      assert(Yaml.parse(doc) == YMap(Vector.empty))
  }

  // -------------------------------------------------------- translation

  test("load: sections, env, service, multiline parsers, stream tasks") {
    val doc = YamlConfig.load(
      """env:
        |  svc_tag: app.x
        |service:
        |  flush: 5
        |parsers:
        |  - name: web
        |    format: regex
        |    regex: ^(?<verb>\S+) (?<path>\S+)$
        |multiline_parsers:
        |  - name: exc
        |    type: regex
        |    rules:
        |      - state: start_state
        |        regex: "/^ERROR/"
        |        next_state: cont
        |      - state: cont
        |        regex: "/^\\s+at/"
        |        next_state: cont
        |stream_processor:
        |  - name: t1
        |    exec: SELECT COUNT(*) AS n FROM STREAM:CONF;
        |pipeline:
        |  inputs:
        |    - name: dummy
        |      tag: ${svc_tag}
        |  outputs:
        |    - name: "null"
        |      match: '*'
        |""".stripMargin)
    assert(doc.service("flush") == "5")
    assert(doc.env("svc_tag") == "app.x")
    val input = doc.sections.find(_.name == "INPUT").get
    assert(input.get("tag").contains("app.x")) // interpolated
    assert(doc.sections.count(_.name == "PARSER") == 1)
    assert(doc.sections.count(_.name == "STREAM_TASK") == 1)
    val rules = doc.mlParsers("exc")
    assert(rules.size == 2)
    assert(rules(0).fromStates == Set("start")) // start_state normalized
    assert(rules(0).regex == "^ERROR")          // slashes stripped
    assert(rules(1).fromStates == Set("cont"))
  }

  test("load: includes merge with cycle guard and env export") {
    val inc = Map(
      "base.yaml" ->
        """env:
          |  base_var: from-include
          |pipeline:
          |  filters:
          |    - name: modify
          |      match: '*'
          |      add: included yes
          |""".stripMargin)
    val doc = YamlConfig.load(
      """includes:
        |  - base.yaml
        |pipeline:
        |  inputs:
        |    - name: dummy
        |      tag: t
        |""".stripMargin, inc.get)
    assert(doc.sections.exists(s =>
      s.name == "FILTER" && s.get("add").contains("included yes")))
    assert(doc.env("base_var") == "from-include")
    val cyc = Map("a.yaml" -> "includes:\n  - a.yaml\n")
    intercept[IllegalArgumentException](
      YamlConfig.load("includes:\n  - a.yaml\n", cyc.get))
  }

  // ---------------------------------------------------------- assembly

  test("assemble: yaml pipeline ≡ classic pipeline on the same records") {
    val in = Seq(
      ("GET /a 200", "app.web"), ("GET /x 500", "app.web"),
      ("POST /b 200", "app.web"), ("noise", "other")
    ).toDF("log", "tag")
    val yaml =
      """pipeline:
        |  inputs:
        |    - name: web
        |      tag: app.web
        |    - name: other_src
        |      tag: other
        |  filters:
        |    - name: grep
        |      match: 'app.*'
        |      regex: log 200
        |    - name: modify
        |      match: '*'
        |      add: pipeline yaml_or_classic
        |  outputs:
        |    - name: file
        |      match: 'app.*'
        |      format: csv
        |""".stripMargin
    val classic =
      """[INPUT]
        |    name web
        |    tag app.web
        |[INPUT]
        |    name other_src
        |    tag other
        |[FILTER]
        |    name grep
        |    match app.*
        |    regex log 200
        |[FILTER]
        |    name modify
        |    match *
        |    add pipeline yaml_or_classic
        |[OUTPUT]
        |    name file
        |    match app.*
        |    format csv
        |""".stripMargin
    val streams = Map("app.web" -> in.filter(col("tag") === "app.web"),
      "other" -> in.filter(col("tag") === "other"))
    val y = YamlConfig.assemble(spark, yaml, streams)("file:app.*")
    val c = ClassicConfig.assemble(spark, classic, streams)("file:app.*")
    val ys = y.collect().map(_.toString).sorted.toSeq
    val cs = c.collect().map(_.toString).sorted.toSeq
    assert(ys == cs)
    assert(ys.size == 2) // the two " 200" web lines
  }

  test("assemble: input-attached processors run before routed filters") {
    val in = Seq(("e1", 10L), ("e2", 200L)).toDF("name", "v")
    val outs = YamlConfig.assemble(spark,
      """pipeline:
        |  inputs:
        |    - name: ev
        |      tag: t
        |      processors:
        |        logs:
        |          - name: content_modifier
        |            action: insert
        |            key: src
        |            value: proc
        |          - name: content_modifier
        |            action: hash
        |            key: name
        |  outputs:
        |    - name: file
        |      match: t
        |      format: csv
        |""".stripMargin, Map("t" -> in))
    val got = outs("file:t").collect().map(_.getString(1)).sorted
    // hash(name) = sha256 hex; src column appended after it
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    def hex(s: String) =
      sha.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.toSeq == Seq(s"${hex("e1")},10,proc", s"${hex("e2")},200,proc").sorted)
  }

  test("assemble: multiline filter with a yaml-defined parser") {
    val in = Seq(
      (1L, "ERROR boom"), (2L, "  at f1"), (3L, "  at f2"),
      (4L, "ERROR second"), (5L, "  at g1")
    ).toDF("seq", "log").withColumn("tag", lit("t"))
    val outs = YamlConfig.assemble(spark,
      """multiline_parsers:
        |  - name: exc
        |    type: regex
        |    rules:
        |      - state: start_state
        |        regex: "/^ERROR/"
        |        next_state: cont
        |      - state: cont
        |        regex: "/^\\s+at /"
        |        next_state: cont
        |pipeline:
        |  inputs:
        |    - name: s
        |      tag: t
        |  filters:
        |    - name: multiline
        |      match: '*'
        |      multiline.parser: exc
        |      multiline.key_content: log
        |  outputs:
        |    - name: file
        |      match: '*'
        |      format: json
        |""".stripMargin, Map("t" -> in))
    val rows = outs("file:*").collect()
    assert(rows.length == 2)
  }

  test("assemble: lua filter with a yaml code block (the smoke-test shape)") {
    val in = Seq(("click", 7L), ("view", 9L), ("error", 11L))
      .toDF("event_type", "event_id").withColumn("tag", lit("test"))
    val outs = YamlConfig.assemble(spark,
      """pipeline:
        |  inputs:
        |    - name: ev
        |      tag: test
        |  filters:
        |    - name: lua
        |      match: test
        |      call: append_tag
        |      code: |
        |          function append_tag(tag, timestamp, record)
        |             if record["event_type"] == "error" then
        |               return -1, timestamp, record
        |             end
        |             record["tag_copy"] = tag
        |             record["double_id"] = tostring(tonumber(record["event_id"]) * 2)
        |             return 1, timestamp, record
        |          end
        |  outputs:
        |    - name: "null"
        |      match: test
        |""".stripMargin, Map("test" -> in))
    // the lua frame shape is (tag, ts_sec, body map); read it back via a
    // second assembly that exposes it — here just re-run and inspect
    val framed = YamlConfig.load(
      """pipeline:
        |  inputs:
        |    - name: ev
        |""".stripMargin)
    assert(framed.sections.nonEmpty) // translation sanity
    assert(outs.contains("null:test"))
    // assemble again, capturing the filtered frame through a file output
    val outs2 = YamlConfig.assemble(spark,
      """pipeline:
        |  inputs:
        |    - name: ev
        |      tag: test
        |  filters:
        |    - name: lua
        |      match: test
        |      call: append_tag
        |      code: |
        |          function append_tag(tag, timestamp, record)
        |             if record["event_type"] == "error" then
        |               return -1, timestamp, record
        |             end
        |             record["tag_copy"] = tag
        |             record["double_id"] = tostring(tonumber(record["event_id"]) * 2)
        |             return 1, timestamp, record
        |          end
        |  outputs:
        |    - name: stdout
        |      match: test
        |      format: plain
        |""".stripMargin, Map("test" -> in))
    // plain format renders the first non-tag column (ts_sec); what we
    // assert is on the frame that REACHED the output: 2 records (error
    // dropped by the -1 return), via the formatted row count
    assert(outs2("stdout:test").count() == 2)
  }

  test("assemble: output-attached processors touch ONLY their output's frame") {
    val in = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
      .withColumn("tag", lit("t"))
    val outs = YamlConfig.assemble(spark,
      """pipeline:
        |  inputs:
        |    - name: s
        |      tag: t
        |  outputs:
        |    - name: file
        |      match: '*'
        |      format: csv
        |      processors:
        |        logs:
        |          - name: content_modifier
        |            action: insert
        |            key: via
        |            value: out_a
        |    - name: stdout
        |      match: '*'
        |      format: csv
        |""".stripMargin, Map("t" -> in))
    val a = outs("file:*").collect().map(_.getString(1)).sorted.toSeq
    val b = outs("stdout:*").collect().map(_.getString(1)).sorted.toSeq
    assert(a == Seq("a,1,out_a", "b,2,out_a")) // processor applied here
    assert(b == Seq("a,1", "b,2"))             // ...and ONLY here
  }

  test("assemble: the same yaml pipeline runs UNCHANGED on a streaming source") {
    // the assembly is plan construction — inject a readStream-style
    // source and the whole config-declared pipeline (grep + modify +
    // json output) becomes a streaming query, no code changes
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(String, Long)]
    val src = in.toDS().toDF("event_type", "event_id")
      .withColumn("tag", lit("t"))
    val out = YamlConfig.assemble(spark,
      """pipeline:
        |  inputs:
        |    - name: ev
        |      tag: t
        |  filters:
        |    - name: grep
        |      match: '*'
        |      regex: event_type ^click$
        |    - name: modify
        |      match: '*'
        |      add: src stream
        |  outputs:
        |    - name: file
        |      match: '*'
        |      format: json
        |""".stripMargin, Map("t" -> src))("file:*")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("yaml_stream_sink")
      .outputMode("append").start()
    try {
      in.addData(("click", 1L), ("view", 2L), ("click", 3L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("yaml_stream_sink").collect().map(_.getString(1))
    spark.catalog.dropTempView("yaml_stream_sink")
    assert(rows.length == 2 && rows.forall(_.contains("\"src\":\"stream\"")),
      rows.mkString("; "))
  }

  test("assemble: expect filter — result_key verdict and exit abort") {
    val in = Seq(("a", 1L), ("b", 2L), (null, 3L))
      .toDF("k", "v").withColumn("tag", lit("t"))
    val verdict = YamlConfig.assemble(spark,
      """pipeline:
        |  inputs:
        |    - name: s
        |      tag: t
        |  filters:
        |    - name: expect
        |      match: '*'
        |      key_exists: k
        |      action: result_key
        |      result_key: k_ok
        |  outputs:
        |    - name: file
        |      match: '*'
        |      format: csv
        |""".stripMargin, Map("t" -> in))("file:*")
    val lines = verdict.collect().map(_.getString(1)).sorted.toSeq
    assert(lines == Seq("a,1,true", "b,2,true", ",3,false").sorted)
    val aborting = YamlConfig.assemble(spark,
      """pipeline:
        |  inputs:
        |    - name: s
        |      tag: t
        |  filters:
        |    - name: expect
        |      match: '*'
        |      key_exists: k
        |      action: exit
        |  outputs:
        |    - name: file
        |      match: '*'
        |      format: csv
        |""".stripMargin, Map("t" -> in))("file:*")
    // plan stays lazy; the violation aborts at EXECUTION (flb's exit)
    val e = intercept[Exception](aborting.collect())
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else t.toString +: chain(t.getCause)
    assert(chain(e).exists(_.contains("expect")), chain(e).mkString(" | "))
  }

  test("parser handles the reference's yaml fixture corpus shapes") {
    // the reference repo ships a YAML config fixture corpus
    // (tests/internal/data/config_format/yaml). Parse every VALID
    // fixture — structural compatibility evidence against the real
    // files, not hand-picked snippets. Skips cleanly if the reference
    // checkout is absent.
    val dir = new java.io.File(
      "/root/reference/tests/internal/data/config_format/yaml")
    assume(dir.isDirectory, "reference fixture corpus not present")
    // invalid_*/broken_*/clusterfuzz_* document malformed configs the
    // C parser rejects; missing_include needs its include resolved
    val skip = Set("invalid_input_property.yaml",
      "invalid_output_property.yaml", "broken_plugin_variant.yaml",
      "clusterfuzz_variant_missing_key.yaml")
    val files = dir.listFiles.filter(f => f.getName.endsWith(".yaml") &&
      !skip.contains(f.getName)).sortBy(_.getName)
    assert(files.nonEmpty)
    val failures = files.flatMap { f =>
      try {
        val m = Yaml.parse(new String(
          java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        if (m.entries.isEmpty && f.length > 0) Some(s"${f.getName}: empty parse")
        else None
      } catch { case e: Exception => Some(s"${f.getName}: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
    // and the flagship fixture translates into sections end-to-end
    val fb = new java.io.File(dir, "fluent-bit.yaml")
    val resolver = (p: String) => {
      val inc = new java.io.File(dir, p)
      if (inc.isFile) Some(new String(
        java.nio.file.Files.readAllBytes(inc.toPath), "UTF-8")) else None
    }
    val doc = YamlConfig.load(new String(
      java.nio.file.Files.readAllBytes(fb.toPath), "UTF-8"), resolver)
    // 2 tail inputs of its own + the dummy input pulled in through the
    // service.yaml → test/nested.yaml → dummy_pipeline.yaml include chain
    assert(doc.sections.count(_.name == "INPUT") == 3)
    assert(doc.sections.exists(s => s.name == "FILTER" &&
      s.get("record").contains("powered_by calyptia")))
    assert(doc.env.contains("observability")) // exported by the include
  }

  test("assemble: stream task over yaml-filtered frame") {
    val in = Seq(("a", 1L), ("a", 2L), ("b", 30L))
      .toDF("k", "v").withColumn("tag", lit("t"))
    val outs = YamlConfig.assemble(spark,
      """stream_processor:
        |  - name: agg
        |    exec: SELECT k, COUNT(*) AS n FROM STREAM:CONF GROUP BY k;
        |pipeline:
        |  inputs:
        |    - name: s
        |      tag: t
        |  outputs:
        |    - name: "null"
        |      match: '*'
        |""".stripMargin, Map("t" -> in))
    val got = outs("stream_task:agg").collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == Map("a" -> 2L, "b" -> 1L))
  }
}
