package graft.config

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Fields, Grep, Modify, RewriteTag}
import graft.route.Router
import graft.sinks.Formats
import graft.sql.Planner

/** Classic-mode configuration frontend — the reference's ini-style
  * `[SECTION]` + indented `key value` files (`conf/fluent-bit.conf`,
  * parsed by `src/flb_config.c` / `src/flb_cf_fluentbit.c`): the way
  * fluent-bit users actually declare pipelines. A config assembles into
  * tag-routed DataFrames: inputs → ordered filters (each gated by its
  * `Match` pattern) → stream-processor tasks → formatted outputs.
  *
  * Batch-shaped for determinism (the same operator objects run
  * streaming; swap the input frames for readStream sources). Supported
  * sections/plugins cover the core path: INPUT tail/dummy/injected,
  * FILTER grep / modify / record_modifier / parser / rewrite_tag,
  * PARSER format regex, STREAM_TASK (FluentQL), OUTPUT file
  * (json/plain/csv/ltsv) / stdout / null / loki (label sets from static
  * or record-accessor values) / datadog.
  */
object ClassicConfig {

  final case class Section(name: String, props: Seq[(String, String)]) {
    def get(k: String): Option[String] =
      props.collectFirst { case (kk, v) if kk.equalsIgnoreCase(k) => v }
    def all(k: String): Seq[String] =
      props.collect { case (kk, v) if kk.equalsIgnoreCase(k) => v }
    def required(k: String): String = get(k).getOrElse(
      throw new IllegalArgumentException(s"[$name] missing '$k'"))
  }

  /** Parse a classic `upstream` file — `[UPSTREAM] name` plus repeated
    * `[NODE] name/host/port (+per-node props)` sections
    * (`flb_upstream_ha_from_file`, `src/flb_upstream_ha.c:356-446`;
    * fixture shape
    * `tests/runtime/data/forward/upstream_retain_metadata.conf`) —
    * into the same typed nodes the YAML `upstream_servers` frontend
    * produces: one upstream definition, two config syntaxes, one HA
    * sink ([[graft.sinks.ForwardSink.writeHa]]).
    */
  def upstreamFile(text: String, env: Map[String, String] = Map.empty)
      : (String, Seq[YamlConfig.UpstreamNode]) = {
    val sections = parse(text)
    val name = sections.find(_.name.equalsIgnoreCase("upstream"))
      .map(_.required("name"))
      .getOrElse(throw new IllegalArgumentException(
        "upstream file: section 'upstream' could not be found"))
    val nodes = sections.filter(_.name.equalsIgnoreCase("node")).map { s =>
      // every node property env-interpolates, like the YAML frontend and
      // the reference's translate_environment_variables over node kvs
      // (flb_upstream_ha.c:330-346) — '${SHARED_KEY}' must resolve, not
      // ship as a literal credential (ADVICE r15)
      val props = s.props.map { case (k, v) =>
        k.toLowerCase -> YamlConfig.interpolate(v, env)
      }.toMap
      // name/host/port are REQUIRED, matching create_node's rejection of
      // an incomplete [NODE] (flb_upstream_ha.c:141-170) — a typo'd
      // section must fail at parse time, not be silently skipped by
      // writeHa's connect-failover at delivery time (ADVICE r15)
      def req(k: String): String = props.getOrElse(k,
        throw new IllegalArgumentException(s"[NODE] missing '$k'"))
      YamlConfig.UpstreamNode(
        req("name"), req("host"), req("port").trim.toInt,
        props -- Seq("name", "host", "port"))
    }
    (name, nodes)
  }

  /** Parse the classic format: `[NAME]` headers, indented `key value`
    * entries (first token = key, remainder = value). Comments are
    * FULL lines starting with `#` — an inline `#` is part of the value
    * (a grep pattern like `ERROR#\d+` must survive), matching
    * flb_cf_fluentbit's line-level comment handling. Repeated keys are
    * kept in order (grep rules, modify ops).
    */
  def parse(text: String): Seq[Section] = {
    val out = scala.collection.mutable.ArrayBuffer[Section]()
    var cur: Option[(String, scala.collection.mutable.ArrayBuffer[(String, String)])] = None
    text.linesIterator.foreach { raw =>
      val line = if (raw.trim.startsWith("#")) "" else raw.trim
      if (line.nonEmpty) {
        if (line.startsWith("[") && line.endsWith("]")) {
          cur.foreach { case (n, ps) => out += Section(n, ps.toSeq) }
          cur = Some((line.substring(1, line.length - 1).toUpperCase,
            scala.collection.mutable.ArrayBuffer()))
        } else cur match {
          case Some((_, ps)) =>
            val i = line.indexWhere(_.isWhitespace)
            if (i < 0) ps += ((line, "")) else
              ps += ((line.substring(0, i), line.substring(i).trim))
          case None => throw new IllegalArgumentException(
            s"entry before any [SECTION]: $line")
        }
      }
    }
    cur.foreach { case (n, ps) => out += Section(n, ps.toSeq) }
    out.toSeq
  }

  /** Assemble a config into its outputs: map from output id
    * (`plugin:match`, or `stream_task:name`) to the routed, formatted
    * DataFrame. `streams` injects input frames by tag — the library-mode
    * `flb_lib_push` analogue used by tests and by callers that already
    * hold (streaming) sources.
    */
  def assemble(spark: SparkSession, confText: String,
               streams: Map[String, DataFrame] = Map.empty): Map[String, DataFrame] =
    assembleSections(spark, parse(confText), streams)

  /** Shared assembly over the section IR — the classic frontend parses
    * straight into it; the YAML frontend ([[YamlConfig]]) translates its
    * node tree into the same sections plus the two YAML-only surfaces:
    * named multiline parsers (`multiline_parsers:` → `mlParsers`) and
    * per-input processor chains (`processors.logs` on an input →
    * `inputProcessors`, aligned with the INPUT section order; processors
    * run on THEIR input's frame before the union, ahead of all routed
    * filters — flb runs them inside the input instance, pre-router).
    */
  def assembleSections(spark: SparkSession, sections: Seq[Section],
               streams: Map[String, DataFrame] = Map.empty,
               mlParsers: Map[String, Seq[graft.streaming.Multiline.Rule]] = Map.empty,
               inputProcessors: Seq[Seq[Section]] = Nil,
               outputProcessors: Seq[Seq[Section]] = Nil): Map[String, DataFrame] = {
    graft.streaming.LocalCheckpointFiles.install(spark)
    val parsers = sections.filter(_.name == "PARSER")
      .map(s => s.required("name") -> s).toMap

    // ---------------------------------------------------------- inputs
    val inputSections = sections.filter(_.name == "INPUT")
    val inputs = inputSections.zipWithIndex.map { case (s, i) =>
      val tag = s.get("tag").getOrElse(s.required("name"))
      val frame = streams.get(tag) match {
        case Some(df) =>
          if (df.columns.contains("tag")) df else df.withColumn("tag", lit(tag))
        case None => s.required("name").toLowerCase match {
          case "tail" =>
            spark.read.text(s.required("path")).withColumn("tag", lit(tag))
          case "dummy" =>
            spark.range(1).select(
              lit(s.get("dummy").getOrElse("{\"message\":\"dummy\"}")).as("value"),
              lit(tag).as("tag"))
          case other => throw new IllegalArgumentException(
            s"[INPUT] $other needs an injected stream for tag '$tag'")
        }
      }
      // input-attached processors: unrouted (no Match gate — they see
      // exactly their input's records)
      inputProcessors.lift(i).getOrElse(Nil).foldLeft(frame) { (df, p) =>
        applyFilter(df, p, parsers, mlParsers)
      }
    }
    require(inputs.nonEmpty, "config has no [INPUT]")
    val source = inputs.reduce(_.unionByName(_, allowMissingColumns = true))

    // --------------------------------------------------------- filters
    val filtered = sections.filter(_.name == "FILTER").foldLeft(source) {
      (df, s) => applyFilter(df, s, parsers, mlParsers)
    }

    // ---------------------------------------------------- stream tasks
    val taskNames = sections.filter(_.name == "STREAM_TASK").map(_.required("name"))
    require(taskNames.distinct.size == taskNames.size,
      s"duplicate [STREAM_TASK] names: ${taskNames.diff(taskNames.distinct).distinct.mkString(", ")}")
    val taskOutputs = sections.filter(_.name == "STREAM_TASK").map { s =>
      val cat = Planner.Catalog(
        streams = Map("CONF" -> filtered), defaultStream = Some("CONF"))
      s"stream_task:${s.required("name")}" -> Planner.plan(s.required("exec"), cat)
    }

    // --------------------------------------------------------- outputs
    // ids disambiguate duplicate (plugin, match) pairs — two `file`
    // outputs with the same Match are legal in the reference (different
    // paths/formats) and must both survive the map.
    val seenIds = scala.collection.mutable.Map[String, Int]()
    val sinkOutputs = sections.filter(_.name == "OUTPUT").zipWithIndex.map { case (s, oi) =>
      val name = s.required("name").toLowerCase
      val pat = s.get("match").getOrElse("*")
      // output-attached processors (YAML `processors:` on an output)
      // run on THIS output's routed frame only — never the global flow
      val routed = outputProcessors.lift(oi).getOrElse(Nil)
        .foldLeft(Router.route(filtered, "tag", pat)) { (df, p) =>
          applyFilter(df, p, parsers, mlParsers)
        }
      val formatted = name match {
        case "null" => routed.limit(0)
        case "stdout" | "file" =>
          s.get("format").map(_.toLowerCase).getOrElse("json") match {
            case "json" => routed.select(col("tag"), Formats.jsonLine(
              routed.columns.filterNot(_ == "tag").toSeq.map(c => c -> col(c))).as("line"))
            case "plain" => routed.select(col("tag"),
              Formats.plainLine(col(routed.columns.filterNot(_ == "tag").head)).as("line"))
            case "csv" => routed.select(col("tag"), Formats.csvLine(
              routed.columns.filterNot(_ == "tag").toSeq.map(col)).as("line"))
            case "ltsv" => routed.select(col("tag"), Formats.ltsvLine(
              routed.columns.filterNot(_ == "tag").toSeq.map(c => c -> col(c))).as("line"))
            case other => throw new IllegalArgumentException(s"format $other")
          }
        case "loki" =>
          // out_loki (loki.c): stream labels from the `labels` property
          // (static k=v or record-accessor values, parse_labels at
          // loki.c:909-1000), line_format=json; one push body per label
          // set with [ts_ns, line] values
          val labels = s.get("labels").getOrElse("job=fluent-bit")
            .split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
              val (k, v) = kv.split("=", 2) match {
                case Array(k0, v0) => (k0, v0)
                case _ => throw new IllegalArgumentException(
                  s"loki labels: entry '$kv' is not key=value")
              }
              k -> (if (v.startsWith("$"))
                graft.route.RecordAccessor.column(routed, v)
              else lit(v))
            }
          val dataCols = routed.columns
            .filterNot(Set("tag", "ts_ns", "ts_sec")).toSeq
          val line = Formats.jsonLine(dataCols.map(c => c -> col(c)))
          val tsNs =
            if (routed.columns.contains("ts_ns")) col("ts_ns")
            else if (routed.columns.contains("ts_sec")) col("ts_sec") * 1000000000L
            else lit(0L)
          routed
            .groupBy(labels.map { case (k, v) => v.as(k) }: _*)
            .agg(collect_list(Formats.lokiValue(tsNs, line)).as("__entries"))
            .select(Formats.lokiPush(
              labels.map { case (k, _) => k -> col(k) }, col("__entries"))
              .as("body"))
        case "datadog" =>
          // out_datadog (datadog.c:221-340): dd_source/dd_service/
          // dd_tags from config, hostname + message from the record
          val tsMs =
            if (routed.columns.contains("ts_ns")) expr("ts_ns div 1000000")
            else if (routed.columns.contains("ts_sec")) col("ts_sec") * 1000L
            else lit(0L)
          val msgKey = s.get("message_key").getOrElse("log")
          val msg =
            if (routed.columns.contains(msgKey)) col(msgKey)
            else Formats.jsonLine(routed.columns
              .filterNot(Set("tag", "ts_ns", "ts_sec")).toSeq
              .map(c => c -> col(c)))
          routed.select(col("tag"), Formats.datadogEvent(
            timestampMs = tsMs,
            source = lit(s.get("dd_source").getOrElse("fluent-bit")),
            service = s.get("dd_service").map(lit(_)).getOrElse(col("tag")),
            hostname = lit(s.get("hostname").getOrElse("unknown")),
            tags = lit(s.get("dd_tags").getOrElse("")),
            message = msg).as("line"))
        case other => throw new IllegalArgumentException(s"[OUTPUT] $other unsupported")
      }
      val base = s"$name:$pat"
      val n = seenIds.getOrElse(base, 0)
      seenIds(base) = n + 1
      (if (n == 0) base else s"$base#$n") -> formatted
    }

    (taskOutputs ++ sinkOutputs).toMap
  }

  /** One [FILTER] section: records whose tag matches `Match` go through
    * the operator; everything else passes untouched (flb_filter.c runs
    * each chunk through every filter whose Match admits its tag). The
    * gate is per row, inside the operator's own `Filter` or `Project`, so
    * the frame is read once however many filters run. Only lua and
    * multiline, which change the record's shape, split the frame by
    * Match and union the halves back.
    *
    * A record whose tag is NULL matches no pattern and is dropped,
    * uncounted, by every filter but rewrite_tag.
    */
  private def applyFilter(df: DataFrame, s: Section,
                          parsers: Map[String, Section],
                          mlParsers: Map[String, Seq[graft.streaming.Multiline.Rule]] = Map.empty): DataFrame = {
    val pat = s.get("match").getOrElse("*")
    val cond = Router.tagMatch(col("tag"), pat)
    val admitted = col("tag").isNotNull // Match `*` is exactly this test
    lazy val matched = df.filter(cond)
    def rejoin(out: DataFrame): DataFrame =
      if (pat == "*") out else out.unionByName(df.filter(!cond), allowMissingColumns = true)
    // a per-row filter: `keep` decides the records Match admits
    def keepIf(keep: Column): DataFrame = df.filter(when(cond, keep).otherwise(admitted))
    val in = Fields.of(df)
    // a per-row projection: records Match admits (and `applies` holds
    // for) take `out`, the others keep their own keys. The columns are
    // `out`'s, then the input's that `out` dropped: the order a
    // `unionByName` of the two gives, which json key order follows. NULL
    // stands for an absent key on either side. `from` is `df` plus any
    // helper columns `out` reads, which the projection drops.
    def gated(out: Fields, applies: Option[Column] = None, from: DataFrame = df): DataFrame =
      (if (pat == "*") applies else Some(applies.fold(cond)(cond && _))) match {
        case None => out.frame(from.filter(admitted))
        case Some(g) =>
          val kept = out.entries.map { case (n, e) =>
            if (!in.has(n)) when(g, e).as(n)
            else if (e eq in(n)) col(n)
            else when(g, e).otherwise(col(n)).as(n)
          }
          val restored = in.names.filterNot(out.has)
            .map(n => when(g, lit(null)).otherwise(col(n)).as(n))
          from.filter(admitted).select(kept ++ restored: _*)
      }

    s.required("name").toLowerCase match {
      case "grep" =>
        // delegate to ops.Grep — one implementation of the rule
        // semantics. logical_op legacy (default) ORs regexes then ANDs
        // excludes; AND/OR reject mixed regex+exclude rule sets exactly
        // like grep.c:220-236 errors at startup.
        // rules in CONFIG-FILE order — legacy evaluation is sequential,
        // so interleaving of regex/exclude entries is semantic
        val rules = s.props.flatMap {
          case (k, v) if k.equalsIgnoreCase("regex") =>
            val (a, b) = split2(v); Some(Grep.Rule(col(a), b))
          case (k, v) if k.equalsIgnoreCase("exclude") =>
            val (a, b) = split2(v); Some(Grep.Rule(col(a), b, exclude = true))
          case _ => None
        }
        val op = s.get("logical_op").map(_.toLowerCase) match {
          case Some("or") => Grep.Or
          case Some("and") => Grep.And
          case Some("legacy") | None => Grep.Legacy
          case Some(other) => throw new IllegalArgumentException(
            s"grep logical_op $other")
        }
        if (op != Grep.Legacy &&
          rules.exists(_.exclude) && rules.exists(!_.exclude))
          throw new IllegalArgumentException(
            "grep: Regex and Exclude cannot be combined with logical_op and/or (grep.c rejects this config)")
        keepIf(if (rules.isEmpty) lit(true) else Grep.predicate(rules, op))

      case "modify" =>
        val ops: Seq[Modify.Rule] = s.props.flatMap {
          case (k, v) if k.equalsIgnoreCase("add") =>
            val (a, b) = split2(v); Some(Modify.Add(a, lit(b)))
          case (k, v) if k.equalsIgnoreCase("set") =>
            val (a, b) = split2(v); Some(Modify.Set(a, lit(b)))
          case (k, v) if k.equalsIgnoreCase("rename") =>
            val (a, b) = split2(v); Some(Modify.Rename(a, b))
          case (k, v) if k.equalsIgnoreCase("hard_rename") =>
            val (a, b) = split2(v); Some(Modify.Rename(a, b, hard = true))
          case (k, v) if k.equalsIgnoreCase("copy") =>
            val (a, b) = split2(v); Some(Modify.Copy(a, b))
          case (k, v) if k.equalsIgnoreCase("remove") => Some(Modify.Remove(v))
          case (k, v) if k.equalsIgnoreCase("remove_wildcard") =>
            Some(Modify.RemoveWildcard(v))
          case _ => None
        }
        // modify.h:42-53 condition gating: ALL conditions must hold for
        // the value-writing rules to apply to a record
        val conds: Seq[Modify.Condition] = s.all("condition").map { c =>
          val parts = c.trim.split("\\s+", 3)
          parts(0).toLowerCase match {
            case "key_exists" => Modify.KeyExists(parts(1))
            case "key_value_equals" => Modify.KeyValueEquals(parts(1), parts(2))
            case "key_value_matches" => Modify.KeyValueMatches(parts(1), parts(2))
            case other => throw new IllegalArgumentException(
              s"modify condition $other unsupported")
          }
        }
        gated(Modify.fields(in, ops, conds))

      case "record_modifier" =>
        val removed = in.drop(s.all("remove_key"): _*)
        val allow = s.all("allowlist_key") ++ s.all("whitelist_key")
        val kept =
          if (allow.isEmpty) removed
          else removed.select(("tag" +: allow).distinct)
        gated(s.all("record").foldLeft(kept) { (f, kv) =>
          val (k, v) = split2(kv); f.set(k, lit(v))
        })

      case "parser" =>
        val p = parsers.getOrElse(s.required("parser"),
          throw new IllegalArgumentException(s"unknown parser ${s.required("parser")}"))
        require(p.required("format").equalsIgnoreCase("regex"),
          "config frontend supports [PARSER] format regex")
        val keyName = s.required("key_name")
        val reserve = s.get("reserve_data").exists(_.equalsIgnoreCase("on"))
        val preserve = s.get("preserve_key").exists(_.equalsIgnoreCase("on"))
        val pattern = p.required("regex")
        // records whose field fails the parse pass through UNTOUCHED
        // (filter_parser returns FLB_FILTER_NOTOUCH on failure); only
        // successful parses get the reserve/preserve projection. The
        // routing tag is always kept — parsing never re-tags.
        // the match gets its own column, computed once a record and only
        // for records Match admits: inside each group's `when`, or inlined
        // into a later grep's filter, it would run once per reference
        val hit = col("__parsed")
        val withHit = graft.parse.Parsers.matchOnce(df, col(keyName), pattern, "__parsed", cond)
        val groups = graft.parse.Parsers.regexColumns(hit, pattern)
        val parsed = groups.foldLeft(in) { case (f, (n, v)) => f.set(n, v) }
        val projected =
          if (reserve) { if (preserve) parsed else parsed.drop(keyName) }
          else parsed.select(
            (("tag" +: groups.map(_._1)) ++ (if (preserve) Seq(keyName) else Nil)).distinct)
        gated(projected, Some(hit.isNotNull), withHit)

      case "rewrite_tag" =>
        val rules = s.all("rule").map { r =>
          val parts = r.trim.split("\\s+")
          require(parts.length >= 3, s"rewrite_tag rule needs '$$key regex tag [keep]': $r")
          val key = parts(0).stripPrefix("$")
          val regex = parts(1)
          val tagTemplate: Column =
            if (parts(2).contains("$1"))
              concat(parts(2).split("\\$1", -1).toSeq.map(lit(_))
                .flatMap(l => Seq(l, RewriteTag.capture(col(key), regex, 1)))
                .dropRight(1): _*)
            else lit(parts(2))
          RewriteTag.Rule(col(key), regex, tagTemplate,
            keep = parts.lift(3).exists(_.equalsIgnoreCase("true")),
            gate = cond) // the filter's Match pattern gates every rule
        }
        // rewrite_tag's emitter re-injects into the whole flow, so the
        // loop runs over the full frame; each rule's gate restricts it
        // to tags matching this filter instance (and stops re-matching
        // once a record is re-tagged out of the pattern). A NULL tag
        // matches no gate, so that record passes through.
        RewriteTag.reinjectLoop(df, "tag", rules)

      case "content_modifier" =>
        // processor_content_modifier (cm.h:34-41) as a filter/processor:
        // one action per section, like the YAML processor form
        import graft.ops.ContentModifier
        val key = () => s.required("key")
        val out = s.required("action").toLowerCase match {
          case "insert" =>
            ContentModifier.insert(in, key(), lit(s.required("value")))
          case "upsert" =>
            ContentModifier.upsert(in, key(), lit(s.required("value")))
          case "delete" => ContentModifier.delete(in, key())
          case "rename" =>
            ContentModifier.rename(in, key(), s.required("value"))
          case "hash" => ContentModifier.hash(in, key())
          case "extract" =>
            val pattern = s.required("pattern")
            val names = graft.parse.Parsers.groupNames(pattern)
            require(names.nonEmpty,
              "content_modifier extract: pattern has no named groups")
            ContentModifier.extract(in, col(key()), pattern,
              names.zipWithIndex.map { case (n, i) => (i + 1, n) })
          case "convert" =>
            ContentModifier.convert(in, key(),
              s.required("converted_type").toLowerCase match {
                case "int"     => "long"
                case "double"  => "double"
                case "string"  => "string"
                case "boolean" => "boolean"
                case other => throw new IllegalArgumentException(
                  s"content_modifier converted_type $other")
              })
          case other => throw new IllegalArgumentException(
            s"content_modifier action $other")
        }
        gated(out)

      case "multiline" =>
        // filter_multiline with a NAMED parser (YAML multiline_parsers
        // or a built-in mode). Assembly REPLACES the record shape with
        // (tag, first_<order>, n_lines, message) — the reference
        // likewise emits the concatenated record in place of the parts.
        val pname = s.get("multiline.parser")
          .getOrElse(s.required("multiline_parser"))
        val rules = mlParsers.get(pname).orElse(builtinMode(pname))
          .getOrElse(throw new IllegalArgumentException(
            s"multiline parser '$pname' is neither defined nor built-in"))
        val lineCol = s.get("multiline.key_content").getOrElse("log")
        val orderCol = s.get("multiline.order_key").getOrElse {
          if (matched.columns.contains("seq")) "seq"
          else if (matched.columns.contains("ts_ns")) "ts_ns"
          else throw new IllegalArgumentException(
            "multiline filter needs a 'seq' or 'ts_ns' order column " +
              "(or an explicit multiline.order_key)")
        }
        rejoin(graft.streaming.Multiline.assembleBatch(
          matched, Seq("tag"), orderCol, lineCol, rules))

      case "lua" =>
        // filter_lua (lua.c): `code` inline script (the YAML `code: |`
        // block) or `script` file, `call` = function name. The record
        // crosses as a string map (the reference's table), so the frame
        // collapses to (tag, ts, body-map) and comes back the same
        // shape — downstream formatting reads the map (flb is
        // schemaless here; a fixed relational schema cannot survive an
        // arbitrary script).
        val source = s.get("code").getOrElse {
          val path = s.required("script")
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(path)), "UTF-8")
        }
        val fn = s.get("call").getOrElse("cb_filter")
        val others = matched.columns
          .filterNot(c => c == "tag" || c == "ts_sec").toSeq
        val framed = matched
          .withColumn("__body", map(
            others.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*))
          .withColumn("__ts",
            if (matched.columns.contains("ts_sec"))
              col("ts_sec").cast("long")
            else lit(0L))
          .select(col("tag"), col("__ts"), col("__body"))
        val luaOut = graft.ops.LuaContract.applyToFrame(
            matched.sparkSession, framed, "tag", "__ts", "__body")(
            graft.ops.LuaContract.script(source, fn))
          .withColumnRenamed("__ts", "ts_sec")
          .withColumnRenamed("__body", "body")
        rejoin(luaOut)

      case "expect" =>
        // filter_expect (expect.c): per-record invariants. action=exit
        // aborts the pipeline AT EXECUTION on the first violating
        // record (raise_error inside a filter — never pruned, plan
        // stays lazy); action=result_key appends the verdict column;
        // action=warn passes records through unchanged.
        def checkOf(kind: String, v: String): Column = kind match {
          case "key_exists" =>
            if (in.has(v)) col(v).isNotNull else lit(false)
          case "key_not_exists" =>
            if (in.has(v)) col(v).isNull else lit(true)
          case "key_val_is_null" => col(v).isNull
          case "key_val_is_not_null" => col(v).isNotNull
          case "key_val_eq" =>
            val (a, b) = split2(v); col(a).cast("string") === b
          case other => throw new IllegalArgumentException(
            s"expect condition $other unsupported")
        }
        val kinds = Set("key_exists", "key_not_exists", "key_val_is_null",
          "key_val_is_not_null", "key_val_eq")
        val checks = s.props.collect {
          case (k, v) if kinds.contains(k.toLowerCase) =>
            checkOf(k.toLowerCase, v)
        }
        val ok = checks.reduceOption(_ && _).getOrElse(lit(true))
        s.get("action").map(_.toLowerCase).getOrElse("warn") match {
          case "exit" => keepIf(
            when(ok, lit(true)).otherwise(
              raise_error(lit("expect: record violates invariant"))
                .cast("boolean")))
          case "result_key" =>
            gated(in.set(s.get("result_key").getOrElse("matched"), ok))
          case _ => keepIf(lit(true)) // warn: pass-through
        }

      case other => throw new IllegalArgumentException(s"[FILTER] $other unsupported")
    }
  }

  /** Built-in multiline modes by name (flb_ml_mode.c names). */
  private def builtinMode(name: String): Option[Seq[graft.streaming.Multiline.Rule]] = {
    import graft.streaming.Multiline.Modes
    name.toLowerCase match {
      case "java"   => Some(Modes.java)
      case "python" => Some(Modes.python)
      case "go"     => Some(Modes.go)
      case "ruby"   => Some(Modes.ruby)
      case _        => None
    }
  }

  private def splitRule(v: String): (String, String) = split2(v)
  private def split2(v: String): (String, String) = {
    val i = v.indexWhere(_.isWhitespace)
    require(i > 0, s"expected 'key value', got '$v'")
    (v.substring(0, i), v.substring(i).trim)
  }
}
