package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.ClassicConfig
import graft.ops.{Grep, Modify, ParserFilter, RewriteTag}
import graft.route.Router
import graft.sinks.Formats

/** The filter chain the access workloads share, its oracle-side reading
  * of loki bodies, and the layer-by-layer timing of the traced runs.
  */
object Pipeline {

  val Filters: String =
    """[FILTER]
      |    Name     parser
      |    Match    web.*
      |    Key_Name value
      |    Parser   apache
      |[FILTER]
      |    Name    grep
      |    Match   web.*
      |    Exclude path ^/healthz
      |[FILTER]
      |    Name   modify
      |    Match  web.*
      |    Rename host remote_addr
      |    Add    env prod
      |[FILTER]
      |    Name  rewrite_tag
      |    Match web.*
      |    Rule  $code ^(5..)$ err.$1 false""".stripMargin

  val Parser: String =
    s"""[PARSER]
       |    Name   apache
       |    Format regex
       |    Regex  ${Gen.AccessRegex}""".stripMargin

  /** (tag, fingerprint) of every entry of one loki push body. The tag is
    * rebuilt from the `code` label, so a record under the wrong label
    * does not match the oracle.
    */
  def lokiRecords(body: String): Seq[(String, Long)] = {
    val streams = Harness.parseJson(body).get("streams")
    (0 until streams.size).flatMap { i =>
      val s = streams.get(i)
      val labels = Harness.fields(s.get("stream")).toMap
      val tag = if (labels.get("job").contains("fluentbit")) s"err.${labels.getOrElse("code", "")}"
                else "bad-labels"
      val values = s.get("values")
      (0 until values.size).map { j =>
        val entry = values.get(j)
        val rec = Harness.fields(Harness.parseJson(entry.get(1).asText()))
        (if (entry.get(0).asText() == "0") tag else "bad-ts") -> Gen.fingerprint(tag, rec)
      }
    }
  }

  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Median wall time of materializing `df` three times, in ms. */
  private def time(df: DataFrame): Double =
    Stats.median((1 to 3).map(_ => Trace.ms(Trace.nanos(materialize(df))._2)))

  private def cached(df: DataFrame): DataFrame = { val c = df.cache(); materialize(c); c }

  /** Self time of each layer's public call, materialized over the
    * previous layer's cached output. `input` has the tail shape
    * (`tag`, `value`).
    */
  def layers(input: DataFrame, withLoki: Boolean): Seq[Metric] = {
    val in = cached(input)
    val web = cached(in.filter(Router.tagMatch(col("tag"), "web.*")))
    val app = in.filter(!Router.tagMatch(col("tag"), "web.*"))

    val parsed = ParserFilter.regex(web, "value", Gen.AccessRegex,
      reserveData = true, preserveKey = false)
    val parseMs = time(parsed)
    val p = cached(parsed)
    val grepped = Grep(p, Seq(Grep.Rule(col("path"), "^/healthz", exclude = true)))
    val grepMs = time(grepped)
    val g = cached(grepped)
    val modified = Modify(g, Seq(Modify.Rename("host", "remote_addr"), Modify.Add("env", lit("prod"))))
    val modifyMs = time(modified)
    val m = cached(modified)
    val rule = RewriteTag.Rule(col("code"), "^(5..)$",
      concat(lit("err."), RewriteTag.capture(col("code"), "^(5..)$", 1)),
      keep = false, gate = Router.tagMatch(col("tag"), "web.*"))
    val rewritten = RewriteTag.reinjectLoop(m, "tag", Seq(rule))
    val rewriteMs = time(rewritten)
    val flow = cached(rewritten.unionByName(app, allowMissingColumns = true))
    val routeMs = time(Router.route(flow, "tag", "*")) + time(Router.route(flow, "tag", "err.*"))
    val json = flow.select(col("tag"), Formats.jsonLine(
      flow.columns.filterNot(_ == "tag").toSeq.map(c => c -> col(c))).as("line"))
    val jsonMs = time(json)
    val lokiMs = if (!withLoki) 0.0 else {
      val err = cached(Router.route(flow, "tag", "err.*"))
      val line = Formats.jsonLine(err.columns.filterNot(_ == "tag").toSeq.map(c => c -> col(c)))
      time(err.groupBy(lit("fluentbit").as("job"), col("code"))
        .agg(collect_list(Formats.lokiValue(lit(0L), line)).as("e"))
        .select(Formats.lokiPush(Seq("job" -> col("job"), "code" -> col("code")), col("e"))))
    }
    Seq(in, web, p, g, m, flow).foreach(_.unpersist(blocking = true))
    Seq(
      Metric("parse.regex_ms", parseMs, "ms"),
      Metric("ops.grep_ms", grepMs, "ms"),
      Metric("ops.modify_ms", modifyMs, "ms"),
      Metric("ops.rewrite_tag_ms", rewriteMs, "ms"),
      Metric("route.route_ms", routeMs, "ms"),
      Metric("sinks.json_format_ms", jsonMs, "ms"),
      Metric("sinks.loki_body_ms", lokiMs, "ms"))
  }

  /** Median time of `ClassicConfig.assemble`, in ms. */
  def assembleMs(spark: SparkSession, conf: String,
                 streams: => Map[String, DataFrame] = Map.empty): Double =
    Stats.median((1 to 5).map(_ => Trace.ms(Trace.nanos(
      ClassicConfig.assemble(spark, conf, streams))._2)))

  /** Engine totals of the traced window, per unit of work (`units`
    * passes, bursts or micro-batches), rows read per input record, and the
    * listener's own time as a share of the window.
    */
  def engine(t: Trace.EngineListener#Totals, units: Double, records: Double,
             windowMs: Double): Seq[Metric] = Seq(
    Metric("engine.task_cpu_ms", t.cpuMs / units, "ms"),
    Metric("engine.gc_ms", t.gcMs / units, "ms"),
    Metric("engine.shuffle_bytes", t.shuffleBytes / units, "bytes"),
    Metric("engine.stages", t.stages / units, "count"),
    Metric("engine.tasks", t.tasks / units, "count"),
    Metric("engine.task_skew", t.skew, "ratio"),
    Metric("engine.rows_scanned_per_record", t.recordsRead / records, "rows/record"),
    Metric("trace.overhead_pct", 100 * t.selfMs / windowMs, "%"))
}
