package graft.obs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The engine's own pipeline metrics as a first-class metrics frame —
  * the analog of the reference's `in_fluentbit_metrics` input
  * (`/root/reference/plugins/in_fluentbit_metrics/metrics.c`: the agent
  * re-injects its internal cmetrics contexts as a metrics event stream;
  * counters defined in `src/flb_metrics.c` — records/bytes in, proc
  * records/bytes out, retries, errors). The Spark-native signal is
  * [[StreamingQueryProgress]]: each micro-batch progress snapshot
  * flattens to long-format cmetrics-shaped rows
  * `(name, type, labels MAP, ts_ms, batch_id, value)` — the same shape
  * the gated metrics operators consume (`p_metrics_selector` prefix
  * selection, `p_labels` rewrites, `p_cumulative_to_delta` inversion),
  * so the engine can run its OWN telemetry through its OWN pipeline,
  * exactly the reference's loop.
  *
  * Counter semantics follow cmetrics: `*_total` series are CUMULATIVE
  * across batches (accumulated here per query/source over the progress
  * sequence, which Spark hands over batch-ordered), so
  * `CumulativeToDelta` recovers the per-batch reading — spec'd in
  * Round15Spec. Gauges are point-in-time. `batch_id` rides along as the
  * engine's micro-batch clock (deterministic tiebreak when two batches
  * land in one wall-clock millisecond).
  */
object SelfTelemetry {

  final case class MetricRow(name: String, mtype: String,
                             labels: Map[String, String], ts_ms: Long,
                             batch_id: Long, value: Double)

  /** A series: metric name and labels. */
  private type Series = (String, Map[String, String])

  /** Flatten a batch-ordered progress sequence (one query's
    * `recentProgress`, or several queries' concatenated) to metric rows.
    *
    * Counter caveat: `*_total` series are EXACT cumulative totals only
    * when the sequence is the query's FULL batch history.
    * `recentProgress` is a bounded ring buffer
    * (`spark.sql.streaming.numRecentProgressUpdates`, default 100) — on
    * a long-running query evicted early batches make the sum
    * window-relative and non-monotone across successive calls. The
    * replay gates/specs hand the full history (short deterministic
    * feeds), so they are exact; PRODUCTION consumers must use
    * [[Listener]], which accumulates per-query counter state across
    * every progress event regardless of ring eviction (the cmetrics
    * counters in the reference live for the agent's lifetime the same
    * way, `src/flb_metrics.c`).
    */
  def progressRows(spark: SparkSession,
                   progresses: Seq[StreamingQueryProgress]): DataFrame = {
    import spark.implicits._
    val totals = scala.collection.mutable.Map[Series, Double]()
    progresses.flatMap(flatten(_, totals)).toDF()
  }

  /** One progress event as metric rows — the flattener both
    * [[progressRows]] and [[Listener]] use. Counter rows carry the
    * running total over the events seen so far, kept in `totals` per
    * (series name, labels) and updated here: cmetrics counters are
    * monotone totals, not per-interval readings. Gauges are the
    * event's own reading; NaN and infinite ones are left out.
    */
  private def flatten(p: StreamingQueryProgress,
      totals: scala.collection.mutable.Map[Series, Double])
      : Seq[MetricRow] = {
    val ts = java.time.Instant.parse(p.timestamp).toEpochMilli
    val base = Map("query" -> Option(p.name).getOrElse(p.id.toString))
    val rows = Vector.newBuilder[MetricRow]
    def counter(name: String, by: Double, extra: (String, String)*): Unit = {
      val labels = base ++ extra
      val tot = totals.getOrElse((name, labels), 0.0) + by
      totals((name, labels)) = tot
      rows += MetricRow(name, "counter", labels, ts, p.batchId, tot)
    }
    def gauge(name: String, v: Double, extra: (String, String)*): Unit =
      if (!v.isNaN && !v.isInfinite)
        rows += MetricRow(name, "gauge", base ++ extra, ts, p.batchId, v)
    // per-source input counters (fluentbit_input_records_total shape)
    p.sources.zipWithIndex.foreach { case (src, i) =>
      if (src.numInputRows >= 0)
        counter("graft_input_records_total", src.numInputRows, "source" -> i.toString)
      gauge("graft_input_rows_per_sec", src.inputRowsPerSecond,
        "source" -> i.toString)
    }
    // sink output counter (fluentbit_output_proc_records_total shape);
    // -1 means the sink does not report — skip, never count it
    if (p.sink != null && p.sink.numOutputRows >= 0)
      counter("graft_output_records_total", p.sink.numOutputRows)
    gauge("graft_processed_rows_per_sec", p.processedRowsPerSecond)
    // per-stage batch durations (triggerExecution, addBatch, ...)
    p.durationMs.forEach { (stage, ms) =>
      gauge("graft_batch_duration_ms", ms.toDouble, "stage" -> stage)
    }
    // stateful-operator footprint — the state-store scale signal
    p.stateOperators.zipWithIndex.foreach { case (op, i) =>
      val opLabel = "operator" ->
        (if (op.operatorName != null && op.operatorName.nonEmpty)
           op.operatorName else i.toString)
      gauge("graft_state_rows", op.numRowsTotal.toDouble, opLabel)
      gauge("graft_state_rows_updated", op.numRowsUpdated.toDouble, opLabel)
      gauge("graft_state_memory_bytes", op.memoryUsedBytes.toDouble, opLabel)
    }
    rows.result()
  }

  /** Live snapshot over every active query in the session. Exact for
    * queries whose full history still fits the recentProgress ring
    * buffer; beyond that the counters are window-relative (see
    * [[progressRows]]) — attach a [[Listener]] and use its
    * [[Listener.snapshot]] for lifetime-exact counters.
    */
  def snapshot(spark: SparkSession): DataFrame =
    progressRows(spark,
      spark.streams.active.toSeq.flatMap(_.recentProgress.toSeq))

  /** Long-lived cumulative counter state — the production self-telemetry
    * path (ADVICE r15). A [[StreamingQueryListener]] sees EVERY progress
    * event exactly once, so the `*_total` counters here are true
    * lifetime totals: monotone, immune to recentProgress ring-buffer
    * eviction, exactly the cmetrics counter contract the reference's
    * `/api/v1/metrics` endpoint serves
    * (`/root/reference/src/http_server/api/v1/metrics.c` renders the
    * agent-lifetime cmetrics contexts). State is bounded: counters per
    * (query, source) plus the LATEST gauge readings per query — no
    * per-batch row retention.
    *
    * Usage: `spark.streams.addListener(l)`; `l.snapshot(spark)` returns
    * the current counter/gauge register set as the same cmetrics-shaped
    * frame [[progressRows]] emits (one row per live series, at the
    * series' latest batch/timestamp).
    */
  final class Listener extends StreamingQueryListener {
    // the latest row per series (name, labels) plus the counters' running
    // totals; all access synchronized on `this` — progress events arrive
    // on the listener bus thread, snapshots from caller threads
    private val totals = scala.collection.mutable.Map[Series, Double]()
    private val latest = scala.collection.mutable.Map[Series, MetricRow]()

    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      flatten(e.progress, totals).foreach(r => latest((r.name, r.labels)) = r)
    }

    /** Current register set (lifetime counters + latest gauges). */
    def currentRows: Seq[MetricRow] = synchronized {
      latest.values.toVector
        .sortBy(r => (r.name, r.labels.toSeq.sorted.mkString(",")))
    }

    def snapshot(spark: SparkSession): DataFrame = {
      import spark.implicits._
      currentRows.toDF()
    }
  }

  /** Prometheus text exposition over a cmetrics-shaped frame (the
    * [[MetricRow]] schema): `name{k1="v1",…} value` with labels sorted
    * by key and values escaped per the exposition format (backslash,
    * quote, newline). The dynamic-label twin of
    * [[graft.sinks.Formats.promLine]] (which takes a static label
    * list) — this is the formatter the monitoring endpoint serves, the
    * reference's cmt_encode_prometheus over the agent's own registry
    * (`/root/reference/src/http_server/api/v1/metrics.c`).
    */
  def promExpositionLine(name: Column, labels: Column, value: Column)
      : Column = {
    val esc = (c: Column) =>
      regexp_replace(regexp_replace(regexp_replace(
        c, lit("\\\\"), lit("\\\\\\\\")), lit("\""), lit("\\\\\"")),
        lit("\n"), lit("\\\\n"))
    val entries = array_sort(map_entries(labels))
    val labelStr = when(size(entries) > 0,
      concat(lit("{"), concat_ws(",",
        transform(entries, e => concat(
          e.getField("key"), lit("=\""), esc(e.getField("value")),
          lit("\"")))), lit("}"))).otherwise(lit(""))
    concat(name, labelStr, lit(" "), value.cast("string"))
  }

  /** Render a metrics frame to exposition lines — one `# TYPE` header
    * per series name, then its sample lines — deterministically ordered
    * (name, then label set). The driver-side monitoring server collects
    * this over the listener's bounded register set.
    */
  def promExposition(metrics: DataFrame): DataFrame = {
    val samples = metrics.select(col("name"), lit(1).as("__rank"),
      promExpositionLine(col("name"), col("labels"), col("value"))
        .as("line"))
    val headers = metrics.select(col("name"), col("mtype")).distinct()
      .select(col("name"), lit(0).as("__rank"),
        concat(lit("# TYPE "), col("name"), lit(" "), col("mtype"))
          .as("line"))
    headers.unionByName(samples)
      .orderBy(col("name"), col("__rank"), col("line")).select(col("line"))
  }
}
