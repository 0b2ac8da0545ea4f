package perfbench

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints a host line, a run line and, last, the result
  * line `{"correct", "attempted", "failed", "metrics"}`. Exits 0 only
  * when the run completed and every output matched the oracle.
  */
object Main {
  import Harness.obj

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "1/s", "peak_heap_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "config.assemble_ms" -> "ms", "sql.plan_ms" -> "ms",
    "parse.regex_ms" -> "ms", "ops.grep_ms" -> "ms", "ops.modify_ms" -> "ms",
    "ops.rewrite_tag_ms" -> "ms", "route.route_ms" -> "ms",
    "sinks.json_format_ms" -> "ms", "sinks.loki_body_ms" -> "ms", "sinks.max_body_bytes" -> "bytes",
    "sources.decode_ms" -> "ms", "sources.intake_ms" -> "ms",
    "streaming.batches" -> "count", "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.offset_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "streaming.state_rows_max" -> "count", "streaming.state_memory_mb_max" -> "MB",
    "streaming.state_commit_ms" -> "ms",
    "engine.task_cpu_ms" -> "ms", "engine.gc_ms" -> "ms", "engine.shuffle_bytes" -> "bytes",
    "engine.stages" -> "count", "engine.tasks" -> "count", "engine.task_skew" -> "ratio",
    "engine.rows_scanned_per_record" -> "rows/record", "engine.parallel_efficiency" -> "ratio",
    "gen.lag_p99_ms" -> "ms", "trace.overhead_pct" -> "%")

  /** A run that starts with load1 above this many runnable tasks per
    * engine core is flagged: its timings share the host. Back-to-back
    * runs leave load1 near the core count on their own.
    */
  val LoadPerCore = 1.0

  /** Records a run plans to send, for the failure line of a crashed run. */
  @volatile var planned = 0L

  def plan(records: Long): Unit = {
    planned = records
    println(Harness.json(obj("plan" -> obj("records" -> records))))
  }

  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val load0 = Harness.load1()
    val jiffies0 = Harness.cpuJiffies()
    val loadBound = LoadPerCore * Harness.Cores
    println(Harness.json(obj("host" -> obj(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "engine_cores" -> Harness.Cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> org.apache.spark.SPARK_VERSION,
      "load1_start" -> load0,
      "load_bound" -> loadBound,
      "high_load" -> (load0 > loadBound)))))

    val run: Opts => Outcome = o.workload match {
      case "access_batch" => AccessBatch.run
      case "forward_stream" => ForwardStream.run
      case "forward_window" => ForwardWindow.run
      case other =>
        System.err.println(s"unknown workload $other")
        sys.exit(2)
    }
    val outcome =
      try Right(run(o))
      catch { case e: Throwable => e.printStackTrace(); Left(e) }
    val load1 = Harness.load1()
    val steal = Harness.stealPct(jiffies0)
    outcome match {
      case Right(r) =>
        val wanted = if (o.trace) PerLayer else EndToEnd
        val got = r.metrics.map(m => m.name -> m).toMap
        val unknown = got.keySet -- wanted.map(_._1)
        require(unknown.isEmpty, s"metrics outside the declared set: ${unknown.mkString(", ")}")
        // a layer this workload does not pass through reads 0
        val metrics = wanted.map { case (n, u) =>
          val m = got.getOrElse(n, Metric(n, 0.0, u))
          require(m.unit == u, s"$n: unit ${m.unit}, declared $u")
          require(!m.value.isNaN && !m.value.isInfinite, s"$n: non-finite value ${m.value}")
          n -> obj("value" -> m.value, "unit" -> u)
        }
        println(Harness.json(obj("run" -> obj((Seq(
          "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
          "trace" -> o.trace, "valid" -> r.valid, "load1_end" -> load1, "steal_pct" -> steal,
          "not_on_path" -> (wanted.map(_._1).toSet -- got.keySet).toSeq.sorted) ++ r.info): _*))))
        val correct = r.failed == 0 && r.valid
        println(Harness.json(obj("correct" -> correct,
          "attempted" -> math.max(r.attempted, 1L), "failed" -> r.failed,
          "metrics" -> obj(metrics: _*))))
        sys.exit(if (correct) 0 else 1)
      case Left(e) =>
        val n = math.max(planned, 1L)
        println(Harness.json(obj("run" -> obj("workload" -> o.workload, "error" -> e.toString))))
        println(s"""{"correct": false, "attempted": $n, "failed": $n, "metrics": {}}""")
        sys.exit(1)
    }
  }
}
