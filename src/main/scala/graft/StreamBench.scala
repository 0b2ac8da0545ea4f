package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.Stateful

/** Sustained stateful-streaming throughput — the spans/s parity row
  * BASELINE.md promises against the reference's sampling benchmark
  * (`/root/reference/benchmarks/flb-bench-processor_sampling.c:10-11`,
  * documented invocation `--mode probabilistic --iterations 20000
  * --spans-per-trace 20 --trace-cardinality 4096`; the reference prints
  * its spans/s at run time — no published figure exists, so this main
  * produces OUR side of the row with the workload shape mirrored
  * exactly: 20 000 traces × 20 spans, 4 096-value key cardinality,
  * ~2% error traces).
  *
  * Two modes, like the reference:
  *   - probabilistic: stateless per-trace hash decision
  *     ([[graft.ops.Sampling.probabilistic]]) over the micro-batch
  *     engine — measures engine + codegen filter floor;
  *   - tail: whole-trace buffering with quiet-period decisions
  *     ([[Stateful.tailSample]], ProcessingTimeTimeout span registry) —
  *     measures the stateful path: state store writes per span,
  *     timeout sweeps, group iteration.
  *
  * spans/s = spans fed / wall-clock from first feed to sink-complete
  * (tail mode includes the decision-wait drain — the reference's
  * elapsed likewise covers its reconcile sweeps). Unlike the replay
  * CORRECTNESS gates (4 shuffle partitions, deterministic chunk feeds),
  * this feeds big chunks at full parallelism: throughput is the metric,
  * not hash-replayability.
  *
  * Round 15 (VERDICT r14 #9): every measured cell runs TWICE and the
  * JSON carries both readings plus the spread — single-shot numbers on
  * a multi-tenant host were not self-describing — and a second
  * workload at 64k-trace cardinality (1.28M spans, 64k live state
  * keys) probes the state-store-pressure axis the 20k-trace row
  * doesn't: registry size × sweep cost is the tail-sampling scale
  * question.
  *
  * Prints ONE JSON line: {"metric":"stream_spans_per_sec", ...}.
  */
object StreamBench {

  private final val SpansPerTrace = 20

  /** Deterministic pseudo-random span stream (reference seeds its RNG;
    * we mix the ids so reruns measure the same workload). One trace =
    * one state key; `cardinality` tags the key space like the
    * reference's --trace-cardinality.
    */
  private def mkSpans(traces: Int,
                      cardinality: Int): IndexedSeq[Stateful.Span] = {
    def mix(x: Long): Long = {
      var h = x * 0x9E3779B97F4A7C15L
      h ^= h >>> 32; h *= 0xBF58476D1CE4E5B9L; h ^= h >>> 29
      h & Long.MaxValue
    }
    (0 until traces).flatMap { t =>
      val key = t % cardinality
      (0 until SpansPerTrace).map { j =>
        val r = mix(t.toLong * 31 + j)
        Stateful.Span(
          traceId = s"t$t-k$key",
          spanId = s"s$t-$j",
          tsSec = 0L,
          durationMs = r % 1000,
          statusCode = if (r % 53 == 0) 500 else 200, // ~2% error spans
          body = "op" + (r % 17))
      }
    }
  }

  private def drainCount(spark: SparkSession, table: String,
                         expected: Long, deadlineMs: Long): Long = {
    val deadline = System.currentTimeMillis + deadlineMs
    var n = spark.table(table).count()
    while (n < expected && System.currentTimeMillis < deadline) {
      Thread.sleep(100)
      n = spark.table(table).count()
    }
    n
  }

  /** Stops `q` between two triggers: a stop that lands inside a batch
    * interrupts its state store commit, which the provider logs as
    * `CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT`, and a query with a
    * processing-time timeout runs a batch on every trigger. The gap
    * between two triggers is short, so this polls without sleeping.
    */
  private def stopBetweenBatches(q: StreamingQuery): Unit = {
    while (q.isActive && q.status.isTriggerActive) Thread.onSpinWait()
    q.stop()
  }

  private val nameCtr = new java.util.concurrent.atomic.AtomicLong(0)

  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_MASTER=local-cluster[n,c,mem_mb] measures the
    // multi-JVM throughput cell: spans serialize driver->executor, the
    // keyed-state shuffle crosses process boundaries, and state stores
    // commit in executor JVMs (see GraftSession)
    val spark = GraftSession()
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // SPARK_GRAFT_TELEMETRY=1 runs every cell with the full monitoring
    // loop LIVE — listener attached, HTTP endpoint serving — so the
    // spans/s delta against a bare run prices self-telemetry the way
    // the reference prices `http_server on` (its monitoring thread +
    // cmetrics updates ride along with the data path). The listener's
    // work is per-PROGRESS-EVENT (one per micro-batch), so the expected
    // tax is ~0 at these batch sizes; the row exists to PROVE that.
    val telemetry = sys.env.get("SPARK_GRAFT_TELEMETRY").contains("1")
    val telListener = if (telemetry) {
      val l = new graft.obs.SelfTelemetry.Listener
      spark.streams.addListener(l)
      Some(l)
    } else None
    val telServer = telListener.map(new graft.obs.MonitoringServer(spark, _))

    // ---- probabilistic mode: stateless trace-hash keep (~25%) --------
    def runProb(spans: IndexedSeq[Stateful.Span]): (Double, Long) = {
      val name = "prob_" + nameCtr.incrementAndGet()
      val chunks = spans.grouped(20000).toSeq
      val in = MemoryStream[Stateful.Span]
      val pct = 25.0
      val threshold = f"${(pct / 100.0 * 65536).toLong}%04x"
      val sampled = in.toDS()
        .filter(substring(md5(col("traceId")), 1, 4) < lit(threshold))
      val q = sampled.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(25)).start()
      val t0 = System.nanoTime()
      chunks.foreach(in.addData(_))
      q.processAllAvailable()
      val elapsed = (System.nanoTime() - t0) / 1e9
      stopBetweenBatches(q)
      val kept = spark.table(name).count()
      spark.catalog.dropTempView(name)
      (elapsed, kept)
    }

    // ---- tail mode: whole-trace registry + quiet-period decision -----
    def runTail(spans: IndexedSeq[Stateful.Span]): (Double, Long) = {
      val name = "tail_" + nameCtr.incrementAndGet()
      val chunks = spans.grouped(20000).toSeq
      val in = MemoryStream[Stateful.Span]
      val policy = Stateful.TailPolicy(maxLatencyMs = 995,
        errorStatusMin = 500)
      val q = Stateful.tailSample(spark, in.toDS(), policy,
          decisionWaitMs = 500)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(25)).start()
      // expected kept spans (batch-side truth for the drain target)
      val byTrace = spans.groupBy(_.traceId)
      val expected = byTrace.valuesIterator
        .filter(g => policy.keep(g.toSeq)).map(_.size.toLong).sum
      val t0 = System.nanoTime()
      chunks.foreach(in.addData(_))
      val got = drainCount(spark, name, expected, deadlineMs = 300000)
      val elapsed = (System.nanoTime() - t0) / 1e9
      stopBetweenBatches(q)
      spark.catalog.dropTempView(name)
      require(got == expected,
        s"tail drain incomplete: $got of $expected kept spans")
      (elapsed, got)
    }

    // ---- windowed-agg mode: watermark eviction LIVE -------------------
    // The engine's windowed-aggregation ingest rate with the state store
    // evicting behind the watermark the whole time — the throughput twin
    // of the x_soak_window_stream correctness gate, and the reference's
    // core stream-processor shape (WINDOW TUMBLING,
    // /root/reference/src/stream_processor/flb_sp_window.c). One event
    // per second over `card` series, 1-hour windows, 2-hour watermark:
    // every 20k-event chunk advances the watermark ~5.5 hours, so state
    // holds ~(card × horizon) windows while hundreds have been emitted
    // and evicted by the drain. A far-future flush event (sentinel
    // series, never emitted itself) closes every real window so the
    // drain target is the full closed-window relation.
    def runWindow(evs: IndexedSeq[(String, Long, Double)],
                  expected: Long): (Double, Long) = {
      val name = "win_" + nameCtr.incrementAndGet()
      val chunks = evs.grouped(20000).toSeq
      val flush = ("zz_flush", evs.last._2 + 86400L * 30, 0.0)
      val in = MemoryStream[(String, Long, Double)]
      val agg = in.toDS().toDF("series", "sec", "value")
        .withColumn("ts", timestamp_seconds(col("sec")))
        .withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"), col("series"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.ProcessingTime(25)).start()
      val t0 = System.nanoTime()
      chunks.foreach(in.addData(_))
      in.addData(flush)
      val got = drainCount(spark, name, expected, deadlineMs = 300000)
      val elapsed = (System.nanoTime() - t0) / 1e9
      stopBetweenBatches(q)
      spark.catalog.dropTempView(name)
      require(got == expected,
        s"window drain incomplete: $got of $expected closed windows")
      (elapsed, got)
    }

    def mkEvents(n: Int, card: Int): IndexedSeq[(String, Long, Double)] =
      (0 until n).map(i =>
        (s"s${i % card}", 1700000000L + i.toLong, (i % 997).toDouble))

    val PROV = "spark.sql.streaming.stateStore.providerClass"
    def withRocks[T](body: => T): T = {
      spark.conf.set(PROV, "org.apache.spark.sql.execution.streaming." +
        "state.RocksDBStateStoreProvider")
      try body finally spark.conf.unset(PROV)
    }

    // two measured runs per cell: rate1/rate2 + spread, self-describing
    // variance on a multi-tenant host
    def cell(total: Long, run: () => (Double, Long)): String = {
      val (s1, k1) = run()
      val (s2, k2) = run()
      require(k1 == k2, s"non-deterministic kept set: $k1 vs $k2")
      val r1 = (total / s1).toLong
      val r2 = (total / s2).toLong
      val spread = math.abs(r1 - r2).toDouble / math.max(r1, r2) * 100
      s"""{"spans_per_sec":${math.max(r1, r2)},"run1":$r1,"run2":$r2,""" +
        s""""spread_pct":${f"$spread%.1f"},"kept":$k1}"""
    }

    // warmup (cold JVM pays class loading + codegen, exactly what the
    // reference's warmup_iterations exist for), then measure
    val base = mkSpans(traces = 20000, cardinality = 4096)
    val baseTotal = base.size.toLong
    runProb(base); runTail(base)
    withRocks(runTail(base))
    val probCell = cell(baseTotal, () => runProb(base))
    val tailCell = cell(baseTotal, () => runTail(base))
    // tail again on the RocksDB provider — the production config for
    // unbounded trace cardinality; the delta vs the in-memory provider
    // is the price of off-heap SST-backed state at this span rate
    val rocksCell = withRocks(cell(baseTotal, () => runTail(base)))

    // 64k-trace cardinality: 3.2x the live state keys and spans — the
    // state-registry pressure row. Codegen is warm from above but the
    // first run AT THIS SCALE still pays state-store growth and
    // executor memory ramp (measured 22k vs 47k spans/s run1/run2
    // without it), so the scale gets its own warm pass too.
    val hi = mkSpans(traces = 64000, cardinality = 65536)
    val hiTotal = hi.size.toLong
    runTail(hi); withRocks(runTail(hi))
    val hiTailCell = cell(hiTotal, () => runTail(hi))
    val hiRocksCell = withRocks(cell(hiTotal, () => runTail(hi)))

    // windowed-agg eviction cells: 1.2M events / 256 series / ~333
    // 1-hour windows closed per run — events/s with eviction live
    val wev = mkEvents(n = 1200000, card = 256)
    val wevTotal = wev.size.toLong
    val wevExpected = wev.map(e => (e._2 / 3600L, e._1)).distinct.size.toLong
    runWindow(wev, wevExpected); withRocks(runWindow(wev, wevExpected))
    val winCell = cell(wevTotal, () => runWindow(wev, wevExpected))
    val winRocksCell =
      withRocks(cell(wevTotal, () => runWindow(wev, wevExpected)))

    println(
      s"""{"metric":"stream_spans_per_sec","unit":"spans/sec",""" +
      s""""spans_per_trace":$SpansPerTrace,""" +
      s""""card4096":{"traces":20000,"total_spans":$baseTotal,""" +
      s""""probabilistic":$probCell,"tail":$tailCell,""" +
      s""""tail_rocksdb":$rocksCell},""" +
      s""""card65536":{"traces":64000,"total_spans":$hiTotal,""" +
      s""""tail":$hiTailCell,"tail_rocksdb":$hiRocksCell},""" +
      s""""windowed_agg":{"events":$wevTotal,"series":256,""" +
      s""""closed_windows":$wevExpected,""" +
      s""""eviction":$winCell,"eviction_rocksdb":$winRocksCell}""" +
      (if (telemetry) s""","telemetry":"on"""" else "") + "}")
    telServer.foreach(_.close())
    telListener.foreach(spark.streams.removeListener)
    spark.stop()
  }
}
