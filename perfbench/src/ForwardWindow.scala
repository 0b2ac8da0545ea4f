package perfbench

import java.io.InputStream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.config.ClassicConfig

/** `forward_window`: a config `[STREAM_TASK]` tumbling-window aggregate
  * over one Forward listener, fed in bursts of ~2 MB frames over two
  * connections as fast as the sockets accept. Each burst ends with a
  * far-future flush event, sent once the source has acknowledged every
  * frame, so its watermark closes every window of the burst.
  */
object ForwardWindow {

  val BurstRecords = 90000
  /** ~2 MB per frame, fluent-bit's chunk size: one frame per connection. */
  val FrameRecords = 45000
  val StepMs = 1
  val Services = 100000
  val MinBursts = 4
  /** Event-time distance between bursts; the flush sits halfway. */
  val BurstSpan = 2000000L
  val BurstTimeoutSeconds = 60

  val Task = "SELECT service, COUNT(*), AVG(latency_ms) FROM TAG:'svc.*' " +
    "WINDOW TUMBLING (10 SECOND) GROUP BY service;"

  val config: String =
    s"""[SERVICE]
       |    Flush 1
       |[INPUT]
       |    Name forward
       |    Tag  svc.metrics
       |[STREAM_TASK]
       |    Name svc_window
       |    Exec $Task
       |""".stripMargin

  def metricsFrame(spark: SparkSession, port: Int): DataFrame =
    spark.readStream.format("graft.sources.ForwardServerSource")
      .option("port", port.toLong).load()
      .select(col("tag"), col("ts"),
        element_at(col("record"), "service").as("service"),
        element_at(col("record"), "latency_ms").as("latency_ms"))

  /** One burst: its frames, the flush frame, and the expected windows. */
  final case class Burst(base: Long, frames: Seq[Sender.Frame], flush: Array[Byte],
                         expected: Map[(Long, String), (Long, Long)])

  /** Ack ids are `b<burst>f<frame>`, ten bytes each. */
  def chunkId(b: Int, i: Int): String = f"b$b%04df$i%04d"

  def burst(seed: Long, b: Int): Burst = {
    val base = Gen.BaseEpoch + b * BurstSpan
    val events = Gen.metrics(seed * 1000003L + b, BurstRecords, base, StepMs, Services)
    val frames = events.grouped(FrameRecords).zipWithIndex.map { case (es, i) =>
      Sender.Frame(i % 2, 0L, Gen.forwardFrame("svc.metrics",
        es.toSeq.map(e => (e.sec, e.nsec, Seq("service" -> e.service, "latency_ms" -> e.latencyMs.toString))),
        chunk = Some(chunkId(b, i))), es.length)
    }.toSeq
    val flush = Gen.forwardFrame("svc.metrics",
      Seq((base + BurstSpan / 2, 0L, Seq("service" -> Gen.FlushService, "latency_ms" -> "0"))))
    Burst(base, frames, flush, Gen.windowOracle(events.toSeq))
  }

  /** Read the `{"ack": id}` replies to `n` frames whose ids are `idLen` bytes. */
  def awaitAcks(in: InputStream, n: Int, idLen: Int): Unit = {
    val buf = new Array[Byte](n * (6 + idLen))
    var off = 0
    while (off < buf.length) {
      val r = in.read(buf, off, buf.length - off)
      require(r >= 0, s"source closed the connection after ${off / (6 + idLen)} of $n acks")
      off += r
    }
  }

  def start(o: Opts, n: Int): Running = {
    val spark = Harness.session(o.work)
    val port = Sender.freePort()
    val out = ClassicConfig.assemble(spark, config,
      Map("svc.metrics" -> metricsFrame(spark, port)))("stream_task:svc_window")
    Running.start(o, s"window-$n", spark, out.select(to_json(struct(out.columns.toSeq.map(col): _*))),
      Trigger.ProcessingTime(0L), Seq(port, port))
  }

  /** A delivered window row: (window start, service, count, avg). */
  def parseRow(l: String): (Long, String, Long, Double) = {
    val f = Harness.fields(Harness.parseJson(l)).toMap
    def pick(prefix: String) = f.collectFirst { case (k, v) if k.startsWith(prefix) => v }
      .getOrElse(throw new IllegalArgumentException(s"window row without $prefix*: $l"))
    (f("wstart").toLong, f("service"), pick("count").toLong, pick("avg").toDouble)
  }

  /** Records of `bu` in a missing, wrong, duplicated or stray window row. */
  def errors(bu: Burst, rows: Seq[(Long, String, Long, Double)]): Long = {
    def mine(w: (Long, String, Long, Double)) =
      w._1 >= bu.base && w._1 < bu.base + BurstSpan / 2 && w._2 != Gen.FlushService
    val got = rows.filter(mine)
    val byKey = got.map(w => (w._1, w._2) -> w).toMap
    val wrong = bu.expected.toSeq.map { case (k, (c, s)) =>
      byKey.get(k) match {
        case Some((_, _, gc, ga)) if gc == c && math.abs(ga - s.toDouble / c) <= 1e-9 * math.max(1.0, ga) => 0L
        case _ => c
      }
    }.sum
    val extra = byKey.collect { case (k, w) if !bu.expected.contains(k) => w._3 }.sum
    val stray = rows.filterNot(w => mine(w) || w._2 == Gen.FlushService).map(_._3).sum
    wrong + extra + stray + (got.size - byKey.size)
  }

  def run(o: Opts): Outcome = {
    Main.plan(BurstRecords)
    val (running, setups) = Harness.setUp(start(o, _))(_.stop())
    val spark = running.spark
    val heap = new Trace.HeapWatch
    val listener = new Trace.EngineListener

    /** Send `bu` and wait for its windows; returns (records wrong, ms). */
    def oneBurst(bu: Burst): (Long, Double) = {
      val start = System.nanoTime()
      val sender = new Thread(() => {
        Sender.send(running.socks, bu.frames, openLoop = false)
        bu.frames.groupBy(_.conn).foreach { case (c, fs) =>
          awaitAcks(running.socks(c).getInputStream, fs.size, chunkId(0, 0).length) }
        running.socks(0).getOutputStream.write(bu.flush)
        running.socks(0).getOutputStream.flush()
      }, "perfbench-sender")
      sender.start()
      // count rows without parsing them while the engine works; the
      // previous burst's flush row arrives with this burst
      val raw = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      var rows = 0
      val deadline = start + BurstTimeoutSeconds * 1000000000L
      while (rows < bu.expected.size && System.nanoTime() < deadline) {
        var r = running.rows.poll()
        if (r == null) Thread.sleep(5)
        while (r != null) {
          raw += r
          if (!r._2.contains(Gen.FlushService)) rows += 1
          r = running.rows.poll()
        }
      }
      sender.join()
      val doneAt = (raw.map(r => running.doneNs.get(r._1): Long) :+ start).max
      (errors(bu, raw.map(r => parseRow(r._2)).toSeq), (doneAt - start) / 1e6)
    }

    // warm-up: JIT, code generation, state store; checked, not timed. The
    // burst is dropped afterwards, so the heap watermark does not hold it;
    // only a traced run keeps its frames, for the source layers
    def warmUp(): (Long, Seq[Sender.Frame], Seq[Int]) = {
      val b = burst(o.seed, 0)
      (oneBurst(b)._1, if (o.trace) b.frames else Nil, b.frames.map(_.bytes.length))
    }
    val (warmFailed, traceFrames, frameBytes) = warmUp()
    var failed = warmFailed
    val burstMs = scala.collection.mutable.ArrayBuffer[Double]()
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < o.seconds || burstMs.size < MinBursts) {
      val (wrong, ms) = oneBurst(burst(o.seed, burstMs.size + 1))
      failed += wrong
      burstMs += ms
      heap.sample()
    }
    val windowMs = (System.nanoTime() - t0) / 1e6
    if (o.trace) { listener.quiesce(); spark.sparkContext.removeSparkListener(listener) }
    val progress = running.query.recentProgress.toSeq
    running.query.stop()

    val metrics =
      if (!o.trace) Seq(
        Metric("setup_s", Harness.setupS(setups), "s"),
        Metric("records_per_s", Stats.median(burstMs.map(ms => BurstRecords / (ms / 1000)).toSeq), "1/s"),
        Metric("peak_heap_mb", heap.peakMb, "MB"))
      else {
        val assemble = Pipeline.assembleMs(spark, config,
          Map("svc.metrics" -> metricsFrame(spark, Sender.freePort())))
        val catalog = graft.sql.Planner.Catalog(
          streams = Map("CONF" -> metricsFrame(spark, Sender.freePort())), defaultStream = Some("CONF"))
        val planMs = Stats.median((1 to 5).map(_ =>
          Trace.ms(Trace.nanos(graft.sql.Planner.plan(Task, catalog))._2)))
        Seq(Metric("config.assemble_ms", assemble, "ms"), Metric("sql.plan_ms", planMs, "ms")) ++
          Wire.layers(o, traceFrames) ++ Wire.streaming(Trace.phases(progress)) ++
          Pipeline.engine(listener.totals, burstMs.size, BurstRecords.toDouble * burstMs.size, windowMs)
      }
    heap.close()
    running.stop()
    Outcome(BurstRecords.toLong * (burstMs.size + 1), failed, valid = true, metrics, Seq(
      "burst_ms" -> burstMs.toSeq, "records_per_burst" -> BurstRecords,
      "frame_bytes" -> frameBytes, "batches" -> progress.size,
      "setup_s_samples" -> setups))
  }
}
