package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.config.ClassicConfig

/** `forward_stream`: the access filter chain fed by two Forward
  * listeners (one connection and one tag each), open loop at a fixed
  * rate in frames of ten records, with fluent-bit's default one-second
  * flush as the trigger. Each micro-batch's json output is collected and
  * appended to a file; a record's latency runs from its frame's due time
  * to the end of the batch write that carries it.
  */
object ForwardStream {

  val RecordsPerSecond = 100
  val FrameRecords = 10
  /** Every fifth frame goes to the app connection. */
  val AppFrameEvery = 5
  /** Highest tolerated sender lag (p99) before the run is invalid: one frame slot. */
  val MaxLagMs: Double = 1000.0 * FrameRecords / RecordsPerSecond
  val DrainSeconds = 60

  def config: String =
    s"""[SERVICE]
       |    Flush 1
       |[INPUT]
       |    Name forward
       |    Tag  web.access
       |[INPUT]
       |    Name forward
       |    Tag  app.log
       |${Pipeline.Parser}
       |${Pipeline.Filters}
       |[OUTPUT]
       |    Name   file
       |    Match  *
       |    Format json
       |""".stripMargin

  /** The frames of a run and, per delivered record, its fingerprint and frame. */
  final case class Plan(frames: Array[Sender.Frame], lines: Array[Gen.Line],
                        frameOf: Map[Long, Int], expected: Map[String, Array[Long]])

  def plan(seed: Long, seconds: Int): Plan = {
    val nFrames = seconds * RecordsPerSecond / FrameRecords
    val r = new java.util.SplittableRandom(seed)
    val lines = scala.collection.mutable.ArrayBuffer[Gen.Line]()
    val frameOf = scala.collection.mutable.HashMap[Long, Int]()
    val exp = new Harness.Bag
    val frames = Array.tabulate(nFrames) { k =>
      val app = k % AppFrameEvery == AppFrameEvery - 1
      val recs = (0 until FrameRecords).map { j =>
        val id = k.toLong * FrameRecords + j
        val l = if (app) Gen.appLine(r, id) else Gen.accessLine(r, id)
        lines += l
        l.out.foreach { case (tag, f) =>
          val fp = Gen.fingerprint(tag, f)
          exp.add(tag, fp)
          frameOf(fp) = k
        }
        (Gen.BaseEpoch + id / 50, 0L, Seq("log" -> l.text))
      }
      val tag = if (app) "app.log" else "web.access"
      Sender.Frame(if (app) 1 else 0, k * 1000000000L * FrameRecords / RecordsPerSecond,
        Gen.forwardFrame(tag, recs), FrameRecords)
    }
    Plan(frames, lines.toArray, frameOf.toMap, exp.result)
  }

  /** `readStream` over a Forward listener on `port`, shaped like a tail
    * input: the record's `log` key becomes `value`.
    */
  def linesFrame(spark: SparkSession, port: Int): DataFrame =
    spark.readStream.format("graft.sources.ForwardServerSource")
      .option("port", port.toLong).load()
      .select(col("tag"), element_at(col("record"), "log").as("value"))

  def start(o: Opts, n: Int): Running = {
    val spark = Harness.session(o.work)
    val ports = Seq(Sender.freePort(), Sender.freePort())
    val out = ClassicConfig.assemble(spark, config, Map(
      "web.access" -> linesFrame(spark, ports(0)),
      "app.log" -> linesFrame(spark, ports(1))))("file:*")
    Running.start(o, s"stream-$n", spark, out.select(concat(col("tag"), lit("\t"), col("line"))),
      Trigger.ProcessingTime(1000L), ports)
  }

  def run(o: Opts): Outcome = {
    val p = plan(o.seed, o.seconds)
    Main.plan(p.lines.length)
    val deliverable = p.expected.valuesIterator.map(_.length).sum

    val (running, setups) = Harness.setUp(start(o, _))(_.stop())
    val spark = running.spark
    val heap = new Trace.HeapWatch
    val listener = new Trace.EngineListener

    if (o.trace) spark.sparkContext.addSparkListener(listener)
    var sendResult: (Long, Array[Long]) = null
    val sender = new Thread(() => { sendResult = Sender.send(running.socks, p.frames.toSeq, openLoop = true) },
      "perfbench-sender")
    sender.start()
    sender.join()
    val (t0, sent) = sendResult
    val deadline = System.nanoTime() + DrainSeconds * 1000000000L
    while (running.rows.size < deliverable && System.nanoTime() < deadline) Thread.sleep(5)
    val lastNs = (running.doneNs.values.asScala ++ Seq(t0)).max
    // the last batch's progress is posted just after its write returns
    val lastBatch = (running.doneNs.keys.asScala ++ Seq(-1L)).max
    while (!running.query.recentProgress.exists(_.batchId == lastBatch) && System.nanoTime() < deadline)
      Thread.sleep(5)
    val progress = running.query.recentProgress.toSeq
    heap.sample()
    running.query.stop()
    if (o.trace) { listener.quiesce(); spark.sparkContext.removeSparkListener(listener) }

    // check, and time every delivered record from its frame's due time
    val got = new Harness.Bag
    val lat = scala.collection.mutable.ArrayBuffer[Double]()
    running.rows.asScala.foreach { case (batch, l) =>
      val tab = l.indexOf('\t')
      val tag = l.substring(0, tab)
      val fp = Gen.fingerprint(tag, Harness.fields(Harness.parseJson(l.substring(tab + 1))))
      got.add(tag, fp)
      p.frameOf.get(fp).foreach { k =>
        lat += (running.doneNs.get(batch) - (t0 + p.frames(k).dueNs)) / 1e6
      }
    }
    val failed = Harness.errors(p.expected, got.result)
    val lagMs = p.frames.indices.flatMap(k =>
      Iterator.fill(p.frames(k).records)((sent(k) - (t0 + p.frames(k).dueNs)) / 1e6)).toArray
    val (lagP99, _) = Stats.tail(lagMs, 0.99)
    val latAll = lat.toArray
    val (p50, _) = Stats.tail(latAll, 0.50)
    val (p99, p99q) = Stats.tail(latAll, 0.99)
    val rps = p.lines.length / ((lastNs - t0) / 1e9)

    val metrics =
      if (!o.trace) Seq(
        Metric("setup_s", Harness.setupS(setups), "s"),
        Metric("records_per_s", rps, "1/s"),
        Metric("peak_heap_mb", heap.peakMb, "MB"))
      else {
        val ph = Trace.phases(progress)
        val t = listener.totals
        val input = spark.createDataFrame(p.lines.toSeq.map(l => (l.tag, l.text))).toDF("tag", "value")
        val layers = Pipeline.layers(input, withLoki = false)
        val assemble = Pipeline.assembleMs(spark, config, Map(
          "web.access" -> linesFrame(spark, Sender.freePort()),
          "app.log" -> linesFrame(spark, Sender.freePort())))
        val wire = Wire.layers(o, p.frames.toSeq)
        Seq(Metric("config.assemble_ms", assemble, "ms")) ++ layers ++ wire ++
          Pipeline.engine(t, running.doneNs.size, p.lines.length, (lastNs - t0) / 1e6) ++
          Wire.streaming(ph) :+ Metric("gen.lag_p99_ms", lagP99, "ms")
      }
    heap.close()
    running.stop()
    val valid = lagP99 <= MaxLagMs
    if (!valid) System.err.println(f"sender fell behind: lag p99 $lagP99%.1f ms > $MaxLagMs%.0f ms")
    Outcome(p.lines.length, failed, valid, metrics, Seq(
      "records_sent" -> p.lines.length, "records_delivered" -> running.rows.size,
      "latency_p50_ms" -> p50, "latency_p99_ms" -> p99, "latency_samples" -> latAll.length, "latency_tail_quantile" -> p99q,
      "gen_lag_p99_ms" -> lagP99, "batches" -> progress.size, "setup_s_samples" -> setups))
  }
}
