package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.ClassicConfig

/** `access_batch`: two `[INPUT] tail` files through the parse / grep /
  * modify / rewrite_tag chain to a `file` json output and a `loki`
  * output. Each pass writes both outputs to files, which are read back
  * and checked against the generator's oracle.
  */
object AccessBatch {

  /** Lines per input set; one app line in every `AppEvery`. */
  val Lines = 80000
  val AppEvery = 5
  val WarmPasses = 2
  val MinPasses = 4

  def config(access: Path, app: Path): String =
    s"""[SERVICE]
       |    Flush 1
       |[INPUT]
       |    Name tail
       |    Path $access
       |    Tag  web.access
       |[INPUT]
       |    Name tail
       |    Path $app
       |    Tag  app.log
       |${Pipeline.Parser}
       |${Pipeline.Filters}
       |[OUTPUT]
       |    Name   file
       |    Match  *
       |    Format json
       |[OUTPUT]
       |    Name   loki
       |    Match  err.*
       |    Labels job=fluentbit,code=$$code
       |""".stripMargin

  /** Fingerprints the two outputs must hold for `lines`. */
  final case class Expected(file: Map[String, Array[Long]], loki: Map[String, Array[Long]])

  def expected(lines: Seq[Gen.Line]): Expected = {
    val file, loki = new Harness.Bag
    lines.foreach(_.out.foreach { case (tag, f) =>
      val fp = Gen.fingerprint(tag, f)
      file.add(tag, fp)
      if (tag.startsWith("err.")) loki.add(tag, fp)
    })
    Expected(file.result, loki.result)
  }

  final case class Delivered(errors: Long, maxBodyBytes: Long)

  /** Write both outputs of `outs` under `dir`. */
  def deliver(outs: Map[String, DataFrame], dir: Path): Unit = {
    outs("file:*").select(concat(col("tag"), lit("\t"), col("line")))
      .write.text(dir.resolve("file").toString)
    outs("loki:err.*").select(col("body")).write.text(dir.resolve("loki").toString)
  }

  /** Read back what `deliver` wrote and compare it with the oracle. */
  def check(dir: Path, exp: Expected): Delivered = {
    val file = new Harness.Bag
    Harness.readOutput(dir.resolve("file")).foreach { l =>
      val tab = l.indexOf('\t')
      file.add(l.substring(0, tab),
        Gen.fingerprint(l.substring(0, tab), Harness.fields(Harness.parseJson(l.substring(tab + 1)))))
    }
    val loki = new Harness.Bag
    var maxBody = 0L
    Harness.readOutput(dir.resolve("loki")).foreach { body =>
      maxBody = math.max(maxBody, body.getBytes("UTF-8").length.toLong)
      Pipeline.lokiRecords(body).foreach { case (tag, fp) => loki.add(tag, fp) }
    }
    Delivered(Harness.errors(exp.file, file.result) + Harness.errors(exp.loki, loki.result), maxBody)
  }

  /** Deliver, time, check and delete one pass under `dir`; returns its ms. */
  def pass(outs: Map[String, DataFrame], dir: Path, exp: Expected): (Double, Delivered) = {
    val (_, ns) = Trace.nanos(deliver(outs, dir))
    val d = check(dir, exp)
    Harness.deleteTree(dir)
    (ns / 1e6, d)
  }

  /** The two input files, their line count and the oracle's fingerprints.
    * The generated lines themselves are not kept, so the heap watermark
    * holds only 8 bytes per output record of the benchmark's own data.
    */
  final case class Inputs(access: Path, app: Path, records: Int, exp: Expected)

  def inputs(work: Path, seed: Long, n: Int, name: String): Inputs = {
    val lines = Gen.accessMix(seed, n, AppEvery)
    val access = work.resolve(s"in/$name/access.log")
    val app = work.resolve(s"in/$name/app.log")
    Harness.writeLines(access, lines.iterator.filter(_.tag == "web.access").map(_.text))
    Harness.writeLines(app, lines.iterator.filter(_.tag == "app.log").map(_.text))
    Inputs(access, app, lines.length, expected(lines.toSeq))
  }

  /** local[1] pass time over N x the local[N] pass time, on a tenth
    * of the input; stops `spark` and the single-core session it starts.
    */
  def parallelEfficiency(spark0: SparkSession, o: Opts): Double = {
    val small = inputs(o.work, o.seed, Lines / 10, "small")
    val conf = config(small.access, small.app)
    def passMs(spark: SparkSession, name: String): Double = {
      val outs = ClassicConfig.assemble(spark, conf)
      Stats.median((1 to 2).map { i =>
        val (ms, d) = pass(outs, o.work.resolve(s"out/$name-$i"), small.exp)
        require(d.errors == 0, s"parallel-efficiency pass $name-$i: outputs differ from the oracle")
        ms
      })
    }
    val many = passMs(spark0, "many")
    Harness.stop(spark0)
    val one = Harness.session(o.work, cores = 1)
    val single = try passMs(one, "one") finally Harness.stop(one)
    single / (Harness.Cores * many)
  }

  def run(o: Opts): Outcome = {
    val in = inputs(o.work, o.seed, Lines, "full")
    val conf = config(in.access, in.app)
    Main.plan(in.records)

    // set-up: session start, config parse and assemble
    val ((spark, outs), setups) = Harness.setUp { _ =>
      val s = Harness.session(o.work)
      (s, ClassicConfig.assemble(s, conf))
    } { case (s, _) => Harness.stop(s) }

    val heap = new Trace.HeapWatch
    val listener = new Trace.EngineListener
    var passes = 0
    var failed = 0L
    var maxBody = 0L
    def onePass(): Double = {
      val (ms, d) = pass(outs, o.work.resolve(s"out/pass-$passes"), in.exp)
      passes += 1
      failed += d.errors
      maxBody = math.max(maxBody, d.maxBodyBytes)
      heap.sample()
      ms
    }

    // warm-up passes: the driver plans the same large plan every pass,
    // and its JIT-compiled planner settles only after a few; checked, not timed
    (1 to WarmPasses).foreach(_ => onePass())
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val passMs = scala.collection.mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < o.seconds || passMs.size < MinPasses) passMs += onePass()
    val windowMs = (System.nanoTime() - t0) / 1e6
    if (o.trace) { listener.quiesce(); spark.sparkContext.removeSparkListener(listener) }
    val attempted = in.records.toLong * (WarmPasses + passMs.size)
    val rps = Stats.median(passMs.map(ms => in.records / (ms / 1000)).toSeq)

    val metrics =
      if (!o.trace) Seq(
        Metric("setup_s", Harness.setupS(setups), "s"),
        Metric("records_per_s", rps, "1/s"),
        Metric("peak_heap_mb", heap.peakMb, "MB"))
      else {
        val t = listener.totals
        val input = spark.read.text(in.access.toString).withColumn("tag", lit("web.access"))
          .unionByName(spark.read.text(in.app.toString).withColumn("tag", lit("app.log")))
        val layers = Pipeline.layers(input, withLoki = true)
        val assemble = Pipeline.assembleMs(spark, conf)
        val efficiency = parallelEfficiency(spark, o) // stops `spark`
        Seq(Metric("config.assemble_ms", assemble, "ms")) ++ layers ++
          Pipeline.engine(t, passMs.size, in.records.toDouble * passMs.size, windowMs) ++ Seq(
          Metric("sinks.max_body_bytes", maxBody.toDouble, "bytes"),
          Metric("engine.parallel_efficiency", efficiency, "ratio"))
      }
    heap.close()
    if (!o.trace) Harness.stop(spark)
    Outcome(attempted, failed, valid = true, metrics, Seq(
      "pass_ms" -> passMs.toSeq, "records_per_pass" -> in.records, "setup_s_samples" -> setups))
  }
}
