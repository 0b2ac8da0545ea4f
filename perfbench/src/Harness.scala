package perfbench

import java.io.File
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Command-line options of one run. */
final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $other")
    }
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, trace,
      Paths.get(need("work")).toAbsolutePath)
  }
}

/** One metric of the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** The result of a run: records sent, records wrong at the outputs, and
  * the metrics. `valid` is false when the measurement itself is not
  * trustworthy (the open-loop sender fell behind its schedule).
  */
final case class Outcome(attempted: Long, failed: Long, valid: Boolean,
                         metrics: Seq[Metric], info: Seq[(String, Any)] = Nil)

object Harness {

  /** Cores the engine runs on: at most 4, and never more than the host has. */
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def session(work: Path, cores: Int = Cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Set up `Setups` times, stopping every set-up but the last; returns
    * the last one and each set-up's seconds. A run's first set-up starts
    * the JVM-cold engine; `setupS` leaves it out.
    */
  def setUp[T](start: Int => T)(stop: T => Unit): (T, Seq[Double]) = {
    var last: Option[T] = None
    val secs = (1 to Setups).map { i =>
      // the previous set-up's teardown and garbage stay out of the next one
      last.foreach { t => stop(t); System.gc(); Thread.sleep(200) }
      val (t, ns) = Trace.nanos(start(i))
      last = Some(t)
      ns / 1e9
    }
    (last.get, secs)
  }

  val Setups = 5

  /** The reported set-up time: the median of the warm set-ups. */
  def setupS(secs: Seq[Double]): Double = Stats.median(secs.tail)

  /** Stop the session and drop the default/active pointers so the next
    * `session` call builds a fresh one.
    */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def load1(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (steal, total) jiffies of all CPUs from /proc/stat, or (0, 0). */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat")), UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Share of CPU time the hypervisor gave to other guests since `from`. */
  def stealPct(from: (Long, Long)): Double = {
    val (s1, t1) = cpuJiffies()
    if (t1 > from._2) 100.0 * (s1 - from._1) / (t1 - from._2) else 0.0
  }

  def writeLines(p: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def appendLines(p: Path, lines: Seq[String]): Unit = {
    Files.createDirectories(p.getParent)
    val w = Files.newBufferedWriter(p, UTF_8,
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).iterator().asScala
        .foreach(f => Files.deleteIfExists(f))
      finally s.close()
    }

  /** Every line of the Spark-written text files under `dir`. */
  def readOutput(dir: Path): Iterator[String] = {
    val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    files.iterator.flatMap(f => Files.readAllLines(f.toPath, UTF_8).asScala)
  }

  // ------------------------------------------------------------- check

  private val mapper = new ObjectMapper()

  def parseJson(s: String): JsonNode = mapper.readTree(s)

  /** A JSON object for the printed lines, keys in the given order;
    * sequence values become arrays.
    */
  def obj(kvs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kvs.foreach { case (k, v) => m.put(k, v match { case s: Seq[_] => s.asJava; case x => x }) }
    m
  }

  def json(v: AnyRef): String = mapper.writeValueAsString(v)

  /** A JSON object as a flat string map (nested values keep their JSON text). */
  def fields(node: JsonNode): Seq[(String, String)] =
    node.properties().asScala.toSeq.map { e =>
      e.getKey -> (if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString)
    }

  /** Fingerprints grouped by tag. */
  final class Bag {
    private val m = scala.collection.mutable.HashMap[String, scala.collection.mutable.ArrayBuilder.ofLong]()
    def add(tag: String, fp: Long): Unit =
      m.getOrElseUpdate(tag, new scala.collection.mutable.ArrayBuilder.ofLong) += fp
    def result: Map[String, Array[Long]] = m.map { case (t, b) =>
      val a = b.result(); java.util.Arrays.sort(a); t -> a }.toMap
  }

  /** Records missing, extra or wrong: per tag, the larger of the missing
    * and the extra count (a wrong record is one missing plus one extra).
    */
  def errors(expected: Map[String, Array[Long]], actual: Map[String, Array[Long]]): Long =
    (expected.keySet ++ actual.keySet).toSeq.map { t =>
      val e = expected.getOrElse(t, Array.emptyLongArray)
      val a = actual.getOrElse(t, Array.emptyLongArray)
      var i, j = 0
      var missing, extra = 0L
      while (i < e.length || j < a.length) {
        if (j >= a.length || (i < e.length && e(i) < a(j))) { missing += 1; i += 1 }
        else if (i >= e.length || a(j) < e(i)) { extra += 1; j += 1 }
        else { i += 1; j += 1 }
      }
      math.max(missing, extra)
    }.sum
}

/** A started streaming pipeline: session, query, the sender's sockets,
  * and every written batch's lines with the time its write ended.
  */
final class Running(val spark: SparkSession, val query: StreamingQuery, val socks: Seq[Socket],
                    val rows: ConcurrentLinkedQueue[(Long, String)],
                    val doneNs: ConcurrentHashMap[Long, Long]) {
  def stop(): Unit = {
    socks.foreach(s => try s.close() catch { case _: java.io.IOException => })
    query.stop()
    Harness.stop(spark)
  }
}

object Running {
  /** Start `out` (one string column) with a `foreachBatch` sink that
    * collects each batch and appends it to a file, then connect one
    * sender socket per entry of `ports`.
    */
  def start(o: Opts, name: String, spark: SparkSession, out: DataFrame,
            trigger: Trigger, ports: Seq[Int]): Running = {
    val rows = new ConcurrentLinkedQueue[(Long, String)]()
    val doneNs = new ConcurrentHashMap[Long, Long]()
    val sink = o.work.resolve(s"out/$name.jsonl")
    val query = out.writeStream
      .trigger(trigger)
      .option("checkpointLocation", o.work.resolve(s"ckpt/$name").toString)
      .foreachBatch { (df: DataFrame, id: Long) =>
        val lines = df.collect().map(_.getString(0))
        Harness.appendLines(sink, lines.toSeq)
        val t = System.nanoTime()
        lines.foreach(l => rows.add(id -> l))
        doneNs.put(id, t)
        ()
      }
      .start()
    new Running(spark, query, ports.map(Sender.connect), rows, doneNs)
  }
}
