package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{ForwardServerSource, Msgpack}

/** Per-layer numbers of the wire entry point and the micro-batch engine. */
object Wire {

  /** One thread decoding every frame of the run: `Msgpack.decode` plus
    * `forwardEvents`, median of five rounds, in ms.
    */
  def decodeMs(frames: Seq[Sender.Frame]): Double = {
    def round(): Long = {
      var events = 0L
      frames.foreach { f =>
        var off = 0
        while (off < f.bytes.length) {
          val (v, next) = Msgpack.decode(f.bytes, off)
          events += Msgpack.forwardEvents(v).size
          off = next
        }
      }
      events
    }
    val want = frames.map(_.records.toLong).sum
    Stats.median((1 to 5).map { _ =>
      val (n, ns) = Trace.nanos(round())
      require(n == want, s"decode saw $n events, sent $want")
      Trace.ms(ns)
    })
  }

  /** The source's own `MicroBatchStream`, driven without a query: from
    * the first byte sent until `latestOffset` counts every record, in ms.
    */
  def intakeMs(o: Opts, frames: Seq[Sender.Frame]): Double = {
    val port = Sender.freePort()
    val table = new ForwardServerSource().getTable(ForwardServerSource.Schema,
      Array.empty[Transform], Map("port" -> port.toString).asJava)
    val stream = table.asInstanceOf[SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      .toMicroBatchStream(o.work.resolve("ckpt/intake").toString)
    val socks = Seq(Sender.connect(port), Sender.connect(port))
    try {
      val want = frames.map(_.records).sum.toString
      val sender = new Thread(() => { Sender.send(socks, frames, openLoop = false); () },
        "perfbench-intake-sender")
      val start = System.nanoTime()
      sender.start()
      val deadline = start + 60L * 1000000000L
      while (stream.latestOffset().json() != want && System.nanoTime() < deadline)
        java.util.concurrent.locks.LockSupport.parkNanos(200000L)
      val end = System.nanoTime()
      sender.join()
      require(stream.latestOffset().json() == want,
        s"intake: source holds ${stream.latestOffset().json()} records, sent $want")
      Trace.ms(end - start)
    } finally {
      socks.foreach(_.close())
      stream.stop()
    }
  }

  def layers(o: Opts, frames: Seq[Sender.Frame]): Seq[Metric] = Seq(
    Metric("sources.decode_ms", decodeMs(frames), "ms"),
    Metric("sources.intake_ms", intakeMs(o, frames), "ms"))

  def streaming(ph: Trace.Phases): Seq[Metric] = Seq(
    Metric("streaming.batches", ph.batches.toDouble, "count"),
    Metric("streaming.query_planning_ms", ph.planningMs, "ms"),
    Metric("streaming.add_batch_ms", ph.addBatchMs, "ms"),
    Metric("streaming.offset_ms", ph.offsetMs, "ms"),
    Metric("streaming.commit_ms", ph.commitMs, "ms"),
    Metric("streaming.state_rows_max", ph.stateRowsMax.toDouble, "count"),
    Metric("streaming.state_memory_mb_max", ph.stateMemMbMax, "MB"),
    Metric("streaming.state_commit_ms", ph.stateCommitMs, "ms"))
}
