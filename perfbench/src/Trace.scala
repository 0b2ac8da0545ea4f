package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import javax.management.openmbean.CompositeData
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Measurement helpers that sit outside the program: wall-clock timing,
  * the old-generation watermark, and Spark's public listener and
  * progress APIs. Nothing here is compiled into the engine.
  */
object Trace {

  def nanos[T](f: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val v = f
    (v, System.nanoTime() - t0)
  }

  def ms(ns: Long): Double = ns / 1e6

  /** Highest old-generation occupancy right after the full collections
    * `sample` requests at the end of each unit of work. Collections the
    * JVM starts on its own are skipped: their timing, not the pipeline,
    * decides what they find.
    */
  final class HeapWatch extends NotificationListener {
    @volatile private var peak = 0L
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    emitters.foreach(_.addNotificationListener(this, null, null))

    override def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcCause == "System.gc()") info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (pool.contains("Old Gen") || pool.contains("Tenured")) synchronized {
            peak = math.max(peak, u.getUsed)
          }
        }
      }

    /** Collect now, so the watermark includes what is live at this point. */
    def sample(): Unit = System.gc()
    def peakMb: Double = peak / (1024.0 * 1024.0)
    def close(): Unit = emitters.foreach(e =>
      try e.removeNotificationListener(this) catch { case _: Exception => })
  }

  /** Task and stage totals from the public SparkListener events. It also
    * times its own callbacks: that is the cost of tracing.
    */
  final class EngineListener extends SparkListener {
    private var cpuNs, gcMs, shuffleBytes, recordsRead, stages, selfNs = 0L
    private val taskMs = scala.collection.mutable.ArrayBuffer[Double]()

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val t0 = System.nanoTime()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        recordsRead += m.inputMetrics.recordsRead
      }
      taskMs += e.taskInfo.duration.toDouble
      selfNs += System.nanoTime() - t0
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }

    final case class Totals(cpuMs: Double, gcMs: Double, shuffleBytes: Long,
                            recordsRead: Long, stages: Long, tasks: Long, skew: Double, selfMs: Double)

    def totals: Totals = synchronized {
      val skew = if (taskMs.isEmpty) 0.0 else {
        val med = Stats.median(taskMs.toSeq)
        if (med > 0) taskMs.max / med else taskMs.max
      }
      Totals(cpuNs / 1e6, gcMs.toDouble, shuffleBytes, recordsRead, stages, taskMs.size, skew, selfNs / 1e6)
    }

    /** Events arrive on Spark's listener bus after the jobs end: wait
      * until the totals stop changing.
      */
    def quiesce(): Unit = {
      val deadline = System.currentTimeMillis() + 5000
      var last = -1L
      var cur = synchronized(taskMs.size.toLong + stages)
      while (cur != last && System.currentTimeMillis() < deadline) {
        last = cur
        Thread.sleep(250)
        cur = synchronized(taskMs.size.toLong + stages)
      }
    }
  }

  /** Per-batch phase split and state from `StreamingQueryProgress`. */
  final case class Phases(batches: Int, planningMs: Double, addBatchMs: Double,
                          offsetMs: Double, commitMs: Double,
                          stateRowsMax: Long, stateMemMbMax: Double, stateCommitMs: Double)

  def phases(ps: Seq[StreamingQueryProgress]): Phases = {
    def med(key: String*): Double =
      if (ps.isEmpty) 0.0
      else Stats.median(ps.map(p => key.map(k =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum))
    val states = ps.flatMap(_.stateOperators.toSeq)
    Phases(
      batches = ps.size,
      planningMs = med("queryPlanning"),
      addBatchMs = med("addBatch"),
      offsetMs = med("latestOffset", "getBatch"),
      commitMs = med("walCommit", "commitOffsets"),
      stateRowsMax = if (states.isEmpty) 0L else states.map(_.numRowsTotal).max,
      stateMemMbMax = if (states.isEmpty) 0.0 else states.map(_.memoryUsedBytes).max / (1024.0 * 1024.0),
      stateCommitMs = {
        val withState = ps.filter(_.stateOperators.nonEmpty)
        if (withState.isEmpty) 0.0
        else Stats.median(withState.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum))
      })
  }
}
