package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import graft.queries.Registry

/** Per-stage attribution for ONE query (optimization-round tooling,
  * guide §1/§7): runs the named query in the shared [[GraftSession]] with
  * a stage listener, then prints per-stage wall time, task time, shuffle
  * read/write bytes and record counts — the local[N] stand-in for the
  * Spark UI's stage table. `runs` repeats (first run includes codegen
  * warmup; read the later ones).
  *
  * Usage: sbt "runMain graft.Profile <sfDir> <query> [runs]"
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = GraftSession()

    case class St(id: Int, nameLine: String, wallMs: Long, taskMs: Long,
                  gcMs: Long, inRec: Long, srBytes: Long, srRec: Long,
                  swBytes: Long, swRec: Long, nTasks: Int)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[St]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for {
          a <- si.submissionTime; b <- si.completionTime
        } yield b - a).getOrElse(-1L)
        stages.add(St(si.stageId, si.name.takeWhile(_ != '\n'), wall,
          m.executorRunTime, m.jvmGCTime, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
          si.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val fn = Registry.queries(name)
    for (r <- 1 to runs) {
      stages.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // listener bus is async; let stage events drain
      println(f"== run $r: $name $secs%.3f s, $n rows, ${stages.size} stages ==")
      val all = {
        import scala.jdk.CollectionConverters._
        stages.asScala.toSeq.sortBy(-_.wallMs)
      }
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"task_ms"}%8s ${"gc_ms"}%6s " +
        f"${"tasks"}%5s ${"in_rec"}%10s ${"sh_rd_MB"}%9s ${"sh_rd_rec"}%10s " +
        f"${"sh_wr_MB"}%9s ${"sh_wr_rec"}%10s  name")
      all.take(30).foreach { s =>
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.taskMs}%8d ${s.gcMs}%6d " +
          f"${s.nTasks}%5d ${s.inRec}%10d ${s.srBytes / 1e6}%9.1f ${s.srRec}%10d " +
          f"${s.swBytes / 1e6}%9.1f ${s.swRec}%10d  ${s.nameLine.take(60)}")
      }
      println(f"   sum ${all.map(_.wallMs).sum}%8d ${all.map(_.taskMs).sum}%8d " +
        f"${all.map(_.gcMs).sum}%6d  (${all.size} stages)")
    }
    spark.stop()
  }
}
