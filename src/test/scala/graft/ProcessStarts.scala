package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.{RecordedEvent, RecordingStream}

/** Marks the end of a recorded span, so every event before it has been
  * delivered when it arrives.
  */
@jdk.jfr.Name("graft.test.SpanEnd")
class SpanEnd extends jdk.jfr.Event

/** A `jdk.ProcessStart`: the command and its stack, innermost frame first. */
final case class ProcessStart(command: String, frames: Seq[String]) {
  /** The program's file name, without its directory or arguments. */
  def program: String = command.split(" ", 2)(0).split('/').last

  /** Run by a `java.lang.ref.Cleaner`: Spark's `ArtifactManager` shells
    * out `rm -rf` when the garbage collector reclaims an earlier query's
    * cloned session, whenever that happens.
    */
  def fromCleaner: Boolean = frames.exists(_.startsWith("jdk.internal.ref.CleanerImpl"))

  override def toString: String = command + " <- " + frames
    .find(f => f.startsWith("org.apache.spark.") || f.startsWith("org.apache.hadoop.fs.")).getOrElse("?")
}

/** The fork guard: records this JVM's child process starts with JFR. */
object ProcessStarts {
  /** The `jdk.ProcessStart` events of this JVM during `body`. */
  def during(body: => Unit): Seq[ProcessStart] = {
    val seen = new ConcurrentLinkedQueue[ProcessStart]()
    val end = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[SpanEnd])
      rs.onEvent("jdk.ProcessStart", (e: RecordedEvent) => seen.add(ProcessStart(e.getString("command"),
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))))
      rs.onEvent("graft.test.SpanEnd", (_: RecordedEvent) => end.countDown())
      rs.startAsync()
      body
      new SpanEnd().commit()
      assert(end.await(60, TimeUnit.SECONDS), "the recording never delivered its end mark")
    } finally rs.close()
    seen.asScala.toSeq
  }

  /** One line per distinct start, with its count. */
  def report(forks: Seq[ProcessStart]): String =
    s"${forks.size} process starts:\n" +
      forks.groupBy(_.toString).map { case (k, v) => s"${v.size} × $k" }.mkString("\n")
}
