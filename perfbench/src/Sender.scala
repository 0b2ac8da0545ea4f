package perfbench

import java.net.{InetSocketAddress, ServerSocket, Socket}

/** The load generator's wire side: one sending thread, at most two
  * Forward connections. Frames carry their own send schedule; the sender
  * records when each frame actually left.
  */
object Sender {

  /** A free loopback port for a source to bind. */
  def freePort(): Int = { val s = new ServerSocket(0); try s.getLocalPort finally s.close() }

  /** Connect to `port`, retrying until the source accepts or 30 s pass. */
  def connect(port: Int): Socket = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (true) {
      val s = new Socket()
      try {
        s.connect(new InetSocketAddress("127.0.0.1", port), 1000)
        s.setTcpNoDelay(true)
        return s
      } catch {
        case e: java.io.IOException =>
          s.close()
          if (System.nanoTime() > deadline) throw e
          Thread.sleep(20)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** One frame: bytes for connection `conn`, due at `dueNs` after the start. */
  final case class Frame(conn: Int, dueNs: Long, bytes: Array[Byte], records: Int)

  /** Send `frames` in order on one thread. With `openLoop`, each frame
    * waits for its due time and is never held back by a slow receiver's
    * earlier frames beyond the socket write itself; otherwise frames go
    * as fast as the sockets accept them. Returns the schedule's start and
    * each frame's send completion time, both as `System.nanoTime`.
    */
  def send(socks: Seq[Socket], frames: Seq[Frame], openLoop: Boolean): (Long, Array[Long]) = {
    val outs = socks.map(_.getOutputStream)
    val sent = new Array[Long](frames.size)
    val t0 = System.nanoTime() + 100L * 1000000L
    frames.zipWithIndex.foreach { case (f, i) =>
      if (openLoop) {
        var wait = t0 + f.dueNs - System.nanoTime()
        while (wait > 0) {
          java.util.concurrent.locks.LockSupport.parkNanos(wait)
          wait = t0 + f.dueNs - System.nanoTime()
        }
      }
      outs(f.conn).write(f.bytes)
      outs(f.conn).flush()
      sent(i) = System.nanoTime()
    }
    (t0, sent)
  }
}
