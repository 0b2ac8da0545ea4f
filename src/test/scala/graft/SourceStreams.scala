package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Drives a listening source's own `MicroBatchStream` without a query:
  * built through the public `TableProvider` path, read back partition by
  * partition with the reader factory and each partition Java-serialized
  * as a task ships them.
  */
object SourceStreams {

  /** The stream of `provider` with `options`, stopped after `body`. */
  def withStream[T](provider: TableProvider, options: (String, String)*)(
      body: MicroBatchStream => T): T = {
    val props = new java.util.HashMap[String, String]()
    options.foreach { case (k, v) => props.put(k, v) }
    val table = provider.getTable(provider.inferSchema(new CaseInsensitiveStringMap(props)),
      Array.empty[Transform], props)
    val stream = table.asInstanceOf[SupportsRead].newScanBuilder(CaseInsensitiveStringMap.empty())
      .build().toMicroBatchStream(java.nio.file.Files.createTempDirectory("src_ckpt").toString)
    try body(stream) finally stream.stop()
  }

  /** [[withStream]] on a free TCP/UDP port, passed as option `port`. */
  def withPortStream[T](provider: TableProvider, options: (String, String)*)(
      body: (MicroBatchStream, Int) => T): T = {
    val port = freePort()
    withStream(provider, ("port" -> port.toString) +: options: _*)(body(_, port))
  }

  /** An ephemeral port that was free when probed. */
  def freePort(): Int = {
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()
    port
  }

  def connect(port: Int): java.net.Socket = {
    val deadline = System.currentTimeMillis + 30000
    var sock: java.net.Socket = null
    while (sock == null) {
      try sock = new java.net.Socket("127.0.0.1", port)
      catch {
        case e: java.net.ConnectException =>
          if (System.currentTimeMillis > deadline) throw e
          Thread.sleep(50)
      }
    }
    sock.setTcpNoDelay(true)
    sock
  }

  def offsetOf(s: MicroBatchStream): Long = s.latestOffset().json().toLong

  def awaitOffset(s: MicroBatchStream, n: Long): Unit = {
    val deadline = System.currentTimeMillis + 30000
    while (offsetOf(s) < n && System.currentTimeMillis < deadline) Thread.sleep(5)
    assert(offsetOf(s) == n, s"offset ${offsetOf(s)}, wanted $n")
  }

  def readN(in: java.io.InputStream, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(b, off, n - off)
      assert(r >= 0, s"connection closed after $off of $n bytes")
      off += r
    }
    b
  }

  /** EOF, or the reset a close with unread bytes may turn into. */
  def closedByPeer(in: java.io.InputStream): Boolean =
    try in.read() == -1 catch { case _: java.net.SocketException => true }

  def partitions(s: MicroBatchStream, from: Long, to: Long): Seq[InputPartition] =
    s.planInputPartitions(s.deserializeOffset(from.toString), s.deserializeOffset(to.toString)).toSeq

  def javaSerialized(o: AnyRef): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val oo = new java.io.ObjectOutputStream(bo)
    oo.writeObject(o); oo.close()
    bo.toByteArray
  }

  /** `o` after a Java serialization round trip, as a task ships it. */
  def shipped[T <: AnyRef](o: T): T =
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(javaSerialized(o)))
      .readObject().asInstanceOf[T]

  /** The rows of `parts`, the reader factory and each partition shipped as a task ships them. */
  def rows[T](s: MicroBatchStream, parts: Seq[InputPartition])(f: InternalRow => T): Seq[T] = {
    val factory = shipped(s.createReaderFactory())
    parts.flatMap { p =>
      val reader = factory.createReader(shipped(p))
      val out = Seq.newBuilder[T]
      while (reader.next()) out += f(reader.get())
      reader.close()
      out.result()
    }
  }

  /** The rows in offsets `[from, to)`. */
  def rowsIn[T](s: MicroBatchStream, from: Long, to: Long)(f: InternalRow => T): Seq[T] =
    rows(s, partitions(s, from, to))(f)
}
