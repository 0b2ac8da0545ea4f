package graft

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream

import graft.SourceStreams._

/** Wire inputs for the Tcp, Udp, Http and Mqtt listening sources, each
  * covering the framing edges a byte-level rewrite could get subtly
  * wrong, and the drivers that deliver them and read the rows back.
  */
object PushCorpus {

  private def b(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def raw(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // ------------------------------------------------------------ tcp newline

  /** Every `BufferedReader.readLine` terminator (LF, CRLF, bare CR, CR
    * then LF), empty lines, multi-byte UTF-8, malformed and truncated
    * sequences next to a terminator, and a last line with none.
    */
  val lines: Array[Byte] = Array(
    b("lf line\n"), b("crlf line\r\n"), b("bare cr\r"), b("after cr\n"),
    b("\n"), b("\r\n"), b("\r"), b("after empty cr\n"),
    b("multi é ü 😀 byte\n"),
    b("bad "), raw(0xff), b(" byte\n"),
    b("truncated "), raw(0xe2, 0x82), b("\n"),
    b("four "), raw(0xf0, 0x9f, 0x98), b("\r\n"),
    b("cr ends a write\r"), b("\nlf starts the next\n"),
    b("last line without terminator")).flatten

  /** Offset of the LF right after "cr ends a write\r". */
  val crLfSplit: Int = {
    val at = new String(lines, java.nio.charset.StandardCharsets.ISO_8859_1)
      .indexOf("cr ends a write\r") + "cr ends a write\r".length
    assert(lines(at) == '\n')
    at
  }

  // -------------------------------------------------------------- tcp octet

  def octet(s: Array[Byte]): Array[Byte] = b(s"${s.length} ") ++ s

  /** Frames with a newline, multi-byte text and a zero length, then a
    * frame over the 1 MiB bound (which ends the connection) and one the
    * source never reads.
    */
  val octets: Array[Byte] = Array(
    octet(b("hello")), octet(b("two\nlines\r\n")), octet(b("ünï 😀")), octet(Array.empty),
    octet(raw(0x61, 0xff, 0x62)), b(s"${(1 << 20) + 1} xx"), octet(b("after"))).flatten

  // ------------------------------------------------------------------- udp

  val datagrams: Seq[Array[Byte]] = Seq(
    b("a\n\nb\n"), b("\n\n"), b("single"), b("crlf\r\nline\r\n"),
    b("bad ") ++ raw(0xff) ++ b(" x\n") ++ raw(0xe2, 0x82) ++ b("\nok"), b("é multi"))

  val rawDatagrams: Seq[Array[Byte]] = Seq(
    b("bin") ++ raw(0x00, 0xff) ++ b("\n\nx"), Array.empty[Byte], b("text line\n"))

  // ------------------------------------------------------------------ http

  def gzip(x: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(bo)
    z.write(x); z.close()
    bo.toByteArray
  }

  def request(method: String, path: String, headers: Seq[String], body: Array[Byte]): Array[Byte] =
    b((s"$method $path HTTP/1.1" +: "Host: localhost" +: s"Content-Length: ${body.length}" +:
      headers).map(_ + "\r\n").mkString + "\r\n") ++ body

  /** Keep-alive requests on one connection: NDJSON with empty and CRLF
    * lines, no content type, a gzip body, a GET and malformed UTF-8.
    */
  val requests: Seq[Array[Byte]] = Seq(
    request("POST", "/app/ndjson", Seq("Content-Type: application/x-ndjson"),
      b("{\"a\":1}\n\n{\"b\":2}\r\nlast é")),
    request("POST", "/nocontent", Nil, b("x\ny\n")),
    request("POST", "/gz", Seq("Content-Type: application/json", "Content-Encoding: gzip"),
      gzip(b("{\"z\":1}\n{\"z\":2}\n"))),
    request("GET", "/health", Nil, Array.empty),
    request("POST", "/bad", Seq("Content-Type: text/plain"), raw(0xff, 0xfe, 0x0a, 0x41)))

  val rawRequests: Seq[Array[Byte]] = Seq(
    request("POST", "/api/v1/write", Seq("Content-Type: application/x-protobuf"),
      (0 until 256).map(_.toByte).toArray),
    request("POST", "/api/v1/write", Seq("Content-Type: application/x-protobuf",
      "Content-Encoding: gzip"), gzip(b("line one\nline two\n"))))

  // ------------------------------------------------------------------ mqtt

  private def varint(n: Int): Array[Byte] = {
    val out = Array.newBuilder[Byte]
    var len = n
    while ({
      var x = len % 128
      len /= 128
      if (len > 0) x |= 128
      out += x.toByte
      len > 0
    }) ()
    out.result()
  }

  def packet(ptype: Int, flags: Int, body: Array[Byte]): Array[Byte] =
    Array(((ptype << 4) | flags).toByte) ++ varint(body.length) ++ body

  def publish(qos: Int, topic: String, id: Option[Int], payload: String): Array[Byte] = {
    val t = b(topic)
    packet(3, qos << 1, Array((t.length >> 8).toByte, t.length.toByte) ++ t ++
      id.map(i => Array((i >> 8).toByte, i.toByte)).getOrElse(Array.empty[Byte]) ++ b(payload))
  }

  /** CONNECT, QoS 0/1/2 publishes, a non-object payload (acked, dropped),
    * a publish split across writes, PINGREQ and DISCONNECT, one write
    * each.
    */
  val mqttWrites: Seq[Array[Byte]] = {
    val split = publish(0, "sensors/e", None, "  {\"nested\":{\"x\":[1]}}  ")
    Seq(
      packet(1, 0, raw(0, 4) ++ b("MQTT") ++ raw(4, 2, 0, 60, 0, 2) ++ b("c1")),
      publish(0, "sensors/a", None, "{\"t\":21.5}"),
      publish(1, "sensors/b", Some(7), "{\"t\":22}"),
      publish(2, "sensors/c", Some(9), "{\"u\":\"é\"}"),
      publish(1, "sensors/d", Some(11), "[1,2]"),
      split.take(5), split.drop(5),
      packet(12, 0, Array.empty),
      packet(14, 0, Array.empty))
  }

  // --------------------------------------------------------------- drivers

  def value(r: InternalRow): String = r.getUTF8String(0).toString
  def udpRow(r: InternalRow): (String, String) = (value(r), r.getUTF8String(1).toString)
  def httpRow(r: InternalRow): (String, String, Option[String]) =
    (value(r), r.getUTF8String(1).toString,
      if (r.isNullAt(3)) None else Some(r.getUTF8String(3).toString))
  def mqttRow(r: InternalRow): (String, Int, String) =
    (r.getUTF8String(0).toString, r.getInt(1), r.getUTF8String(2).toString)

  /** One connection writes through `write` and closes; the `rows` rows it added. */
  def deliver[T](s: MicroBatchStream, port: Int, rows: Int, f: InternalRow => T)(
      write: OutputStream => Unit): Seq[T] = {
    val before = offsetOf(s)
    val sock = connect(port)
    try write(sock.getOutputStream) catch { case _: java.io.IOException => }
    sock.close()
    awaitOffset(s, before + rows)
    rowsIn(s, before, before + rows)(f)
  }

  /** `bytes` in two writes split at `k`, with a pause between. */
  def splitAt(bytes: Array[Byte], k: Int)(o: OutputStream): Unit = {
    o.write(bytes, 0, k); o.flush(); Thread.sleep(2)
    o.write(bytes, k, bytes.length - k); o.flush()
  }

  def bytewise(bytes: Array[Byte])(o: OutputStream): Unit =
    bytes.foreach { x => o.write(x); o.flush(); Thread.sleep(1) }

  def whole(bytes: Array[Byte])(o: OutputStream): Unit = { o.write(bytes); o.flush() }

  /** Send each datagram, pausing between them. */
  def sendDatagrams(port: Int, ds: Seq[Array[Byte]]): Unit = {
    val sock = new java.net.DatagramSocket()
    val addr = new java.net.InetSocketAddress("127.0.0.1", port)
    try ds.foreach { d => sock.send(new java.net.DatagramPacket(d, d.length, addr)); Thread.sleep(20) }
    finally sock.close()
  }

  /** One HTTP/1.1 response: status line and headers through the blank line. */
  def readResponse(in: InputStream): String = {
    val sb = new StringBuilder
    while (!sb.endsWith("\r\n\r\n")) {
      val c = in.read()
      if (c < 0) return sb.toString
      sb += c.toChar
    }
    sb.toString
  }

  /** Keep-alive requests on one connection, each answered before the next. */
  def post(port: Int, reqs: Seq[Array[Byte]]): Seq[String] = {
    val sock = connect(port)
    try reqs.map { r =>
      sock.getOutputStream.write(r); sock.getOutputStream.flush()
      readResponse(sock.getInputStream)
    } finally sock.close()
  }

  /** Every byte the broker sent until it closed the connection. */
  def mqttSession(port: Int): Array[Byte] = {
    val sock = connect(port)
    try {
      mqttWrites.foreach { w =>
        sock.getOutputStream.write(w); sock.getOutputStream.flush(); Thread.sleep(20)
      }
      sock.setSoTimeout(10000)
      sock.getInputStream.readAllBytes()
    } finally sock.close()
  }
}
