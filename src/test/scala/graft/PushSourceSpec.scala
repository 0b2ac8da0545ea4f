package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReportsSourceMetrics}
import org.scalatest.funsuite.AnyFunSuite

import graft.PushCorpus._
import graft.SourceStreams._
import graft.sources.{HttpServerSource, MqttServerSource, PushProbe, PushSource, TcpServerSource, UdpServerSource}

/** The wire contract of the Tcp, Udp, Http and Mqtt sources on the push
  * core, driven through the public `TableProvider` path with partitions
  * Java-serialized as a task ships them, plus the ingress caps and the
  * slab shape of a line source.
  */
class PushSourceSpec extends AnyFunSuite {
  import TestSpark._

  spark.sparkContext // planning reads defaultParallelism from the active session

  /** A partition is a handle on its batch's broadcast: its serialized
    * size does not grow with the batch.
    */
  private val MaxShippedPartition = 4096

  private def refusedConnections(s: MicroBatchStream): Long =
    s.asInstanceOf[ReportsSourceMetrics].metrics(java.util.Optional.empty()).get("refusedConnections").toLong

  /** The rows (and replies) of `PushCorpus` from the sources as they were
    * before they shared the push core (generated at commit f0c5ca5 by the
    * same drivers); `ts` is left out, it is the arrival time.
    */
  private val tcpLines = Seq(
    "lf line",
    "crlf line",
    "bare cr",
    "after cr",
    "",
    "",
    "",
    "after empty cr",
    "multi \u00e9 \u00fc \ud83d\ude00 byte",
    "bad \ufffd byte",
    "truncated \ufffd",
    "four \ufffd",
    "cr ends a write",
    "lf starts the next",
    "last line without terminator")
  private val tcpOctets = Seq(
    "hello",
    "two\nlines\r\n",
    "\u00fcn\u00ef \ud83d\ude00",
    "",
    "a\ufffdb")
  private val udpRows = Seq(
    ("a", "127.0.0.1"),
    ("b", "127.0.0.1"),
    ("single", "127.0.0.1"),
    ("crlf\r", "127.0.0.1"),
    ("line\r", "127.0.0.1"),
    ("bad \ufffd x", "127.0.0.1"),
    ("\ufffd", "127.0.0.1"),
    ("ok", "127.0.0.1"),
    ("\u00e9 multi", "127.0.0.1"))
  private val udpRawRows = Seq(
    ("YmluAP8KCng=", "127.0.0.1"),
    ("", "127.0.0.1"),
    ("dGV4dCBsaW5lCg==", "127.0.0.1"))
  private val httpReplies = Seq(
    "HTTP/1.1 201 Created\r\nContent-Length: 0\r\n\r\n",
    "HTTP/1.1 201 Created\r\nContent-Length: 0\r\n\r\n",
    "HTTP/1.1 201 Created\r\nContent-Length: 0\r\n\r\n",
    "HTTP/1.1 400 Bad Request\r\nContent-Length: 0\r\n\r\n",
    "HTTP/1.1 201 Created\r\nContent-Length: 0\r\n\r\n")
  private val httpRows = Seq(
    ("{\"a\":1}", "/app/ndjson", Some("application/x-ndjson")),
    ("{\"b\":2}\r", "/app/ndjson", Some("application/x-ndjson")),
    ("last \u00e9", "/app/ndjson", Some("application/x-ndjson")),
    ("x", "/nocontent", None),
    ("y", "/nocontent", None),
    ("{\"z\":1}", "/gz", Some("application/json")),
    ("{\"z\":2}", "/gz", Some("application/json")),
    ("\ufffd\ufffd", "/bad", Some("text/plain")),
    ("A", "/bad", Some("text/plain")))
  private val httpRawReplies = Seq(
    "HTTP/1.1 201 Created\r\nContent-Length: 0\r\n\r\n",
    "HTTP/1.1 201 Created\r\nContent-Length: 0\r\n\r\n")
  private val httpRawRows = Seq(
    ("AAECAwQFBgcICQoLDA0ODxAREhMUFRYXGBkaGxwdHh8gISIjJCUmJygpKissLS4vMDEyMzQ1Njc4OTo7PD0+P0BBQkNERUZHSElKS0xNTk9QUVJTVFVWV1hZWltcXV5fYGFiY2RlZmdoaWprbG1ub3BxcnN0dXZ3eHl6e3x9fn+AgYKDhIWGh4iJiouMjY6PkJGSk5SVlpeYmZqbnJ2en6ChoqOkpaanqKmqq6ytrq+wsbKztLW2t7i5uru8vb6/wMHCw8TFxsfIycrLzM3Oz9DR0tPU1dbX2Nna29zd3t/g4eLj5OXm5+jp6uvs7e7v8PHy8/T19vf4+fr7/P3+/w==", "/api/v1/write", Some("application/x-protobuf")),
    ("bGluZSBvbmUKbGluZSB0d28K", "/api/v1/write", Some("application/x-protobuf")))
  private val mqttReplies = Seq(0x20, 0x02, 0x01, 0x00, 0x40, 0x02, 0x00, 0x07, 0x50, 0x02, 0x00, 0x09, 0x40, 0x02, 0x00, 0x0b, 0xd0, 0x00)
  private val mqttRows = Seq(
    ("sensors/a", 0, "{\"t\":21.5}"),
    ("sensors/b", 1, "{\"t\":22}"),
    ("sensors/c", 2, "{\"u\":\"\u00e9\"}"),
    ("sensors/e", 0, "  {\"nested\":{\"x\":[1]}}  "))

  test("tcp newline framing: rows equal readLine's however the bytes are split") {
    withPortStream(new TcpServerSource) { (stream, port) =>
      val n = tcpLines.size
      assert(deliver(stream, port, n, value)(whole(lines)) == tcpLines)
      assert(deliver(stream, port, n, value)(bytewise(lines)) == tcpLines)
      assert(deliver(stream, port, n, value)(splitAt(lines, crLfSplit)) == tcpLines)
      (1 until lines.length).foreach { k =>
        assert(deliver(stream, port, n, value)(splitAt(lines, k)) == tcpLines, s"split at $k")
      }
    }
  }

  test("tcp octet framing: rows equal the frames however split; an oversized length ends the connection") {
    withPortStream(new TcpServerSource, "framing" -> "octet") { (stream, port) =>
      val n = tcpOctets.size
      assert(deliver(stream, port, n, value)(whole(octets)) == tcpOctets)
      assert(deliver(stream, port, n, value)(bytewise(octets)) == tcpOctets)
      (1 until octets.length).foreach { k =>
        assert(deliver(stream, port, n, value)(splitAt(octets, k)) == tcpOctets, s"split at $k")
      }
    }
  }

  test("udp: lines of each datagram with its peer, and body=raw as one base64 row") {
    withPortStream(new UdpServerSource) { (stream, port) =>
      sendDatagrams(port, datagrams)
      awaitOffset(stream, udpRows.size)
      assert(rowsIn(stream, 0, udpRows.size)(udpRow) == udpRows)
    }
    withPortStream(new UdpServerSource, "body" -> "raw") { (stream, port) =>
      sendDatagrams(port, rawDatagrams)
      awaitOffset(stream, udpRawRows.size)
      assert(rowsIn(stream, 0, udpRawRows.size)(udpRow) == udpRawRows)
    }
  }

  test("http: keep-alive NDJSON, gzip, NULL content type and body=raw rows and replies") {
    withPortStream(new HttpServerSource) { (stream, port) =>
      assert(post(port, requests) == httpReplies)
      awaitOffset(stream, httpRows.size)
      assert(rowsIn(stream, 0, httpRows.size)(httpRow) == httpRows)
    }
    withPortStream(new HttpServerSource, "body" -> "raw") { (stream, port) =>
      assert(post(port, rawRequests) == httpRawReplies)
      awaitOffset(stream, httpRawRows.size)
      assert(rowsIn(stream, 0, httpRawRows.size)(httpRow) == httpRawRows)
    }
  }

  test("mqtt: QoS 0/1/2 publishes with PUBACK/PUBREC, a non-object payload dropped") {
    withPortStream(new MqttServerSource) { (stream, port) =>
      assert(mqttSession(port).toSeq == mqttReplies.map(_.toByte))
      awaitOffset(stream, mqttRows.size)
      assert(rowsIn(stream, 0, mqttRows.size)(mqttRow) == mqttRows)
    }
  }

  test("http: a Content-Length over MaxPackedBytes gets 413 and a close before any body is read") {
    withPortStream(new HttpServerSource) { (stream, port) =>
      val sock = connect(port)
      sock.setSoTimeout(10000)
      val (in, out) = (sock.getInputStream, sock.getOutputStream)
      out.write(request("POST", "/ok", Seq("Content-Type: text/plain"), "kept\nalso kept".getBytes(UTF_8)))
      out.flush()
      assert(readResponse(in).startsWith("HTTP/1.1 201 "))
      out.write(s"POST /huge HTTP/1.1\r\nContent-Length: ${Int.MaxValue}\r\n\r\nabc".getBytes(UTF_8))
      out.flush()
      assert(readResponse(in).startsWith("HTTP/1.1 413 "))
      assert(closedByPeer(in))
      sock.close()
      assert(offsetOf(stream) == 2)
      assert(rowsIn(stream, 0, 2)(httpRow).map(_._1) == Seq("kept", "also kept"))
      // a length that is negative or not a number is a bad request
      Seq("-5", "12abc").foreach { cl =>
        val bad = connect(port)
        bad.setSoTimeout(10000)
        bad.getOutputStream.write(s"POST /bad HTTP/1.1\r\nContent-Length: $cl\r\n\r\nhello".getBytes(UTF_8))
        bad.getOutputStream.flush()
        assert(readResponse(bad.getInputStream).startsWith("HTTP/1.1 400 "), cl)
        assert(closedByPeer(bad.getInputStream), cl)
        bad.close()
      }
      assert(offsetOf(stream) == 2)
    }
  }

  test("tcp newline framing: a line past MaxLineBytes closes the connection; earlier lines stand") {
    withPortStream(new TcpServerSource) { (stream, port) =>
      val longest = "y" * PushSource.MaxLineBytes
      val sock = connect(port)
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      out.write(s"kept one\r\n$longest\n".getBytes(UTF_8))
      val piece = Array.fill[Byte](64 * 1024)('x'.toByte)
      var sent = 0L
      val refused =
        try {
          while (sent < 64L * PushSource.MaxLineBytes) { out.write(piece); out.flush(); sent += piece.length }
          false
        } catch { case _: java.io.IOException => true }
      assert(refused, s"sent $sent bytes of one line without the source closing")
      assert(closedByPeer(sock.getInputStream))
      sock.close()
      assert(offsetOf(stream) == 2)
      assert(rowsIn(stream, 0, 2)(value) == Seq("kept one", longest))
      // the source itself keeps serving; a peer that closes is not refused
      assert(deliver(stream, port, 1, value)(whole("next\n".getBytes(UTF_8))) == Seq("next"))
      assert(refusedConnections(stream) == 1)
    }
  }

  test("http: a corrupt or cut gzip body closes the connection and counts as refused") {
    val good = gzip("{\"z\":1}\n".getBytes(UTF_8))
    val corrupt = good.take(10) ++ Array.fill[Byte](good.length - 10)(0x7f)
    val cut = good.take(good.length - 4)
    withPortStream(new HttpServerSource) { (stream, port) =>
      Seq(corrupt, cut).zipWithIndex.foreach { case (body, k) =>
        val sock = connect(port)
        sock.setSoTimeout(10000)
        sock.getOutputStream.write(request("POST", "/gz", Seq("Content-Encoding: gzip"), body))
        sock.getOutputStream.flush()
        assert(closedByPeer(sock.getInputStream), k)
        sock.close()
        assert(refusedConnections(stream) == k + 1)
      }
      assert(offsetOf(stream) == 0)
      assert(post(port, Seq(request("POST", "/gz", Seq("Content-Encoding: gzip"), good))).head
        .startsWith("HTTP/1.1 201 "))
      assert(refusedConnections(stream) == 2)
    }
  }

  test("tcp octet framing: a frame that starts with a non-digit closes the connection and counts as refused") {
    withPortStream(new TcpServerSource, "framing" -> "octet") { (stream, port) =>
      val sock = connect(port)
      sock.setSoTimeout(10000)
      sock.getOutputStream.write("5 hello<14> no length".getBytes(UTF_8))
      sock.getOutputStream.flush()
      assert(closedByPeer(sock.getInputStream))
      sock.close()
      assert(refusedConnections(stream) == 1)
      assert(offsetOf(stream) == 1)
      assert(rowsIn(stream, 0, 1)(value) == Seq("hello"))
    }
  }

  /** Lines `line 0` to `line n-1` in ten writes (at least ten segments); the open connection. */
  private def sendLines(port: Int, n: Int): java.net.Socket = {
    val bytes = (0 until n).map(i => s"line $i\n").mkString.getBytes(UTF_8)
    val sock = connect(port)
    bytes.grouped(bytes.length / 10 + 1).foreach { w =>
      sock.getOutputStream.write(w); sock.getOutputStream.flush(); Thread.sleep(20)
    }
    sock
  }

  /** The id the context's next broadcast gets. */
  private def nextBroadcastId(): Long = {
    val probe = spark.sparkContext.broadcast(0)
    probe.destroy()
    probe.id + 1
  }

  /** Reading `parts` fails on their destroyed broadcast. */
  private def assertDestroyed(stream: MicroBatchStream, parts: Seq[InputPartition]): Unit = {
    val e = intercept[Exception](SourceStreams.rows(stream, parts)(value))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("after it was destroyed")), e)
  }

  test("a range planned twice is the same partitions over one broadcast") {
    withPortStream(new TcpServerSource) { (stream, port) =>
      val sock = sendLines(port, 1000)
      awaitOffset(stream, 1000)
      val id = nextBroadcastId()
      val first = partitions(stream, 0, 1000)
      val again = partitions(stream, 0, 1000)
      assert(nextBroadcastId() == id + 2) // the batch's and the probe's own
      assert(first.nonEmpty && first.size == again.size)
      assert(first.zip(again).forall { case (a, b) => a eq b })
      assert(PushProbe.broadcastIds(first) == Set(id))
      assert(SourceStreams.rows(stream, again)(value) == (0 until 1000).map(i => s"line $i"))
      sock.close()
    }
  }

  test("a committed batch's partitions can no longer be read") {
    withPortStream(new TcpServerSource) { (stream, port) =>
      val sock = sendLines(port, 1000)
      awaitOffset(stream, 1000)
      val batch = partitions(stream, 0, 600)
      val later = partitions(stream, 600, 1000)
      stream.commit(stream.deserializeOffset("600"))
      assertDestroyed(stream, batch)
      // the batch after it is untouched
      assert(SourceStreams.rows(stream, later)(value) == (600 until 1000).map(i => s"line $i"))
      sock.close()
    }
  }

  test("stop destroys the broadcasts of uncommitted batches") {
    withPortStream(new TcpServerSource) { (stream, port) =>
      val sock = sendLines(port, 1000)
      awaitOffset(stream, 1000)
      val batch = partitions(stream, 0, 1000)
      assert(SourceStreams.rows(stream, batch)(value).size == 1000)
      stream.stop()
      assertDestroyed(stream, batch)
      sock.close()
    }
  }

  test("tcp lines plan byte slabs: one per slot, not one per batch; committed segments gone") {
    val slots = spark.sparkContext.defaultParallelism
    withPortStream(new TcpServerSource) { (stream, port) =>
      val lines = (0 until 10000).map(i =>
        f"<14>1 2024-01-01T00:${i / 60 % 60}%02d:${i % 60}%02dZ host-${i % 7} app - - request $i served")
      val bytes = lines.map(_ + "\n").mkString.getBytes(UTF_8)
      val sock = connect(port)
      // ten writes, so the batch holds at least ten segments
      bytes.grouped(bytes.length / 10 + 1).foreach { w =>
        sock.getOutputStream.write(w); sock.getOutputStream.flush(); Thread.sleep(50)
      }
      awaitOffset(stream, 10000)
      val parts = partitions(stream, 0, 10000)
      assert(parts.size == math.min(10000, slots)) // not one partition per batch
      parts.foreach { p =>
        val shipped = javaSerialized(p).length
        assert(shipped <= MaxShippedPartition, s"a partition of ${bytes.length} line bytes ships as $shipped bytes")
      }
      assert(SourceStreams.rows(stream, parts)(value) == lines)
      stream.commit(stream.deserializeOffset("10000"))
      assert(rowsIn(stream, 0, 10000)(value).isEmpty)
      sock.close()
    }
  }
}
