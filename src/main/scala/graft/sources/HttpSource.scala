package graft.sources

import java.io.{BufferedInputStream, InputStream, OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** HTTP push source — the analogue of the reference's `plugins/in_http`
  * (and the HEC/bulk-style cousins): clients POST newline-delimited
  * records; each non-empty body line becomes a row (value, path, ts,
  * content_type) and the server answers `201 Created` like in_http's
  * default success code. The request path is surfaced so callers can tag
  * from the URI (in_http's tag_from_uri behavior).
  *
  * Each request is one [[PushSource]] segment, with the same
  * at-most-once, ingest-edge delivery contract as [[TcpServerSource]].
  * A body over [[Msgpack.MaxPackedBytes]] is refused with `413` before
  * it is read, and a Content-Length that is negative or not a number
  * gets `400`; both close the connection and count as refused.
  */
class HttpServerSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HttpServerSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val port = Option(properties.get("port")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException("http source requires option 'port'"))
    val host = Option(properties.get("host")).getOrElse("127.0.0.1")
    val rawBody = Option(properties.get("body")).exists(_ == "raw")
    new PushTable(s"http://$host:$port", HttpServerSource.Schema,
        HttpServerSource.Rows(rawBody))(stream =>
      stream.serve(stream.listenTcp(host, port), s"http-$port")(
        HttpServerSource.handle(stream, rawBody)))
  }
}

object HttpServerSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("content_type", StringType, nullable = true)))

  /** A body line, or with `body=raw` the whole body as base64, under its
    * request's (path, ms, content type); an empty content type is NULL.
    */
  private[sources] final case class Rows(raw: Boolean) extends EntryDecoder[(String, Long, String)] {
    override def row(head: (String, Long, String), b: Array[Byte], from: Int, until: Int): InternalRow = {
      val (path, tsMs, contentType) = head
      InternalRow(if (raw) PushSource.base64(b, from, until) else PushSource.text(b, from, until),
        UTF8String.fromString(path), tsMs * 1000L,
        if (contentType.isEmpty) null else UTF8String.fromString(contentType))
    }
  }

  /** Read one header line (bytes up to LF, CR stripped) — headers are
    * ASCII; the BODY must be read as Content-Length BYTES (a Reader
    * would count chars and hang on multi-byte UTF-8).
    */
  private def readLine(in: InputStream): String = {
    val sb = new java.lang.StringBuilder
    var b = in.read()
    while (b >= 0 && b != '\n') { if (b != '\r') sb.append(b.toChar); b = in.read() }
    if (b < 0 && sb.length() == 0) null else sb.toString
  }

  /** Minimal HTTP/1.1: request line + headers, Content-Length body,
    * NDJSON lines → records, reply 201 (in_http's success status).
    */
  private def handle(stream: PushStream[(String, Long, String)], rawBody: Boolean)(
      in0: InputStream, out0: OutputStream): Unit = {
    val in = new BufferedInputStream(in0)
    val out = new OutputStreamWriter(out0, StandardCharsets.UTF_8)
    def reply(status: String, close: Boolean = false): Unit = {
      out.write(s"HTTP/1.1 $status\r\nContent-Length: 0\r\n" +
        (if (close) "Connection: close\r\n\r\n" else "\r\n"))
      out.flush()
    }
    var requestLine = readLine(in)
    while (requestLine != null && requestLine.nonEmpty) {
      val parts = requestLine.split(" ")
      val (method, path) =
        (parts.lift(0).getOrElse(""), parts.lift(1).getOrElse("/"))
      var contentLength = 0L // -1: not a number
      var contentType = ""
      var contentEncoding = ""
      var h = readLine(in)
      while (h != null && h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0) {
          val name = h.substring(0, i)
          if (name.equalsIgnoreCase("content-length"))
            contentLength = h.substring(i + 1).trim.toLongOption.getOrElse(-1L)
          else if (name.equalsIgnoreCase("content-type"))
            contentType = h.substring(i + 1).trim
          else if (name.equalsIgnoreCase("content-encoding"))
            contentEncoding = h.substring(i + 1).trim
        }
        h = readLine(in)
      }
      // the declared length is checked before anything is allocated for it
      def refuse(status: String): Nothing = {
        reply(status, close = true)
        throw new IllegalArgumentException(s"http request refused: $status")
      }
      if (contentLength < 0) refuse("400 Bad Request")
      if (contentLength > Msgpack.MaxPackedBytes) refuse("413 Payload Too Large")
      val rawBytes = in.readNBytes(contentLength.toInt)
      if (rawBytes.length < contentLength) throw new java.io.EOFException
      if (method == "POST" && contentLength > 0) {
        // Content-Encoding: gzip is handled at the HTTP layer like the
        // reference (flb_http_common.c / opentelemetry_prot.c:964-965
        // uncompress before the format decoder sees the body)
        val body =
          if (contentEncoding.toLowerCase(java.util.Locale.ROOT).contains("gzip"))
            Msgpack.gunzip(rawBytes, Msgpack.MaxInflatedBytes)
          else rawBytes
        // body=raw keeps the POST body intact as ONE base64 row — the
        // ingest shape for binary payloads (prometheus remote-write
        // WriteRequest protobufs are snappy blocks, not text lines)
        val seg = new Segment.Builder
        if (rawBody) seg.add(body, 0, body.length) else seg.addLines(body, 0, body.length)
        stream.append(seg.result((path, System.currentTimeMillis(), contentType)))
        reply("201 Created")
      } else reply("400 Bad Request")
      requestLine = readLine(in) // keep-alive: next request or null
    }
  }
}
