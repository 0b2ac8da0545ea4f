package graft.sources

import java.io.{BufferedInputStream, InputStream}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A real TCP *server* push source — the analogue of the reference's
  * listening inputs (`plugins/in_tcp`, and the transport under
  * `in_syslog`'s tcp mode): peers CONNECT TO US and push newline-framed
  * records (Spark's built-in `socket` source is the opposite: a client
  * that dials out).
  *
  * Usage: `spark.readStream.format("graft.sources.TcpServerSource")
  * .option("port", p).load()` → rows (value STRING, ts TIMESTAMP).
  *
  * Runs on the [[PushSource]] core: each socket read's complete lines
  * (or each octet-counted frame) become one segment, so the lines of one
  * read share their `ts`.
  */
class TcpServerSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TcpServerSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val port = Option(properties.get("port")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException("tcp source requires option 'port'"))
    val host = Option(properties.get("host")).getOrElse("127.0.0.1")
    // framing: "newline" (default) or "octet_counting"/"octet"
    // (RFC 6587 `<len> SP <msg>`, in_syslog/syslog.c:250)
    val octet = Option(properties.get("framing")).exists(f =>
      f.equalsIgnoreCase("octet_counting") || f.equalsIgnoreCase("octet"))
    // `tls on` + keystore: the reference's in_tcp `tls` block
    val tls = Tls.serverFromOptions(k => Option(properties.get(k)))
    new PushTable(s"tcp://$host:$port", TcpServerSource.Schema, TcpServerSource.Lines)(stream =>
      stream.serve(stream.listenTcp(host, port, tls), s"tcp-$port") { (in, _) =>
        if (octet) TcpServerSource.octetFrames(in, stream) else TcpServerSource.lines(in, stream)
      })
  }
}

object TcpServerSource {
  val Schema: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false)))

  /** A line (or frame) under the millisecond its read arrived. */
  private[sources] object Lines extends EntryDecoder[Long] {
    override def row(tsMs: Long, b: Array[Byte], from: Int, until: Int): InternalRow =
      InternalRow(PushSource.text(b, from, until), tsMs * 1000L)
  }

  /** Newline framing, shared with [[UnixServerSource]]. */
  private[sources] def lines(in: InputStream, stream: PushStream[Long]): Unit =
    PushSource.newlines(in)(lines => stream.append(lines.result(System.currentTimeMillis())))

  /** RFC 6587 octet-counting framing, `<len> SP <msg>`
    * (in_syslog/syslog_prot.c:236-266): digits then one space then
    * exactly len bytes. Short reads block until the frame completes
    * (the reference buffers partial frames across reads with
    * frame_have_len/frame_expected_len); a non-digit/non-space where
    * the length belongs, a length over [[PushSource.MaxLineBytes]] or
    * EOF mid-frame ends the connection, matching the reference's -1
    * return. The first two throw, so the connection counts as refused.
    */
  private def octetFrames(in: InputStream, stream: PushStream[Long]): Unit = {
    val bin = new BufferedInputStream(in)
    var c = bin.read()
    while (c >= '0' && c <= '9') {
      var n = 0L
      while (c >= '0' && c <= '9' && n < Int.MaxValue) {
        n = n * 10 + (c - '0'); c = bin.read()
      }
      if (c < 0) return
      if (c != ' ' || n > PushSource.MaxLineBytes) throw new IllegalArgumentException(
        s"octet-counted frame length $n is over ${PushSource.MaxLineBytes} or not followed by a space")
      val bytes = bin.readNBytes(n.toInt)
      if (bytes.length < n) return
      stream.append(Segment.one(System.currentTimeMillis(), bytes))
      c = bin.read()
    }
    if (c >= 0) throw new IllegalArgumentException(s"octet-counted frame starts with byte $c, not a digit")
  }
}
