package graft.sources

import java.io.{InputStream, OutputStream}
import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{MapType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** fluentd Forward-protocol push source — the analogue of the
  * reference's `plugins/in_forward`: an actual fluent-bit/fluentd agent
  * can point its `out_forward` at this port. Frames are msgpack arrays
  * (Message, Forward, and PackedForward modes — [[Msgpack.forwardEvents]]);
  * each event becomes a row (tag, ts, record MAP<STRING,STRING>) in the
  * two-tier schemaless model of SURVEY §1.4.
  *
  * Like fluent-bit's input chunks, the source buffers wire bytes, not
  * decoded events: each accepted frame becomes one [[PushSource]]
  * segment (its tag and its `[time, record]` entries as msgpack), and
  * the entries are decoded in the executor tasks. A frame still
  * incomplete after [[Msgpack.MaxPackedBytes]] closes its connection.
  * When the sender requests acknowledgement (the `chunk` option), the
  * server replies `{"ack": id}` once the frame's records are buffered
  * and counted in `latestOffset`, so at-least-once senders
  * (Require_ack_response) do not retransmit; without the option the
  * edge contract is the usual at-most-once push.
  */
class ForwardServerSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ForwardServerSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val port = Option(properties.get("port")).map(_.toInt).getOrElse(
      throw new IllegalArgumentException("forward source requires option 'port'"))
    val host = Option(properties.get("host")).getOrElse("127.0.0.1")
    val sharedKey = Option(properties.get("shared_key"))
    val selfHostname = Option(properties.get("self_hostname")).getOrElse("graft")
    // fw_prot.c user auth: `users user1:pw1,user2:pw2` next to shared_key
    val users = Option(properties.get("users")).map(_.split(",").toSeq
      .map(_.trim).filter(_.nonEmpty).map { kv =>
        kv.split(":", 2) match {
          case Array(u, pw) => u -> pw
          case _ => throw new IllegalArgumentException(
            s"forward source option 'users': entry '$kv' is not user:password")
        }
      }.toMap).getOrElse(Map.empty[String, String])
    // `tls on` + keystore: the reference's in_forward `tls` block
    val tls = Tls.serverFromOptions(k => Option(properties.get(k)))
    new PushTable(s"forward://$host:$port", ForwardServerSource.Schema, ForwardServerSource.Rows)(
      stream => stream.serve(stream.listenTcp(host, port, tls), s"forward-$port") { (in, out) =>
        // shared-key auth first when configured (fw_prot.c handshake);
        // an unauthenticated peer is notified via PONG(false) and dropped
        if (sharedKey.forall(SecureForward.serverHandshake(in, out, _, selfHostname, users)))
          ForwardServerSource.intake(stream, in, out)
      })
  }
}

object ForwardServerSource {
  val Schema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("record", MapType(StringType, StringType), nullable = false)))

  /** One-pass frame intake into a growable receive buffer. A resumable
    * [[Msgpack.walk]] finds where each top-level frame ends, so every
    * byte is scanned once however the frame is split across reads. Each
    * complete frame is then validated by [[Msgpack.forwardEvents]]: a bad
    * entry shape or a truncated PackedForward payload is a malformed
    * frame and closes the connection, as does a frame still incomplete
    * after [[Msgpack.MaxPackedBytes]] (nothing of it is buffered or
    * acknowledged). Frames accepted before either stay buffered. When
    * the sender requests an ack (`chunk` option), the protocol's
    * `{"ack": id}` reply is written once the frame's records are counted
    * in `latestOffset` (at-least-once senders with Require_ack_response
    * retransmit without it).
    */
  private def intake(stream: PushStream[String], in: InputStream, out: OutputStream): Unit = {
    val ReadSize = 64 * 1024
    var rb = new Array[Byte](ReadSize)
    var len = 0
    var start = 0 // first byte of the frame being received
    val w = new Msgpack.Walk(0)
    var n = in.read(rb, 0, ReadSize)
    while (n >= 0) {
      len += n
      while (Msgpack.walk(rb, len, w)) {
        accept(stream, rb, start, out)
        start = w.pos
        w.left = 1
      }
      if (len - start > Msgpack.MaxPackedBytes) throw new IllegalArgumentException(
        s"forward frame incomplete after ${Msgpack.MaxPackedBytes} bytes")
      if (start == len) {
        // drained: release a buffer a large frame grew
        start = 0; len = 0; w.pos = 0
        if (rb.length > ReadSize) rb = new Array[Byte](ReadSize)
      } else if (rb.length - len < ReadSize) {
        // drop the accepted frames, then grow (at most to the frame cap)
        System.arraycopy(rb, start, rb, 0, len - start)
        len -= start; w.pos -= start; start = 0
        if (rb.length - len < ReadSize) rb = java.util.Arrays.copyOf(rb,
          math.min(math.max(rb.length * 2, len + ReadSize), Msgpack.MaxPackedBytes + ReadSize))
      }
      n = in.read(rb, len, rb.length - len)
    }
  }

  /** Validate the complete frame at `b(from)`, buffer its entries as one
    * segment and acknowledge it when asked to.
    */
  private def accept(stream: PushStream[String], b: Array[Byte], from: Int, out: OutputStream): Unit = {
    val (v, _) = Msgpack.decode(b, from)
    val payload = Msgpack.packedPayload(v) // decompressed once, for both steps
    val n = Msgpack.forwardEvents(v, payload).size // throws on a malformed frame
    if (n > 0) stream.append(segment(b, from, v, payload, n))
    Msgpack.forwardChunkId(v).foreach { id =>
      out.write(Msgpack.encodeAck(id)); out.flush()
    }
  }

  /** The `n` entries of the validated frame `v` decoded from `b(from)`:
    * Forward mode's entries array in place, PackedForward's decompressed
    * `payload` (already an entry stream), and Message mode's time and
    * record behind a fixarray(2) header.
    */
  private def segment(b: Array[Byte], from: Int, v: Msgpack.V, payload: Array[Byte],
                      n: Int): Segment[String] = {
    def arrayHeader(p: Int): Int = (b(p) & 0xFF) match {
      case 0xdc => 3
      case 0xdd => 5
      case _ => 1
    }
    val (tag, second) = v match {
      case Msgpack.MArr(items) => (items(0).asInstanceOf[Msgpack.MStr].s, items(1))
      case other => throw new IllegalArgumentException(s"bad forward message $other")
    }
    val p = Msgpack.skip(b, from + arrayHeader(from)) // past the tag
    second match {
      case _: Msgpack.MArr => entries(tag, b, p + arrayHeader(p), n)
      case _: Msgpack.MBin => entries(tag, payload, 0, n)
      case _ =>
        val end = Msgpack.skip(b, Msgpack.skip(b, p))
        val e = new Array[Byte](1 + end - p)
        e(0) = 0x92.toByte
        System.arraycopy(b, p, e, 1, end - p)
        Segment.one(tag, e)
    }
  }

  /** The `n` consecutive entries at `b(from)`, copied out unless they are all of `b`. */
  private def entries(tag: String, b: Array[Byte], from: Int, n: Int): Segment[String] = {
    val offs = new Array[Int](n)
    var o = from
    var i = 0
    while (i < n) { offs(i) = o - from; o = Msgpack.skip(b, o); i += 1 }
    new Segment(tag,
      if (from == 0 && o == b.length) b else java.util.Arrays.copyOfRange(b, from, o), offs)
  }

  /** Decodes an entry with [[Msgpack.entry]], the conversion
    * [[Msgpack.forwardEvents]] applies, so rows match it exactly.
    */
  private[sources] object Rows extends EntryDecoder[String] {
    override def row(tag: String, b: Array[Byte], from: Int, until: Int): InternalRow = {
      val e = Msgpack.entry(tag, Msgpack.decode(b, from)._1)
      val keys = e.record.keys.toArray[Any].map(k => UTF8String.fromString(k.toString))
      val vals = e.record.values.toArray[Any].map(x => UTF8String.fromString(x.toString))
      InternalRow(
        UTF8String.fromString(e.tag),
        e.sec * 1000000L + e.nsec / 1000L,
        new ArrayBasedMapData(
          new GenericArrayData(keys.asInstanceOf[Array[Any]]),
          new GenericArrayData(vals.asInstanceOf[Array[Any]])))
    }
  }
}
