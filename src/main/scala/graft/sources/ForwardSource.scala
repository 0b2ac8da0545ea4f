package graft.sources

import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
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
  * decoded events: each accepted frame becomes one segment (its tag and
  * its `[time, record]` entries as msgpack), a batch is cut at entry
  * boundaries into at most `defaultParallelism` byte slabs of about
  * equal size, and the entries are decoded in the executor tasks.
  * Offsets count records. A frame still incomplete after
  * [[Msgpack.MaxPackedBytes]] closes its connection. When the sender
  * requests acknowledgement (the `chunk` option), the server replies
  * `{"ack": id}` once the frame's records are buffered and counted in
  * `latestOffset`, so at-least-once senders (Require_ack_response) do
  * not retransmit; without the option the edge contract is the usual
  * at-most-once push.
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
    new ForwardTable(host, port, sharedKey, selfHostname, users, tls)
  }
}

object ForwardServerSource {
  val Schema: StructType = StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("record", MapType(StringType, StringType), nullable = false)))
}

private[sources] class ForwardTable(host: String, port: Int,
                                    sharedKey: Option[String],
                                    selfHostname: String,
                                    users: Map[String, String],
                                    tls: Option[Tls.Server] = None)
    extends Table with SupportsRead {
  override def name(): String = s"forward://$host:$port"
  override def schema(): StructType = ForwardServerSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ForwardServerSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new ForwardMicroBatchStream(host, port, sharedKey, selfHostname,
            users, tls)
      }
    }
}

private[sources] class ForwardMicroBatchStream(host: String, port: Int,
    sharedKey: Option[String] = None, selfHostname: String = "graft",
    users: Map[String, String] = Map.empty,
    tls: Option[Tls.Server] = None)
    extends MicroBatchStream {

  /** Accepted frames not yet committed, oldest first; `base` is the
    * offset of the first one's first record and `total` the offset after
    * the last one's last record. Guarded by `segments`' lock.
    */
  private val segments = new scala.collection.mutable.ArrayDeque[ForwardSegment]
  private var base = 0L
  private var total = 0L
  @volatile private var stopped = false
  // `tls on` terminates TLS at accept; a failed handshake drops only
  // that connection (the reference's tls layer behaves the same)
  private val server = tls.map(Tls.serverSocket).getOrElse(new ServerSocket())
  server.bind(new InetSocketAddress(host, port))

  private val acceptThread = new Thread(() => {
    while (!stopped) {
      try {
        val sock = server.accept()
        val t = new Thread(() => handle(sock), "graft-forward-conn")
        t.setDaemon(true)
        t.start()
      } catch {
        case _: Throwable if stopped =>
        case e: Throwable => if (!stopped) e.printStackTrace()
      }
    }
  }, s"graft-forward-accept-$port")
  acceptThread.setDaemon(true)
  acceptThread.start()

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
  private def handle(sock: Socket): Unit = {
    val in = sock.getInputStream
    val outStream = sock.getOutputStream
    // shared-key auth first when configured (fw_prot.c handshake);
    // an unauthenticated peer is notified via PONG(false) and dropped
    sharedKey.foreach { key =>
      val ok =
        try SecureForward.serverHandshake(in, outStream, key, selfHostname,
          users)
        catch { case _: Throwable => false }
      if (!ok) { sock.close(); return }
    }
    val ReadSize = 64 * 1024
    var rb = new Array[Byte](ReadSize)
    var len = 0
    var start = 0 // first byte of the frame being received
    val w = new Msgpack.Walk(0)
    try {
      var n = in.read(rb, 0, ReadSize)
      while (n >= 0 && !stopped) {
        len += n
        while (Msgpack.walk(rb, len, w)) {
          accept(rb, start, outStream)
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
    } catch { case _: Throwable => /* peer went away / malformed frame */ }
    finally sock.close()
  }

  /** Validate the complete frame at `b(from)`, buffer its entries as one
    * segment and acknowledge it when asked to.
    */
  private def accept(b: Array[Byte], from: Int, out: java.io.OutputStream): Unit = {
    val (v, _) = Msgpack.decode(b, from)
    val n = Msgpack.forwardEvents(v).size // throws on a malformed frame
    if (n > 0) {
      val seg = ForwardSegment(b, from, v, n)
      segments.synchronized { segments += seg; total += n }
    }
    Msgpack.forwardChunkId(v).foreach { id =>
      out.write(Msgpack.encodeAck(id)); out.flush()
    }
  }

  override def initialOffset(): Offset = TcpOffset(0)
  override def latestOffset(): Offset = TcpOffset(segments.synchronized(total))
  override def deserializeOffset(json: String): Offset = TcpOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TcpOffset].n
    val e = end.asInstanceOf[TcpOffset].n
    val ranges = Seq.newBuilder[(ForwardSegment, Int, Int)]
    segments.synchronized {
      var at = base
      segments.foreach { seg =>
        val i = (s - at).max(0L).min(seg.count.toLong).toInt
        val j = (e - at).max(0L).min(seg.count.toLong).toInt
        if (i < j) ranges += ((seg, i, j))
        at += seg.count
      }
    }
    ForwardSlab.cut(ranges.result(),
      SparkSession.active.sparkContext.defaultParallelism).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = ForwardReaderFactory

  override def commit(end: Offset): Unit = segments.synchronized {
    val e = end.asInstanceOf[TcpOffset].n
    while (segments.nonEmpty && base + segments.head.count <= e)
      base += segments.removeHead().count
  }

  override def stop(): Unit = {
    stopped = true
    try server.close() catch { case _: Throwable => }
  }
}

/** One accepted frame's records, still in wire form: `bytes` holds its
  * `[time, record]` entries back to back, `offs(i)` is where entry i
  * starts — the shape of a fluent-bit input chunk.
  */
private[sources] final class ForwardSegment(val tag: String, val bytes: Array[Byte],
                                            val offs: Array[Int]) {
  def count: Int = offs.length
  def pos(i: Int): Int = if (i == count) bytes.length else offs(i)
  /** Entries `[i, j)` as one piece of a partition. */
  def piece(i: Int, j: Int): ForwardPiece = ForwardPiece(tag,
    if (i == 0 && j == count) bytes else java.util.Arrays.copyOfRange(bytes, pos(i), pos(j)))
}

private[sources] object ForwardSegment {
  /** The `n` entries of the validated frame `v` decoded from `b(from)`:
    * Forward mode's entries array in place, PackedForward's decompressed
    * payload (already an entry stream), and Message mode's time and
    * record behind a fixarray(2) header.
    */
  def apply(b: Array[Byte], from: Int, v: Msgpack.V, n: Int): ForwardSegment = {
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
      // forwardEvents keeps no copy of the payload it validated: unpack again
      case Msgpack.MBin(packed) => entries(tag, Msgpack.unpack(packed), 0, n)
      case _ =>
        val end = Msgpack.skip(b, Msgpack.skip(b, p))
        val e = new Array[Byte](1 + end - p)
        e(0) = 0x92.toByte
        System.arraycopy(b, p, e, 1, end - p)
        new ForwardSegment(tag, e, Array(0))
    }
  }

  /** The `n` consecutive entries at `b(from)`, copied out unless they are all of `b`. */
  private def entries(tag: String, b: Array[Byte], from: Int, n: Int): ForwardSegment = {
    val offs = new Array[Int](n)
    var o = from
    var i = 0
    while (i < n) { offs(i) = o - from; o = Msgpack.skip(b, o); i += 1 }
    new ForwardSegment(tag,
      if (from == 0 && o == b.length) b else java.util.Arrays.copyOfRange(b, from, o), offs)
  }
}

/** Entries of one tag in wire form. */
private[sources] final case class ForwardPiece(tag: String, bytes: Array[Byte])

/** A byte slab of a batch: its Java serialization is a byte copy. */
private[sources] final case class ForwardSlab(pieces: Array[ForwardPiece]) extends InputPartition

private[sources] object ForwardSlab {
  /** Cut entry ranges `(segment, first, end)` into at most `parts` slabs
    * of about equal bytes, at entry boundaries: slab k ends at the first
    * boundary at or past k/parts of the bytes. Consecutive small frames
    * share a slab.
    */
  def cut(ranges: Seq[(ForwardSegment, Int, Int)], parts: Int): Seq[ForwardSlab] = {
    val bytes = ranges.map { case (g, i, j) => (g.pos(j) - g.pos(i)).toLong }.sum
    def target(k: Int): Long = if (k < parts) bytes * k / parts else Long.MaxValue
    val out = Seq.newBuilder[ForwardSlab]
    val cur = scala.collection.mutable.ArrayBuffer[ForwardPiece]()
    var k = 1
    var done = 0L // bytes in the ranges before this one
    ranges.foreach { case (g, i0, j0) =>
      val origin = done - g.pos(i0) // global position of byte 0 of `g`
      var i = i0
      while (i < j0) {
        val local = target(k) - origin
        val j =
          if (local >= g.pos(j0)) j0
          else {
            val r = java.util.Arrays.binarySearch(g.offs, i + 1, j0, local.max(0L).toInt)
            if (r >= 0) r else -r - 1
          }
        cur += g.piece(i, j)
        val at = origin + g.pos(j)
        if (at >= target(k)) {
          out += ForwardSlab(cur.toArray)
          cur.clear()
          while (target(k) <= at) k += 1
        }
        i = j
      }
      done += g.pos(j0) - g.pos(i0)
    }
    if (cur.nonEmpty) out += ForwardSlab(cur.toArray)
    out.result()
  }
}

/** Decodes each entry of a slab with [[Msgpack.entry]], the conversion
  * [[Msgpack.forwardEvents]] applies, so rows match it exactly.
  */
private[sources] object ForwardReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val pieces = partition.asInstanceOf[ForwardSlab].pieces
    new PartitionReader[InternalRow] {
      private var p = 0
      private var off = 0
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (p < pieces.length && off >= pieces(p).bytes.length) { p += 1; off = 0 }
        p < pieces.length && {
          val piece = pieces(p)
          val (v, next) = Msgpack.decode(piece.bytes, off)
          off = next
          val e = Msgpack.entry(piece.tag, v)
          val keys = e.record.keys.toArray[Any].map(k => UTF8String.fromString(k.toString))
          val vals = e.record.values.toArray[Any].map(x => UTF8String.fromString(x.toString))
          row = InternalRow(
            UTF8String.fromString(e.tag),
            e.sec * 1000000L + e.nsec / 1000L,
            new ArrayBasedMapData(
              new GenericArrayData(keys.asInstanceOf[Array[Any]]),
              new GenericArrayData(vals.asInstanceOf[Array[Any]])))
          true
        }
      }
      override def get(): InternalRow = row
      override def close(): Unit = {}
    }
  }
}
