package graft.sources

import java.io.{ByteArrayOutputStream, Closeable, IOException, InputStream, OutputStream}
import java.net.{InetSocketAddress, ServerSocket}
import java.nio.channels.{Channels, ServerSocketChannel}
import java.nio.charset.StandardCharsets
import java.util
import java.util.Optional

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReportsSourceMetrics}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The push-source core under the six listening sources (Forward, Tcp,
  * Udp, Unix, Http, Mqtt) — the analogue of fluent-bit's one chunk path,
  * `flb_input_chunk_append_raw`, to which every input plugin hands its
  * records after its own framing.
  *
  * A source supplies its protocol handler, which appends [[Segment]]s
  * (a constant head and entries in wire form), and an [[EntryDecoder]]
  * that turns one entry into a row in the executor task. The core owns
  * the rest: the listening loop, the segment buffer, the offsets (record
  * counts), the one broadcast a batch ships as and the slabs that read
  * it, the reader and the scan path. Like fluent-bit's inputs without
  * filesystem storage, delivery is at-most-once and non-replayable — the
  * ingest EDGE; durable large-scale ingestion fronts this with Kafka
  * (SURVEY §2.9).
  */
object PushSource {

  /** The bound on one newline-framed line and one octet-counted frame
    * (RFC 6587 framing in in_syslog): past it the connection closes.
    */
  val MaxLineBytes: Int = 1 << 20

  /** The entry as a string: malformed UTF-8 becomes U+FFFD, as a
    * `java.lang.String` decodes it (`UTF8String.fromBytes` would keep the
    * invalid bytes).
    */
  def text(b: Array[Byte], from: Int, until: Int): UTF8String =
    UTF8String.fromString(new String(b, from, until - from, StandardCharsets.UTF_8))

  /** The entry as one base64 string (`body=raw`). */
  def base64(b: Array[Byte], from: Int, until: Int): UTF8String =
    UTF8String.fromString(util.Base64.getEncoder.encodeToString(util.Arrays.copyOfRange(b, from, until)))

  /** Newline framing with `BufferedReader.readLine`'s terminators: LF,
    * CR or CRLF ends a line (a CRLF may be split across reads), and a
    * last line without one ends at EOF. `lines` gets the complete lines
    * of each read, in order. A line longer than [[MaxLineBytes]] throws
    * once the lines before it have been passed on.
    */
  def newlines(in: InputStream)(lines: Segment.Builder => Unit): Unit = {
    val ReadSize = 64 * 1024
    var rb = new Array[Byte](ReadSize)
    var len = 0
    var start = 0 // first byte of the line being received
    var skipLF = false // the last byte scanned was a CR
    var n = in.read(rb, 0, ReadSize)
    while (n >= 0) {
      val seg = new Segment.Builder
      def tooLong(): Nothing = {
        if (seg.count > 0) lines(seg)
        throw new IllegalArgumentException(s"line longer than $MaxLineBytes bytes")
      }
      var at = len
      len += n
      while (at < len) {
        val c = rb(at)
        if (c == '\n' || c == '\r') {
          if (!(skipLF && c == '\n')) {
            if (at - start > MaxLineBytes) tooLong()
            seg.add(rb, start, at)
          }
          skipLF = c == '\r'
          start = at + 1
        } else skipLF = false
        at += 1
      }
      if (len - start > MaxLineBytes) tooLong()
      if (seg.count > 0) lines(seg)
      if (start == len) {
        // drained: release a buffer a long line grew
        start = 0; len = 0
        if (rb.length > ReadSize) rb = new Array[Byte](ReadSize)
      } else if (rb.length - len < ReadSize) {
        System.arraycopy(rb, start, rb, 0, len - start)
        len -= start; start = 0
        if (rb.length - len < ReadSize) rb = util.Arrays.copyOf(rb, math.max(rb.length * 2, len + ReadSize))
      }
      n = in.read(rb, len, rb.length - len)
    }
    if (start < len) {
      val last = new Segment.Builder
      last.add(rb, start, len)
      lines(last)
    }
  }
}

/** A source's row for one entry, `b(from until until)`, under its
  * segment's head; runs in the executor task.
  */
private[sources] trait EntryDecoder[H] extends Serializable {
  def row(head: H, b: Array[Byte], from: Int, until: Int): InternalRow
}

/** One accepted unit's records, still in wire form — the shape of a
  * fluent-bit input chunk: a head every record shares, `bytes` holding
  * the entries back to back, `offs(i)` where entry i starts.
  */
private[sources] final class Segment[H](val head: H, val bytes: Array[Byte], val offs: Array[Int])
    extends Serializable {
  def count: Int = offs.length
  def pos(i: Int): Int = if (i == count) bytes.length else offs(i)
}

private[sources] object Segment {
  def one[H](head: H, entry: Array[Byte]): Segment[H] = new Segment(head, entry, Array(0))

  /** Entries copied back to back. */
  final class Builder {
    private val bytes = new ByteArrayOutputStream()
    private val offs = Array.newBuilder[Int]
    def count: Int = offs.length
    def add(b: Array[Byte], from: Int, until: Int): Unit = {
      offs += bytes.size
      bytes.write(b, from, until - from)
    }
    /** The non-empty LF-separated lines of `b(from until until)`. */
    def addLines(b: Array[Byte], from: Int, until: Int): Unit = {
      var start = from
      var i = from
      while (i <= until) {
        if (i == until || b(i) == '\n') {
          if (i > start) add(b, start, i)
          start = i + 1
        }
        i += 1
      }
    }
    def result[H](head: H): Segment[H] = new Segment(head, bytes.toByteArray, offs.result())
  }
}

/** A slab of a batch: the handle of the batch's one broadcast of its
  * segments, and the entry ranges `(segment, first, end)` the slab reads,
  * flattened in threes. Its serialized size does not grow with the
  * batch's bytes, which cross to each executor once, with the broadcast.
  */
private[sources] final case class Slab[H](batch: Broadcast[Array[Segment[H]]], ranges: Array[Int])
    extends InputPartition

private[sources] object Slab {
  /** Cut entry ranges `(segment, first, end)`, one per segment, into at
    * most `parts` slabs of about equal bytes, at entry boundaries: slab k
    * ends at the first boundary at or past k/parts of the bytes.
    * Consecutive small segments share a slab. Each slab is its ranges
    * `(index into ranges, first, end)` flattened in threes.
    */
  def cut[H](ranges: Seq[(Segment[H], Int, Int)], parts: Int): Seq[Array[Int]] = {
    val bytes = ranges.map { case (g, i, j) => (g.pos(j) - g.pos(i)).toLong }.sum
    def target(k: Int): Long = if (k < parts) bytes * k / parts else Long.MaxValue
    val out = Seq.newBuilder[Array[Int]]
    val cur = scala.collection.mutable.ArrayBuffer[Int]()
    var k = 1
    var done = 0L // bytes in the ranges before this one
    ranges.iterator.zipWithIndex.foreach { case ((g, i0, j0), s) =>
      val origin = done - g.pos(i0) // global position of byte 0 of `g`
      var i = i0
      while (i < j0) {
        val local = target(k) - origin
        val j =
          if (local >= g.pos(j0)) j0
          else {
            val r = util.Arrays.binarySearch(g.offs, i + 1, j0, local.max(0L).toInt)
            if (r >= 0) r else -r - 1
          }
        cur.addOne(s).addOne(i).addOne(j)
        val at = origin + g.pos(j)
        if (at >= target(k)) {
          out += cur.toArray
          cur.clear()
          while (target(k) <= at) k += 1
        }
        i = j
      }
      done += g.pos(j0) - g.pos(i0)
    }
    if (cur.nonEmpty) out += cur.toArray
    out.result()
  }
}

/** Offsets count records. */
private[sources] final case class PushOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** Runs the source's decoder over every entry of a slab. */
private[sources] final case class PushReaderFactory[H](decoder: EntryDecoder[H])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val slab = partition.asInstanceOf[Slab[H]]
    val segs = slab.batch.value
    val r = slab.ranges
    new PartitionReader[InternalRow] {
      private var k = -3 // the range being read starts at r(k)
      private var i = 0 // its next entry
      private var end = 0
      private var row: InternalRow = _
      override def next(): Boolean = {
        while (i >= end && k + 3 < r.length) { k += 3; i = r(k + 1); end = r(k + 2) }
        i < end && {
          val g = segs(r(k))
          row = decoder.row(g.head, g.bytes, g.offs(i), g.pos(i + 1))
          i += 1
          true
        }
      }
      override def get(): InternalRow = row
      override def close(): Unit = {}
    }
  }
}

/** The table of a listening source: its stream starts `listen` when a
  * query starts it.
  */
private[sources] final class PushTable[H](tableName: String, tableSchema: StructType,
                                          decoder: EntryDecoder[H])(listen: PushStream[H] => Unit)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new PushStream(decoder, listen)
      }
    }
}

/** The micro-batch stream every listening source runs on. `listen`
  * binds the source's socket and starts its loop; [[append]] is how its
  * protocol handler hands over records. Segments are buffered until a
  * commit drops them whole. A batch ships `[start, end)` once, as one
  * broadcast of its segments read by at most `defaultParallelism` slabs;
  * the commit that passes `end` destroys it. Connections that end on a
  * protocol error are counted and reported as the source metric
  * `refusedConnections`.
  */
private[sources] final class PushStream[H](decoder: EntryDecoder[H], listen: PushStream[H] => Unit)
    extends MicroBatchStream with ReportsSourceMetrics {

  /** Segments not yet committed, oldest first; `base` is the offset of
    * the first one's first record and `total` the offset after the last
    * one's last record. Guarded by `segments`' lock.
    */
  private val segments = new scala.collection.mutable.ArrayDeque[Segment[H]]
  private var base = 0L
  private var total = 0L
  @volatile private var stopped = false
  /** The slabs planned for each uncommitted range, by `(start, end)`:
    * Spark plans a batch several times (each copy of its scan node asks
    * again), and each range is cut and broadcast once. Guarded by its own
    * lock.
    */
  private val planned = scala.collection.mutable.Map[(Long, Long), Array[InputPartition]]()
  private val refused = new java.util.concurrent.atomic.AtomicLong
  /** The listening socket and open connections, closed by [[stop]]. */
  private val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Closeable]()

  try listen(this) catch { case e: Throwable => stop(); throw e }

  /** Buffer `seg`; once this returns, `latestOffset` counts its records. */
  def append(seg: Segment[H]): Unit =
    if (seg.count > 0) segments.synchronized { segments += seg; total += seg.count }

  def closeOnStop[C <: Closeable](c: C): C = {
    open.add(c)
    if (stopped) c.close()
    c
  }

  /** A TCP server socket on `host:port`, terminating TLS at accept with
    * `tls` (a failed handshake drops only that connection, like the
    * reference's tls layer).
    */
  def listenTcp(host: String, port: Int, tls: Option[Tls.Server] = None): ServerSocket = {
    val server = closeOnStop(tls.map(Tls.serverSocket).getOrElse(new ServerSocket()))
    server.bind(new InetSocketAddress(host, port))
    server
  }

  /** Accept connections on `server` (a TCP or TLS `ServerSocket`, or a
    * unix `ServerSocketChannel`), each handled on its own thread. The
    * connection closes when `handle` returns or throws: a peer that went
    * away or broke the protocol ends only its own connection. A throw
    * other than an I/O error (the peer gone, the stream stopped) is a
    * protocol error and counts as a refused connection.
    */
  def serve(server: Closeable, name: String)(handle: (InputStream, OutputStream) => Unit): Unit =
    loop(s"graft-$name-accept") {
      val (conn, in, out) = server match {
        case s: ServerSocket =>
          val c = s.accept(); (c, c.getInputStream, c.getOutputStream)
        case s: ServerSocketChannel =>
          val c = s.accept(); (c, Channels.newInputStream(c), Channels.newOutputStream(c))
      }
      closeOnStop(conn)
      daemon(s"graft-$name-conn") {
        try handle(in, out)
        catch {
          case _: IOException =>
          case _: Throwable => refused.incrementAndGet()
        }
        finally { open.remove(conn); conn.close() }
      }
    }

  /** Run `step` over and over on its own thread until the stream stops.
    * A failure after the stop is its socket closing; any other is
    * printed and the loop goes on.
    */
  def loop(name: String)(step: => Unit): Unit = daemon(name) {
    while (!stopped)
      try step catch { case e: Throwable => if (!stopped) e.printStackTrace() }
  }

  private def daemon(name: String)(body: => Unit): Unit = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
  }

  override def initialOffset(): Offset = PushOffset(0)
  override def latestOffset(): Offset = PushOffset(segments.synchronized(total))
  override def deserializeOffset(json: String): Offset = PushOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[PushOffset].n
    val e = end.asInstanceOf[PushOffset].n
    planned.synchronized(planned.getOrElseUpdate((s, e), plan(s, e)))
  }

  /** Slabs of the entries in `[s, e)` over one broadcast of the segments
    * they lie in; none for an empty range.
    */
  private def plan(s: Long, e: Long): Array[InputPartition] = {
    val ranges = Seq.newBuilder[(Segment[H], Int, Int)]
    segments.synchronized {
      var at = base
      segments.foreach { seg =>
        val i = (s - at).max(0L).min(seg.count.toLong).toInt
        val j = (e - at).max(0L).min(seg.count.toLong).toInt
        if (i < j) ranges += ((seg, i, j))
        at += seg.count
      }
    }
    val rs = ranges.result()
    if (rs.isEmpty) Array.empty
    else {
      val sc = SparkSession.active.sparkContext
      val batch = sc.broadcast(rs.map(_._1).toArray)
      Slab.cut(rs, sc.defaultParallelism).map(Slab(batch, _): InputPartition).toArray
    }
  }

  /** Destroy the broadcasts of the planned ranges that `keep` rejects. */
  private def release(keep: ((Long, Long)) => Boolean): Unit = planned.synchronized {
    planned.filterInPlace { case (range, parts) =>
      keep(range) || { parts.headOption.foreach(_.asInstanceOf[Slab[H]].batch.destroy()); false }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = PushReaderFactory(decoder)

  override def commit(end: Offset): Unit = {
    val e = end.asInstanceOf[PushOffset].n
    release(_._2 > e)
    segments.synchronized {
      while (segments.nonEmpty && base + segments.head.count <= e)
        base += segments.removeHead().count
    }
  }

  override def metrics(latestConsumedOffset: Optional[Offset]): util.Map[String, String] =
    util.Map.of("refusedConnections", refused.get.toString)

  override def stop(): Unit = {
    stopped = true
    open.forEach(c => try c.close() catch { case _: Throwable => })
    release(_ => false)
  }
}
