package graft.sources

/** Minimal msgpack decoder — just the subset the fluentd Forward
  * protocol puts on the wire (reference `plugins/in_forward`; spec:
  * github.com/msgpack/msgpack, fluent forward protocol v1): nil, bool,
  * all int widths, float32/64, str/bin, array, map, and the EventTime
  * ext type (fixext8/ext8 type 0 = 4-byte seconds + 4-byte nanos).
  * Hand-rolled because the sandbox ships no msgpack library; ~the same
  * scope as the reference's own decoder usage.
  */
object Msgpack {

  sealed trait V
  case object MNil extends V
  final case class MBool(b: Boolean) extends V
  final case class MInt(v: Long) extends V
  final case class MFloat(v: Double) extends V
  /** `raw` (set only by the decoder; excluded from equality/matching)
    * preserves the wire bytes when they may not be valid UTF-8: the C
    * reference packs raw random nonce/salt bytes as msgpack str
    * (fw_prot.c:205-208,287-293), and a lossy String re-encode would
    * feed corrupted bytes into the handshake digests. `bytes` returns
    * the original wire slice when present.
    */
  final case class MStr(s: String) extends V {
    private[sources] var raw: Array[Byte] = null
    def bytes: Array[Byte] =
      if (raw != null) raw else s.getBytes("UTF-8")
  }
  final case class MBin(b: Array[Byte]) extends V
  final case class MArr(items: Vector[V]) extends V
  final case class MMap(entries: Vector[(V, V)]) extends V
  final case class MExt(typ: Byte, data: Array[Byte]) extends V

  /** Raised when the buffer ends mid-object — the streaming reader
    * waits for more bytes and retries.
    */
  final class Incomplete extends Exception

  private def need(b: Array[Byte], off: Int, n: Long): Unit =
    if (off + n > b.length) throw new Incomplete

  /** Reject negative / overflowed 32-bit lengths as PROTOCOL errors —
    * a silently-empty container would desync the rest of the stream.
    */
  private def len(n: Int): Int =
    if (n < 0) throw new IllegalArgumentException(s"negative msgpack length $n")
    else n

  private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  private def u16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)
  private def u32(b: Array[Byte], i: Int): Long =
    (u16(b, i).toLong << 16) | u16(b, i + 2)
  private def i64(b: Array[Byte], i: Int): Long =
    (u32(b, i) << 32) | u32(b, i + 4)

  private def str(b: Array[Byte], off: Int, n: Int): (V, Int) = {
    need(b, off, n)
    val v = MStr(new String(b, off, n, "UTF-8"))
    v.raw = java.util.Arrays.copyOfRange(b, off, off + n)
    (v, off + n)
  }
  private def bin(b: Array[Byte], off: Int, n: Int): (V, Int) = {
    need(b, off, n)
    (MBin(java.util.Arrays.copyOfRange(b, off, off + n)), off + n)
  }
  private def arr(b: Array[Byte], off: Int, n: Int): (V, Int) = {
    var o = off
    val items = Vector.newBuilder[V]
    var i = 0
    while (i < n) { val (v, o2) = decode(b, o); items += v; o = o2; i += 1 }
    (MArr(items.result()), o)
  }
  private def mp(b: Array[Byte], off: Int, n: Int): (V, Int) = {
    var o = off
    val entries = Vector.newBuilder[(V, V)]
    var i = 0
    while (i < n) {
      val (k, o2) = decode(b, o); val (v, o3) = decode(b, o2)
      entries += ((k, v)); o = o3; i += 1
    }
    (MMap(entries.result()), o)
  }
  private def ext(b: Array[Byte], off: Int, n: Int): (V, Int) = {
    need(b, off, 1L + n)
    (MExt(b(off), java.util.Arrays.copyOfRange(b, off + 1, off + 1 + n)), off + 1 + n)
  }

  /** Decode one object at `off`; returns (value, next offset). Throws
    * [[Incomplete]] when the buffer ends inside the object.
    */
  def decode(b: Array[Byte], off: Int): (V, Int) = {
    need(b, off, 1)
    val t = u8(b, off)
    val o = off + 1
    t match {
      case x if x <= 0x7f => (MInt(x.toLong), o)
      case x if x >= 0xe0 => (MInt(x.toByte.toLong), o)
      case x if (x & 0xf0) == 0x80 => mp(b, o, x & 0x0f)
      case x if (x & 0xf0) == 0x90 => arr(b, o, x & 0x0f)
      case x if (x & 0xe0) == 0xa0 => str(b, o, x & 0x1f)
      case 0xc0 => (MNil, o)
      case 0xc2 => (MBool(false), o)
      case 0xc3 => (MBool(true), o)
      case 0xc4 => need(b, o, 1); bin(b, o + 1, u8(b, o))
      case 0xc5 => need(b, o, 2); bin(b, o + 2, u16(b, o))
      case 0xc6 => need(b, o, 4); bin(b, o + 4, len(u32(b, o).toInt))
      case 0xc7 => need(b, o, 1); ext(b, o + 1, u8(b, o))
      case 0xc8 => need(b, o, 2); ext(b, o + 2, u16(b, o))
      case 0xc9 => need(b, o, 4); ext(b, o + 4, len(u32(b, o).toInt))
      case 0xca => need(b, o, 4)
        (MFloat(java.lang.Float.intBitsToFloat(u32(b, o).toInt).toDouble), o + 4)
      case 0xcb => need(b, o, 8)
        (MFloat(java.lang.Double.longBitsToDouble(i64(b, o))), o + 8)
      case 0xcc => need(b, o, 1); (MInt(u8(b, o).toLong), o + 1)
      case 0xcd => need(b, o, 2); (MInt(u16(b, o).toLong), o + 2)
      case 0xce => need(b, o, 4); (MInt(u32(b, o)), o + 4)
      case 0xcf => need(b, o, 8); (MInt(i64(b, o)), o + 8) // uint64 as signed
      case 0xd0 => need(b, o, 1); (MInt(b(o).toLong), o + 1)
      case 0xd1 => need(b, o, 2); (MInt(u16(b, o).toShort.toLong), o + 2)
      case 0xd2 => need(b, o, 4); (MInt(u32(b, o).toInt.toLong), o + 4)
      case 0xd3 => need(b, o, 8); (MInt(i64(b, o)), o + 8)
      case 0xd4 => ext(b, o, 1)
      case 0xd5 => ext(b, o, 2)
      case 0xd6 => ext(b, o, 4)
      case 0xd7 => ext(b, o, 8)
      case 0xd8 => ext(b, o, 16)
      case 0xd9 => need(b, o, 1); str(b, o + 1, u8(b, o))
      case 0xda => need(b, o, 2); str(b, o + 2, u16(b, o))
      case 0xdb => need(b, o, 4); str(b, o + 4, len(u32(b, o).toInt))
      case 0xdc => need(b, o, 2); arr(b, o + 2, u16(b, o))
      case 0xdd => need(b, o, 4); arr(b, o + 4, len(u32(b, o).toInt))
      case 0xde => need(b, o, 2); mp(b, o + 2, u16(b, o))
      case 0xdf => need(b, o, 4); mp(b, o + 4, len(u32(b, o).toInt))
      case other => throw new IllegalArgumentException(
        f"unsupported msgpack type 0x$other%02x at $off")
    }
  }

  /** Resumable state of a [[walk]]: the offset of the next header and
    * how many objects are still to be walked past.
    */
  final class Walk(var pos: Int) { var left: Long = 1L }

  /** Advance `w` over `b[w.pos, end)` one header at a time, decoding
    * nothing: a container adds its children to `w.left`, a str, bin, ext
    * or number jumps over its payload. Returns true once the object is
    * complete (`w.pos` is then its end). Returns false when `end` cuts it
    * short, leaving `w` at the first header not yet whole, so the next
    * call resumes there and each byte is scanned once. Rejects exactly
    * what [[decode]] rejects, in the same order. No recursion and no
    * allocation.
    */
  def walk(b: Array[Byte], end: Int, w: Walk): Boolean = {
    while (w.left > 0) {
      val p = w.pos
      if (p >= end) return false
      val t = u8(b, p)
      // length bytes after the type byte, then payload bytes and children
      val h = t match {
        case 0xc4 | 0xc7 | 0xd9 => 1
        case 0xc5 | 0xc8 | 0xda | 0xdc | 0xde => 2
        case 0xc6 | 0xc9 | 0xdb | 0xdd | 0xdf => 4
        case _ => 0
      }
      if (p + 1 + h > end) return false
      val n: Long = h match {
        case 0 => 0L
        case 1 => u8(b, p + 1).toLong
        case 2 => u16(b, p + 1).toLong
        case _ => len(u32(b, p + 1).toInt).toLong
      }
      var body = 0L
      var kids = 0L
      t match {
        case x if x <= 0x7f || x >= 0xe0 || x == 0xc0 || x == 0xc2 || x == 0xc3 =>
        case x if (x & 0xf0) == 0x80 => kids = 2L * (x & 0x0f)
        case x if (x & 0xf0) == 0x90 => kids = x & 0x0f
        case x if (x & 0xe0) == 0xa0 => body = x & 0x1f
        case 0xc4 | 0xc5 | 0xc6 | 0xd9 | 0xda | 0xdb => body = n
        case 0xc7 | 0xc8 | 0xc9 => body = 1 + n
        case 0xcc | 0xd0 => body = 1
        case 0xcd | 0xd1 | 0xd4 => body = 2
        case 0xd5 => body = 3
        case 0xca | 0xce | 0xd2 => body = 4
        case 0xd6 => body = 5
        case 0xcb | 0xcf | 0xd3 => body = 8
        case 0xd7 => body = 9
        case 0xd8 => body = 17
        case 0xdc | 0xdd => kids = n
        case 0xde | 0xdf => kids = 2 * n
        case other => throw new IllegalArgumentException(
          f"unsupported msgpack type 0x$other%02x at $p")
      }
      val next = p + 1L + h + body
      if (next > end) return false
      w.pos = next.toInt
      w.left += kids - 1
    }
    true
  }

  /** End offset of the object at `off`, found by [[walk]] without
    * decoding it. Throws [[Incomplete]] and rejects exactly where
    * [[decode]] does.
    */
  def skip(b: Array[Byte], off: Int): Int = {
    val w = new Walk(off)
    if (!walk(b, b.length, w)) throw new Incomplete
    w.pos
  }

  /** Render a value as the string form used for the schemaless body map
    * (nested structures render as compact JSON).
    */
  def render(v: V): String = v match {
    case MNil => "null"
    case MBool(x) => x.toString
    case MInt(x) => x.toString
    case MFloat(x) => if (x == x.floor && !x.isInfinite) x.toLong.toString else x.toString
    case MStr(s) => s
    case MBin(b) => java.util.Base64.getEncoder.encodeToString(b)
    case MArr(items) => items.map(renderJson).mkString("[", ",", "]")
    case MMap(es) => es.map { case (k, vv) =>
      renderJson(MStr(render(k))) + ":" + renderJson(vv) }.mkString("{", ",", "}")
    case MExt(t, d) => s"ext($t,${d.length})"
  }
  private def renderJson(v: V): String = v match {
    case MStr(s) => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case other => render(other)
  }

  /** Event time of a Forward `time` element: plain integer epoch seconds
    * or the EventTime ext (type 0: 4-byte sec, 4-byte nanos).
    */
  def eventTime(v: V): (Long, Long) = v match {
    case MInt(sec) => (sec, 0L)
    case MFloat(sec) => (sec.toLong, ((sec - sec.toLong) * 1e9).toLong)
    case MExt(0, d) if d.length == 8 =>
      ((u32(d, 0)), (u32(d, 4)))
    case other => throw new IllegalArgumentException(s"bad event time $other")
  }

  /** One decoded Forward event. */
  final case class Event(tag: String, sec: Long, nsec: Long,
                         record: Map[String, String])

  /** Decompressed-payload cap for compressed PackedForward chunks — the
    * reference's buffer_max_size guard (in_forward/fw_prot.c:1707): a
    * gzip bomb fails loudly instead of exhausting the receiver.
    */
  val MaxPackedBytes: Int = 32 * 1024 * 1024

  /** Decompressed-size cap for an OTLP/HTTP request body or a Kafka
    * record batch (the reference grows its buffer from the declared size;
    * a bomb stops here instead).
    */
  val MaxInflatedBytes: Int = 256 * 1024 * 1024

  def sniffGzip(d: Array[Byte]): Boolean =
    d.length >= 2 && d(0) == 0x1f.toByte && d(1) == 0x8b.toByte

  /** Bounded gunzip. GZIPInputStream handles the concatenated-member
    * streams fluentd emits when it appends compressed chunks. Every
    * failure is an `IllegalArgumentException("gzip: …")`, as in
    * [[Zstd.decompress]]: a corrupt or cut stream is bad input, not an
    * I/O error.
    */
  def gunzip(data: Array[Byte], limit: Int = MaxPackedBytes): Array[Byte] =
    try {
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(data))
      try readBounded(in, limit, "gzip") finally in.close()
    } catch {
      case e: java.io.IOException => throw new IllegalArgumentException(s"gzip: ${e.getMessage}", e)
    }

  /** Reads a decompressing stream to its end in 64 KiB steps, failing
    * once the output passes `limit` bytes.
    */
  private[sources] def readBounded(in: java.io.InputStream, limit: Int, codec: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    val buf = new Array[Byte](1 << 16)
    var n = in.read(buf)
    while (n >= 0) {
      out.write(buf, 0, n)
      if (out.size > limit) throw new IllegalArgumentException(
        s"$codec: output exceeds the limit of $limit bytes")
      n = in.read(buf)
    }
    out.toByteArray
  }

  /** A possibly compressed payload, decompressed by its magic bytes:
    * zstd, then gzip, else passed through raw. Magic wins over any
    * declared encoding in both directions (fw_prot.c:1729-1739,
    * opentelemetry_prot.c:89-103): a declared codec whose payload
    * carries no magic is never handed to the codec to die inside it.
    */
  def uncompress(data: Array[Byte], limit: Int): Array[Byte] =
    if (Zstd.sniff(data)) Zstd.decompress(data, limit)
    else if (sniffGzip(data)) gunzip(data, limit)
    else data

  /** Parse one top-level Forward entry (fluent forward protocol v1):
    * `[tag, time, record]` (Message mode), `[tag, [[time, record]...]]`
    * (Forward mode), or `[tag, bin]` (PackedForward — the bin payload is
    * a stream of [time, record] entries, gzip-compressed when the option
    * map carries `compressed: "gzip"`). Magic bytes win over the declared
    * option when both are present and disagree (fw_prot.c:1729-1739);
    * other option-map keys are ignored here (ack is handled by the
    * socket layer).
    */
  def forwardEvents(v: V): Seq[Event] = forwardEvents(v, packedPayload(v))

  /** [[forwardEvents]] of `v` whose PackedForward payload is already
    * decompressed to `payload` (by [[packedPayload]]).
    */
  def forwardEvents(v: V, payload: Array[Byte]): Seq[Event] = v match {
    case MArr(MStr(tag) +: rest) => rest match {
      case (entries: MArr) +: _ =>
        entries.items.map(entry(tag, _))
      case MBin(_) +: _ =>
        var o = 0
        val out = Seq.newBuilder[Event]
        while (o < payload.length) {
          val (e, o2) = decode(payload, o)
          out += entry(tag, e)
          o = o2
        }
        out.result()
      case t +: rec +: _ => Seq(event(tag, t, rec))
      case other => throw new IllegalArgumentException(s"bad forward array $other")
    }
    case other => throw new IllegalArgumentException(s"bad forward message $other")
  }

  /** A PackedForward message's payload as its entry stream, decompressed
    * by [[uncompress]] (magic wins over the declared `compressed` option);
    * null for the other modes.
    */
  def packedPayload(v: V): Array[Byte] = v match {
    case MArr(MStr(_) +: MBin(packed) +: _) => uncompress(packed, MaxPackedBytes)
    case _ => null
  }

  /** One `[time, record]` entry of `tag` as an [[Event]]. */
  private[sources] def entry(tag: String, v: V): Event = v match {
    case MArr(Vector(t, rec)) => event(tag, t, rec)
    case other => throw new IllegalArgumentException(s"bad entry $other")
  }

  private def event(tag: String, t: V, rec: V): Event = {
    val (sec, nsec) = eventTime(t)
    val m = rec match {
      case MMap(es) => es.map { case (k, v) => render(k) -> render(v) }.toMap
      case other => Map("message" -> render(other))
    }
    Event(tag, sec, nsec, m)
  }

  // -------------------------------------------------------------- encoder

  /** Encode the Forward-mode frame `[tag, [[EventTime, record]...]]` —
    * the out_forward side (reference `plugins/out_forward`): what this
    * engine writes, a fluentd/fluent-bit in_forward can ingest. Every
    * length tier up to 32 bits is handled (a missing str32 tier would
    * emit a corrupt header for a ≥64 KiB log line and desync the
    * receiver).
    */
  def encodeForward(tag: String, events: Seq[(Long, Long, Map[String, String])]): Array[Byte] =
    encode(MArr(Vector(MStr(tag), MArr(events.iterator.map { case (sec, nsec, record) =>
      val time = java.nio.ByteBuffer.allocate(8).putInt(sec.toInt).putInt(nsec.toInt).array()
      MArr(Vector(MExt(0, time), MMap(record.iterator.map { case (k, v) => (MStr(k), MStr(v)) }.toVector)))
    }.toVector))))

  /** Generic single-object encoder (inverse of [[decode]]) — the
    * secure-Forward handshake frames and the Forward record batches
    * ([[encodeForward]]).
    */
  def encode(v: V): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def wU16(x: Int): Unit = { out.write((x >> 8) & 0xFF); out.write(x & 0xFF) }
    def wU32(x: Long): Unit = {
      out.write(((x >> 24) & 0xFF).toInt); out.write(((x >> 16) & 0xFF).toInt)
      out.write(((x >> 8) & 0xFF).toInt); out.write((x & 0xFF).toInt)
    }
    def go(v: V): Unit = v match {
      case MNil => out.write(0xc0)
      case MBool(b) => out.write(if (b) 0xc3 else 0xc2)
      case MInt(x) =>
        if (x >= 0 && x < 128) out.write(x.toInt)
        else if (x < 0 && x >= -32) out.write(0xe0 | (x.toInt & 0x1f))
        else { out.write(0xd3); wU32(x >>> 32); wU32(x & 0xFFFFFFFFL) }
      case MFloat(d) =>
        out.write(0xcb)
        val bits = java.lang.Double.doubleToLongBits(d)
        wU32(bits >>> 32); wU32(bits & 0xFFFFFFFFL)
      case ms: MStr =>
        val b = ms.bytes // wire bytes when decoded, so re-encode is lossless
        if (b.length < 32) out.write(0xa0 | b.length)
        else if (b.length < 256) { out.write(0xd9); out.write(b.length) }
        else if (b.length < 65536) { out.write(0xda); wU16(b.length) }
        else { out.write(0xdb); wU32(b.length.toLong) }
        out.write(b)
      case MBin(b) =>
        if (b.length < 256) { out.write(0xc4); out.write(b.length) }
        else if (b.length < 65536) { out.write(0xc5); wU16(b.length) }
        else { out.write(0xc6); wU32(b.length.toLong) }
        out.write(b)
      case MArr(items) =>
        if (items.size < 16) out.write(0x90 | items.size)
        else if (items.size < 65536) { out.write(0xdc); wU16(items.size) }
        else { out.write(0xdd); wU32(items.size.toLong) }
        items.foreach(go)
      case MMap(entries) =>
        if (entries.size < 16) out.write(0x80 | entries.size)
        else if (entries.size < 65536) { out.write(0xde); wU16(entries.size) }
        else { out.write(0xdf); wU32(entries.size.toLong) }
        entries.foreach { case (k, v2) => go(k); go(v2) }
      case MExt(t, data) =>
        data.length match {
          case 4 => out.write(0xd6)
          case 8 => out.write(0xd7)
          case 16 => out.write(0xd8)
          case n if n < 256 => out.write(0xc7); out.write(n)
          case n if n < 65536 => out.write(0xc8); wU16(n)
          case n => out.write(0xc9); wU32(n.toLong)
        }
        out.write(t.toInt); out.write(data)
    }
    go(v)
    out.toByteArray
  }

  /** The sender's `chunk` ack request from a Forward entry's trailing
    * option map — when present the server must reply `{"ack": id}`
    * (forward protocol at-least-once handshake).
    */
  def forwardChunkId(v: V): Option[String] = {
    def chunkOf(opt: V): Option[String] = opt match {
      case MMap(es) => es.collectFirst {
        case (MStr("chunk"), MStr(id)) => id
        case (MStr("chunk"), MBin(b)) => new String(b, "UTF-8")
      }
      case _ => None
    }
    v match {
      case MArr(items) if items.size >= 3 => items.last match {
        case m: MMap if (items(1) match { // option map only in 3rd+ slot
          case _: MArr | _: MBin => items.size >= 3 // Forward/Packed: [tag, entries, opt]
          case _ => items.size >= 4                 // Message: [tag, t, rec, opt]
        }) => chunkOf(m)
        case _ => None
      }
      case _ => None
    }
  }

  /** Encode the ack reply `{"ack": id}`. The id is SENDER-controlled,
    * so every string tier is needed (a truncated str8 length for a
    * ≥256-byte id would corrupt the ack and make the sender retransmit
    * forever).
    */
  def encodeAck(chunkId: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x81) // fixmap(1)
    val k = "ack".getBytes("UTF-8")
    out.write(0xa0 | k.length); out.write(k)
    val v = chunkId.getBytes("UTF-8")
    if (v.length < 32) out.write(0xa0 | v.length)
    else if (v.length < 256) { out.write(0xd9); out.write(v.length) }
    else if (v.length < 65536) {
      out.write(0xda); out.write((v.length >> 8) & 0xFF); out.write(v.length & 0xFF)
    } else {
      out.write(0xdb)
      out.write((v.length >> 24) & 0xFF); out.write((v.length >> 16) & 0xFF)
      out.write((v.length >> 8) & 0xFF); out.write(v.length & 0xFF)
    }
    out.write(v)
    out.toByteArray
  }
}
