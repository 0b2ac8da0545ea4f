package graft

import graft.sources.Msgpack
import graft.sources.Msgpack._

/** Forward-protocol frames covering every mode the source accepts
  * (Message, Forward, gzip and zstd PackedForward), every event-time form
  * (int widths, float32/64, EventTime fixext8 and ext8) and the record
  * shapes whose conversion is easy to get subtly wrong: nested values,
  * non-map records, duplicate keys, maps wider than four entries (whose
  * Scala `Map` iteration order is hash order) and a ≥64 KiB string.
  */
object ForwardCorpus {

  private def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def be(v: Long, n: Int): Array[Byte] =
    (n - 1 to 0 by -1).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
  private def enc(v: V): Array[Byte] = Msgpack.encode(v)
  private def arr(items: Array[Byte]*): Array[Byte] = {
    val n = items.length
    (if (n < 16) bs(0x90 | n) else bs(0xdc) ++ be(n, 2)) ++ items.flatten
  }
  private def bin(b: Array[Byte]): Array[Byte] =
    if (b.length < 256) bs(0xc4, b.length) ++ b
    else if (b.length < 65536) bs(0xc5) ++ be(b.length, 2) ++ b
    else bs(0xc6) ++ be(b.length, 4) ++ b
  private def str(s: String): MStr = MStr(s)
  private def map(es: (V, V)*): V = MMap(es.toVector)

  // event times
  private def uint32(sec: Long) = bs(0xce) ++ be(sec, 4)
  private def int64(sec: Long) = bs(0xd3) ++ be(sec, 8)
  private def float32(sec: Float) = bs(0xca) ++ be(java.lang.Float.floatToIntBits(sec).toLong, 4)
  private def float64(sec: Double) = enc(MFloat(sec))
  private def fixext8(sec: Long, ns: Long) = bs(0xd7, 0x00) ++ be(sec, 4) ++ be(ns, 4)
  private def ext8(sec: Long, ns: Long) = bs(0xc7, 8, 0x00) ++ be(sec, 4) ++ be(ns, 4)

  /** A 70 000-byte log line: the str32 tier, past any 64 KiB read. */
  val big: String = Iterator.iterate(1)(i => i * 31 % 997).take(70000)
    .map(i => ('a' + i % 26).toChar).mkString

  val nested: V = map(
    str("a") -> MArr(Vector(MInt(1), str("x"), MNil, MBool(true))),
    str("m") -> map(str("k") -> MFloat(1.5), MInt(2) -> str("two"),
      str("q\"") -> str("back\\slash")),
    str("b") -> MBin(Array[Byte](1, 2, 3)),
    str("e") -> MExt(5, Array[Byte](1, 2)),
    MInt(-3) -> MFloat(-0.25))
  val dup: V = map(str("k") -> str("1"), str("j") -> str("x"), str("k") -> str("2"))
  val wide: V = MMap((1 to 7).map(i => (str(s"f$i"): V) -> (MInt(i * 11L): V)).toVector :+
    ((str("f3"): V) -> (str("last"): V)))
  val plain: V = map(str("log") -> str("hello"), str("level") -> str("info"))

  private def entry(t: Array[Byte], rec: V) = arr(t, enc(rec))
  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bo = new java.io.ByteArrayOutputStream()
    val g = new java.util.zip.GZIPOutputStream(bo)
    g.write(b); g.close(); bo.toByteArray
  }

  private val packedEntries: Array[Byte] =
    entry(uint32(1704067300L), plain) ++ entry(fixext8(1704067301L, 7), dup) ++
      entry(float64(1704067302.125), wide) ++ entry(bs(0x05), str("packed bare"))

  /** (name, frame bytes) in send order. */
  val frames: Seq[(String, Array[Byte])] = Seq(
    "message" -> arr(enc(str("app.msg")), uint32(1704067200L), enc(plain)),
    "message_opt" -> arr(enc(str("app.msg")), float64(1704067200.25),
      enc(str("bare line")), enc(map(str("chunk") -> str("m1")))),
    "forward" -> arr(enc(str("app.fwd")), arr(
      entry(fixext8(1704067201L, 123456789L), nested),
      entry(int64(1704067202L), dup),
      entry(float32(1704067203.5f), wide),
      entry(bs(0x07), MArr(Vector(MInt(1), MInt(2))))),
      enc(map(str("chunk") -> str("f1")))),
    "forward_big" -> arr(enc(str("app.big")),
      arr(entry(ext8(1704067204L, 5), map(str("log") -> str(big))))),
    "forward_many" -> arr(enc(str("app.many")),
      arr((0 until 20).map(i => entry(bs(0xcd) ++ be(1000L + i, 2),
        map(str("i") -> MInt(i.toLong)))): _*)),
    "packed_gzip" -> arr(enc(str("app.gz")), bin(gzip(packedEntries)),
      enc(map(str("compressed") -> str("gzip"), str("chunk") -> str("g1")))),
    "packed_zstd" -> arr(enc(str("app.zst")),
      bin(com.github.luben.zstd.Zstd.compress(packedEntries, 3)),
      enc(map(str("compressed") -> str("zstd")))))

  /** A row as the source emits it: tag, ts in µs, record entries in order. */
  type Row = (String, Long, Seq[(String, String)])

  /** The conversion the source applies to one frame's events. */
  def rowsOf(frame: Array[Byte]): Seq[Row] =
    forwardEvents(decode(frame, 0)._1).map { e =>
      (e.tag, e.sec * 1000000L + e.nsec / 1000L, e.record.toSeq)
    }
}
