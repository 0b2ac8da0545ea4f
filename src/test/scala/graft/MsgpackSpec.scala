package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Msgpack
import graft.sources.Msgpack._

/** Msgpack decoder + Forward-protocol event parsing, against hand-built
  * wire bytes (fluent forward protocol v1 shapes the reference's
  * in_forward accepts).
  */
class MsgpackSpec extends AnyFunSuite {

  // ------------------------------------------------- tiny test encoder
  private def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
  private def fixstr(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8"); require(b.length < 32); bs(0xa0 | b.length) ++ b
  }
  private def str8(s: String): Array[Byte] = {
    val b = s.getBytes("UTF-8"); bs(0xd9, b.length) ++ b
  }
  private def fixarr(items: Array[Byte]*): Array[Byte] =
    bs(0x90 | items.length) ++ items.flatten
  private def fixmap(entries: (Array[Byte], Array[Byte])*): Array[Byte] =
    bs(0x80 | entries.length) ++ entries.flatMap { case (k, v) => k ++ v }
  private def u32(v: Long): Array[Byte] =
    bs(((v >> 24) & 0xFF).toInt, ((v >> 16) & 0xFF).toInt,
      ((v >> 8) & 0xFF).toInt, (v & 0xFF).toInt)
  private def eventTime(sec: Long, ns: Long): Array[Byte] =
    bs(0xd7, 0x00) ++ u32(sec) ++ u32(ns)
  private def bin8(b: Array[Byte]): Array[Byte] = bs(0xc4, b.length) ++ b

  test("scalar forms: fixint, negative, uint16, float64, str8, bool, nil") {
    assert(decode(bs(0x07), 0)._1 == MInt(7))
    assert(decode(bs(0xff), 0)._1 == MInt(-1))
    assert(decode(bs(0xcd, 0x01, 0x00), 0)._1 == MInt(256))
    assert(decode(bs(0xd0, 0x80), 0)._1 == MInt(-128))
    val pi = java.lang.Double.doubleToLongBits(3.25)
    val piB = (7 to 0 by -1).map(i => ((pi >> (8 * i)) & 0xFF).toInt)
    assert(decode(bs(0xcb +: piB: _*), 0)._1 == MFloat(3.25))
    assert(decode(str8("hello"), 0)._1 == MStr("hello"))
    assert(decode(bs(0xc3), 0)._1 == MBool(true))
    assert(decode(bs(0xc0), 0)._1 == MNil)
  }

  test("containers and event-time ext decode; truncation raises Incomplete") {
    val m = fixmap(fixstr("k") -> fixstr("v"), fixstr("n") -> bs(0x2a))
    assert(decode(m, 0)._1 ==
      MMap(Vector(MStr("k") -> MStr("v"), MStr("n") -> MInt(42))))
    val (et, _) = decode(eventTime(1704067200L, 500), 0)
    assert(Msgpack.eventTime(et) == (1704067200L, 500L))
    intercept[Msgpack.Incomplete] { decode(m.dropRight(1), 0) }
    intercept[Msgpack.Incomplete] { decode(fixstr("hello").dropRight(2), 0) }
  }

  test("forward modes: Message, Forward, PackedForward") {
    val rec = fixmap(fixstr("log") -> fixstr("boom"))
    // Message mode: [tag, time, record]
    val msg = fixarr(fixstr("app.x"), bs(0x05), rec)
    assert(forwardEvents(decode(msg, 0)._1) ==
      Seq(Event("app.x", 5L, 0L, Map("log" -> "boom"))))
    // Forward mode: [tag, [[time, record], [time, record]]]
    val fwd = fixarr(fixstr("app.y"),
      fixarr(fixarr(bs(0x01), rec), fixarr(eventTime(2, 9), rec)))
    val evs = forwardEvents(decode(fwd, 0)._1)
    assert(evs.map(e => (e.tag, e.sec, e.nsec)) ==
      Seq(("app.y", 1L, 0L), ("app.y", 2L, 9L)))
    // PackedForward: [tag, bin of concatenated [time, record] entries]
    val packed = fixarr(bs(0x03), rec) ++ fixarr(bs(0x04), rec)
    val pf = fixarr(fixstr("app.z"), bin8(packed))
    assert(forwardEvents(decode(pf, 0)._1).map(_.sec) == Seq(3L, 4L))
  }

  test("gzip PackedForward: option map, bare magic, members, zstd, bomb") {
    def gz(b: Array[Byte]): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(b); g.close(); bo.toByteArray
    }
    val rec = fixmap(fixstr("log") -> fixstr("boom"))
    val packed = fixarr(bs(0x03), rec) ++ fixarr(bs(0x04), rec)
    val gzOpt = fixmap(fixstr("compressed") -> fixstr("gzip"))
    // compressed: gzip declared in the option map (fw_prot.c:107)
    val pf = fixarr(fixstr("app.gz"), bin8(gz(packed)), gzOpt)
    assert(forwardEvents(decode(pf, 0)._1).map(_.sec) == Seq(3L, 4L))
    // magic bytes alone (no option map) — sniffing decides, as in the
    // reference when the option is absent (fw_prot.c:1740)
    val bare = fixarr(fixstr("app.gz"), bin8(gz(packed)))
    assert(forwardEvents(decode(bare, 0)._1).map(_.sec) == Seq(3L, 4L))
    // fluentd appends chunks as concatenated gzip members
    val two = fixarr(fixstr("t"),
      bin8(gz(fixarr(bs(0x03), rec)) ++ gz(fixarr(bs(0x04), rec))), gzOpt)
    assert(forwardEvents(decode(two, 0)._1).map(_.sec) == Seq(3L, 4L))
    // compressed: text (fluentd's "uncompressed") passes through
    val txt = fixarr(fixstr("t"), bin8(packed),
      fixmap(fixstr("compressed") -> fixstr("text")))
    assert(forwardEvents(decode(txt, 0)._1).map(_.sec) == Seq(3L, 4L))
    // zstd-compressed chunk: the magic routes to the zstd codec
    // regardless of the option map (fw_prot.c zstd acceptance)
    val zstBytes = {
      val in = getClass.getResourceAsStream("/zstd/fw_packed.zst")
      try in.readAllBytes() finally in.close()
    }
    val z = fixarr(fixstr("t"), bin8(zstBytes),
      fixmap(fixstr("compressed") -> fixstr("zstd")))
    assert(forwardEvents(decode(z, 0)._1).map(_.sec) == Seq(3L, 4L))
    // declared zstd (or gzip) with NO codec magic passes through raw —
    // magic wins in both directions (fw_prot.c:1729-1739), so a
    // mislabeled chunk parses instead of dying inside the codec
    val misdeclared = fixarr(fixstr("t"), bin8(packed),
      fixmap(fixstr("compressed") -> fixstr("zstd")))
    assert(forwardEvents(decode(misdeclared, 0)._1).map(_.sec) == Seq(3L, 4L))
    val misdeclaredGz = fixarr(fixstr("t"), bin8(packed), gzOpt)
    assert(forwardEvents(decode(misdeclaredGz, 0)._1).map(_.sec) == Seq(3L, 4L))
    // decompressed-size guard — a bomb fails before exhausting memory
    intercept[IllegalArgumentException] {
      Msgpack.gunzip(gz(Array.fill[Byte](1000)(0x41)), limit = 100)
    }
  }

  test("out_forward encoder round-trips through the decoder") {
    val events = Seq(
      (1704067200L, 0L, Map("log" -> "a", "level" -> "info")),
      (1704067201L, 42L, Map("log" -> ("x" * 100)))) // str8 path
    val frame = Msgpack.encodeForward("app.rt", events)
    val decoded = forwardEvents(decode(frame, 0)._1)
    assert(decoded == Seq(
      Event("app.rt", 1704067200L, 0L, Map("log" -> "a", "level" -> "info")),
      Event("app.rt", 1704067201L, 42L, Map("log" -> ("x" * 100)))))
  }

  test("chunk option parses per mode; ack frame encodes; negative length rejected") {
    val rec = fixmap(fixstr("log") -> fixstr("x"))
    val opt = fixmap(fixstr("chunk") -> fixstr("abc123=="))
    // Forward mode with options: [tag, entries, opt]
    val fwd = fixarr(fixstr("t"), fixarr(fixarr(bs(0x01), rec)), opt)
    assert(forwardChunkId(decode(fwd, 0)._1).contains("abc123=="))
    // Message mode with options: [tag, time, record, opt]
    val msg = fixarr(fixstr("t"), bs(0x01), rec, opt)
    assert(forwardChunkId(decode(msg, 0)._1).contains("abc123=="))
    // Message mode WITHOUT options: the record map is not an option map
    val noOpt = fixarr(fixstr("t"), bs(0x01), rec)
    assert(forwardChunkId(decode(noOpt, 0)._1).isEmpty)
    // ack round-trips
    assert(decode(encodeAck("abc123=="), 0)._1 ==
      MMap(Vector(MStr("ack") -> MStr("abc123=="))))
    // a negative array32 count is a protocol error, not an empty array
    intercept[IllegalArgumentException] {
      decode(bs(0xdd, 0xFF, 0xFF, 0xFF, 0xFF), 0)
    }
  }

  test("encoder length tiers: str16/str32 headers survive the decoder") {
    val big = "y" * 70000 // needs str32
    val frame = Msgpack.encodeForward("t", Seq((1L, 0L, Map("log" -> big))))
    val evs = forwardEvents(decode(frame, 0)._1)
    assert(evs.head.record("log").length == 70000)
  }

  test("non-map record and nested values render into the string body") {
    val msg = fixarr(fixstr("t"), bs(0x01), fixstr("bare line"))
    assert(forwardEvents(decode(msg, 0)._1).head.record ==
      Map("message" -> "bare line"))
    val nested = fixmap(fixstr("a") -> fixarr(bs(0x01), bs(0x02)))
    val msg2 = fixarr(fixstr("t"), bs(0x01), nested)
    assert(forwardEvents(decode(msg2, 0)._1).head.record == Map("a" -> "[1,2]"))
  }

  test("generic encode round-trips through decode") {
    val opts = MMap(Vector(
      MStr("nonce") -> MStr("0123456789abcdef"),
      MStr("auth") -> MBin(Array[Byte](1, 2, 3)),
      MStr("keepalive") -> MBool(true),
      MStr("n") -> MInt(-7),
      MStr("x") -> MFloat(2.5),
      MStr("z") -> MNil))
    val v = MArr(Vector(MStr("HELO"), opts, MStr("s" * 300))) // str16 tier
    val (back, used) = decode(Msgpack.encode(v), 0)
    assert(used == Msgpack.encode(v).length)
    // MBin equality is reference-based; compare via render
    assert(Msgpack.render(back) == Msgpack.render(v))
  }

  test("secure-forward digests match the reference hash layout") {
    import graft.sources.SecureForward
    // sha512("salt" + "host" + "nonce" + "key"), hex-lowercase —
    // fw_prot.c:321-368 concatenation order
    val md = java.security.MessageDigest.getInstance("SHA-512")
    md.update("salthostnoncekey".getBytes("UTF-8"))
    val want = md.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(SecureForward.sharedKeyDigest("salt", "host", "nonce", "key") == want)
    assert(want.length == 128) // the reference's fixed 128-hex-char field
    val md2 = java.security.MessageDigest.getInstance("SHA-512")
    md2.update("saltuserpw".getBytes("UTF-8"))
    val want2 = md2.digest().map(b => f"${b & 0xff}%02x").mkString
    assert(SecureForward.passwordDigest("salt", "user", "pw") == want2)
  }

  test("secure-forward handshake over piped streams, both outcomes") {
    import graft.sources.SecureForward
    def run(serverKey: String, clientKey: String): (Boolean, Boolean) = {
      val c2s = new java.io.PipedInputStream(16384)
      val c2sOut = new java.io.PipedOutputStream(c2s)
      val s2c = new java.io.PipedInputStream(16384)
      val s2cOut = new java.io.PipedOutputStream(s2c)
      var serverOk = false
      val server = new Thread(() => {
        serverOk = SecureForward.serverHandshake(c2s, s2cOut, serverKey, "srv")
      })
      server.start()
      val clientOk =
        SecureForward.clientHandshake(s2c, c2sOut, clientKey, "cli")
      server.join(10000)
      (serverOk, clientOk)
    }
    assert(run("k1", "k1") == (true, true))
    assert(run("k1", "nope") == (false, false))
  }

  test("secure-forward user auth: right password passes, wrong fails") {
    import graft.sources.SecureForward
    def run(user: String, pw: String): (Boolean, Boolean) = {
      val c2s = new java.io.PipedInputStream(16384)
      val c2sOut = new java.io.PipedOutputStream(c2s)
      val s2c = new java.io.PipedInputStream(16384)
      val s2cOut = new java.io.PipedOutputStream(s2c)
      var serverOk = false
      val server = new Thread(() => {
        serverOk = SecureForward.serverHandshake(c2s, s2cOut, "k", "srv",
          users = Map("fluent" -> "hunter2"))
      })
      server.start()
      val clientOk = SecureForward.clientHandshake(s2c, c2sOut, "k", "cli",
        username = user, password = pw)
      server.join(10000)
      (serverOk, clientOk)
    }
    assert(run("fluent", "hunter2") == (true, true))
    assert(run("fluent", "wrong") == (false, false))
    assert(run("nobody", "hunter2") == (false, false))
  }

  test("handshake against a reference-style server sending RAW nonce bytes") {
    import graft.sources.SecureForward
    // The C reference packs raw random bytes as msgpack str
    // (fw_prot.c:205-208) — including sequences that are NOT valid
    // UTF-8. The client must digest the exact wire bytes, not a lossy
    // String re-encode.
    val rawNonce = Array[Byte](0x80.toByte, 0xfe.toByte, 0x01, 0xc3.toByte,
      0x9f.toByte, 0x00, 0x7f, 0xbb.toByte) // invalid UTF-8 on purpose
    val sharedKey = "refkey"
    def strRaw(b: Array[Byte]): Array[Byte] =
      (0xa0 | b.length).toByte +: b // fixstr header over raw bytes
    val helo = bs(0x92) ++ fixstr("HELO") ++ fixmap(
      fixstr("nonce") -> strRaw(rawNonce),
      fixstr("auth") -> fixstr(""))

    val c2s = new java.io.PipedInputStream(16384)
    val c2sOut = new java.io.PipedOutputStream(c2s)
    val s2c = new java.io.PipedInputStream(16384)
    val s2cOut = new java.io.PipedOutputStream(s2c)
    @volatile var serverSawValidDigest = false
    val server = new Thread(() => {
      s2cOut.write(helo); s2cOut.flush()
      SecureForward.readOne(c2s) match {
        case MArr(Vector(MStr("PING"), MStr(host), MStr(salt), MStr(dig), _, _)) =>
          // reference-side check: sha512(salt + host + RAW nonce + key)
          val md = java.security.MessageDigest.getInstance("SHA-512")
          md.update(salt.getBytes("UTF-8")); md.update(host.getBytes("UTF-8"))
          md.update(rawNonce); md.update(sharedKey.getBytes("UTF-8"))
          val want = md.digest().map(b => f"${b & 0xff}%02x").mkString
          serverSawValidDigest = dig == want
          s2cOut.write(Msgpack.encode(MArr(Vector(MStr("PONG"),
            MBool(serverSawValidDigest), MStr(""), MStr("srv"),
            MStr(SecureForward.sharedKeyDigest(
              salt.getBytes("UTF-8"), "srv".getBytes("UTF-8"), rawNonce,
              sharedKey))))))
          s2cOut.flush()
        case other => fail(s"unexpected PING $other")
      }
    })
    server.start()
    val clientOk = SecureForward.clientHandshake(s2c, c2sOut, sharedKey, "cli")
    server.join(10000)
    assert(serverSawValidDigest, "client must digest the raw nonce bytes")
    assert(clientOk, "client must verify the server digest over raw nonce")
  }

  test("str raw bytes survive a decode→encode round trip losslessly") {
    val raw = Array[Byte](0xc0.toByte, 0x80.toByte, 0xed.toByte, 0xa0.toByte)
    val wire = (0xa0 | raw.length).toByte +: raw
    val (v, _) = decode(wire, 0)
    assert(java.util.Arrays.equals(Msgpack.encode(v), wire))
  }

  test("ext encoder tiers: ext8/ext16/ext32 round-trip without truncation") {
    for (n <- Seq(5, 255, 256, 70000)) {
      val data = Array.tabulate[Byte](n)(i => (i % 251).toByte)
      val (back, used) = decode(Msgpack.encode(MExt(9, data)), 0)
      assert(used == Msgpack.encode(MExt(9, data)).length)
      back match {
        case MExt(9, d) => assert(java.util.Arrays.equals(d, data), s"n=$n")
        case other => fail(s"n=$n decoded to $other")
      }
    }
  }
}
