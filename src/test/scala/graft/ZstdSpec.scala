package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Zstd

/** The zstd codec (libzstd through zstd-jni) against reference-encoder
  * fixtures: every .zst in test resources was produced by the zstandard
  * CLI (v1.5.7) from the sibling .bin, across levels 1/3/19 — covering
  * raw, RLE and compressed blocks, 1- and 4-stream Huffman literals
  * (direct and FSE-described weights), predefined/FSE/repeat sequence
  * tables, and repeat offsets. Level-default frames carry XXH64 content
  * checksums (verified by the decoder); the `.l1nc` variants were
  * written with --no-check.
  */
class ZstdSpec extends AnyFunSuite {

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd/$name")
    require(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  private val Limit = 1 << 24

  test("round-trips: all fixtures at levels 1/3/19, checksum and not") {
    for (base <- Seq("short", "rep", "text", "rand", "empty")) {
      val want = res(s"$base.bin").toSeq
      for (v <- Seq("l3", "l19", "l1nc")) {
        val got = Zstd.decompress(res(s"$base.$v.zst"), Limit).toSeq
        assert(got == want, s"$base.$v: ${got.length} vs ${want.length}")
      }
    }
  }

  test("concatenated frames append in order") {
    val got = Zstd.decompress(res("concat.zst"), Limit).toSeq
    assert(got == (res("short.bin") ++ res("rep.bin")).toSeq)
  }

  test("skippable frames are skipped") {
    val skip = Array[Byte](0x50, 0x2A, 0x4D, 0x18, 3, 0, 0, 0, 9, 9, 9)
    val got = Zstd.decompress(skip ++ res("short.l3.zst"), Limit).toSeq
    assert(got == res("short.bin").toSeq)
  }

  test("sniff: magic bytes only") {
    assert(Zstd.sniff(res("short.l3.zst")))
    assert(!Zstd.sniff("not zstd".getBytes))
    assert(!Zstd.sniff(Array[Byte](0x28, -75))) // too short
  }

  test("hostile input: truncation fails loudly at every cut") {
    val full = res("text.l3.zst")
    for (cut <- Seq(2, 5, 9, full.length / 2, full.length - 1)) {
      intercept[IllegalArgumentException] {
        Zstd.decompress(java.util.Arrays.copyOf(full, cut), Limit)
      }
    }
  }

  test("hostile input: bomb guard trips on the declared size") {
    // rep.bin is 22.2 KB from an 85-byte frame; a 1 KB limit must fail
    // instead of returning it
    val e = intercept[IllegalArgumentException] {
      Zstd.decompress(res("rep.l3.zst"), 1024)
    }
    assert(e.getMessage.contains("limit"))
  }

  test("hostile input: corrupted checksum is rejected") {
    val full = res("short.l3.zst").clone()
    full(full.length - 1) = (full(full.length - 1) ^ 0x5A).toByte
    val e = intercept[IllegalArgumentException] {
      Zstd.decompress(full, Limit)
    }
    assert(e.getMessage.contains("checksum"))
  }

  test("hostile input: garbage magic is not a frame") {
    intercept[IllegalArgumentException] {
      Zstd.decompress(Array[Byte](1, 2, 3, 4, 5, 6, 7, 8), Limit)
    }
  }

  test("forward packed entries decode through the real codec") {
    // fw_packed.zst compresses two [time, record] msgpack entries — the
    // PackedForward payload shape (fw_prot.c zstd acceptance)
    val got = Zstd.decompress(res("fw_packed.zst"), Limit).toSeq
    assert(got == res("fw_packed.bin").toSeq)
  }
}
