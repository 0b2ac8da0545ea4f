package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Zstd

/** Hostile-input properties of [[Zstd.decompress]] over the reference
  * encoder's vectors in `src/test/resources/zstd`, mutated (byte set,
  * bit flip, zeroed) and cut at random offsets: every input either
  * decodes or raises `IllegalArgumentException`, never another
  * throwable, and no call returns more than its `limit`.
  */
class ZstdHostileSpec extends AnyFunSuite {

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  private def res(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/zstd/$name")
    require(in != null, s"missing fixture $name")
    try in.readAllBytes() finally in.close()
  }

  /** Single-frame vectors, then the two-frame `concat.zst`. */
  private val singles: Vector[Array[Byte]] =
    (for (base <- Seq("short", "rep", "text", "rand", "empty"); v <- Seq("l3", "l19", "l1nc"))
      yield res(s"$base.$v.zst")).toVector ++
      Seq("fw_packed.zst", "kafka_recs.zst", "otlp.json.zst").map(res)
  private val vectors: Vector[Array[Byte]] = singles :+ res("concat.zst")

  private val Limit = 1 << 24

  private def hex(b: Array[Byte]): String = b.take(48).map(x => f"$x%02x").mkString

  /** The decoded length, or None when the input is rejected. */
  private def outcome(b: Array[Byte], limit: Int): Option[Int] =
    try {
      val out = Zstd.decompress(b, limit)
      assert(out.length <= limit, s"${out.length} bytes over the limit $limit: ${hex(b)}")
      Some(out.length)
    } catch {
      case e: IllegalArgumentException =>
        assert(e.getMessage.startsWith("zstd: "), e.getMessage)
        None
      case t: Throwable => fail(s"$t on ${b.length} bytes: ${hex(b)}", t)
    }

  /** One to four edits, half of them inside the frame header. */
  private val mutated: Gen[Array[Byte]] = for {
    b <- Gen.oneOf(vectors)
    edits <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.zip(Gen.choose(0, 2),
      Gen.oneOf(Gen.choose(0, 23), Gen.choose(0, 1 << 20)), Gen.choose(0, 255))))
  } yield edits.foldLeft(b.clone()) { case (buf, (kind, at, x)) =>
    val i = at % buf.length
    buf(i) = kind match {
      case 0 => x.toByte
      case 1 => (buf(i) ^ (1 << (x & 7))).toByte
      case _ => 0
    }
    buf
  }

  test("mutated vectors decode or raise IllegalArgumentException") {
    sample(mutated, 8000, 11L).foreach(outcome(_, Limit))
  }

  test("mutated and cut vectors decode or raise IllegalArgumentException") {
    sample(Gen.zip(mutated, Gen.choose(0.0, 1.0)), 4000, 12L).foreach { case (b, f) =>
      outcome(java.util.Arrays.copyOf(b, (f * b.length).toInt), Limit)
    }
  }

  test("every non-empty strict prefix of a single frame is rejected") {
    // the empty input is a stream of no frames and decodes to nothing
    assert(outcome(Array.emptyByteArray, Limit).contains(0))
    sample(Gen.zip(Gen.oneOf(singles), Gen.choose(0.0, 1.0)), 4000, 13L).foreach { case (b, f) =>
      val cut = java.util.Arrays.copyOf(b, 1 + math.min((f * (b.length - 1)).toInt, b.length - 2))
      assert(outcome(cut, Limit).isEmpty, s"cut ${cut.length} of ${b.length}: ${hex(b)}")
    }
  }

  test("the limit: whole output when it fits, rejected when it does not") {
    sample(Gen.zip(Gen.oneOf(vectors), Gen.choose(0, 160000)), 2000, 14L).foreach { case (b, limit) =>
      val size = Zstd.decompress(b, Limit).length
      assert(outcome(b, limit) == (if (size <= limit) Some(size) else None), s"limit $limit")
    }
  }
}
