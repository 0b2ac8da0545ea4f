package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Msgpack
import graft.sources.Msgpack._

/** Properties of the structural walk the Forward source frames its input
  * with: over random, biased, mutated and encoder-produced buffers,
  * [[Msgpack.skip]] ends where [[Msgpack.decode]] ends, raises
  * `Incomplete` exactly when `decode` does, and rejects exactly the
  * buffers `decode` rejects.
  */
class MsgpackSkipSpec extends AnyFunSuite {

  private def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  private def outcome(f: => Int): Either[String, Int] =
    try Right(f)
    catch {
      case _: Incomplete => Left("incomplete")
      case _: IllegalArgumentException => Left("rejected")
    }

  private def hex(b: Array[Byte]): String = b.take(80).map(x => f"$x%02x").mkString

  private def agree(b: Array[Byte], off: Int = 0): Either[String, Int] = {
    val d = outcome(decode(b, off)._2)
    assert(outcome(skip(b, off)) == d, s"at $off of ${hex(b)}")
    d
  }

  private val bytes: Gen[Array[Byte]] =
    Gen.choose(0, 48).flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte)))
      .map(_.toArray)

  /** Uniform type bytes, but half of all bytes small: length fields then
    * mostly fit, so containers and payload tiers get walked, not cut.
    */
  private val biased: Gen[Array[Byte]] =
    Gen.choose(0, 48).flatMap(n => Gen.listOfN(n, Gen.frequency(
      1 -> Gen.choose(-128, 127), 1 -> Gen.choose(0, 3)).map(_.toByte))).map(_.toArray)

  /** Small values, with the 8- and 16-bit length tiers reachable: most
    * payloads and containers are short, a few cross 255 bytes or 15
    * items.
    */
  private def value(depth: Int): Gen[V] = {
    val size = Gen.frequency(8 -> Gen.choose(0, 12), 1 -> Gen.choose(30, 40), 1 -> Gen.choose(250, 300))
    val blob = size.flatMap(n => Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))).map(_.toArray)
    val leaf: Gen[V] = Gen.oneOf(
      Gen.const(MNil), Gen.oneOf(true, false).map(MBool),
      Gen.oneOf(Gen.choose(-40L, 200L), Gen.choose(Long.MinValue, Long.MaxValue)).map(MInt),
      Gen.choose(-1e9, 1e9).map(MFloat),
      size.flatMap(n => Gen.listOfN(n, Gen.alphaNumChar)).map(cs => MStr(cs.mkString)),
      blob.map(MBin),
      Gen.zip(Gen.choose(-128, 127), Gen.oneOf(Gen.oneOf(1, 2, 4, 8, 16), size))
        .flatMap { case (t, n) => Gen.listOfN(n, Gen.choose(-128, 127).map(_.toByte))
          .map(d => MExt(t.toByte, d.toArray)) })
    val items = Gen.frequency(6 -> Gen.choose(0, 4), 1 -> Gen.choose(15, 18))
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      1 -> items.flatMap(n => Gen.listOfN(n, value(depth - 1))).map(xs => MArr(xs.toVector)),
      1 -> items.flatMap(n => Gen.listOfN(n, Gen.zip(value(depth - 1), value(depth - 1))))
        .map(es => MMap(es.toVector)))
  }

  /** Encoded values of at most 2 KiB, so cutting at every offset stays quick. */
  private def encoded(n: Int, seed: Long): Seq[Array[Byte]] =
    sample(value(3).map(encode), 3 * n, seed).filter(_.length <= 2048).take(n)

  test("skip agrees with decode on random and biased buffers at every offset") {
    (sample(bytes, 3000, 1L) ++ sample(biased, 3000, 2L)).foreach { b =>
      (0 until b.length).foreach(agree(b, _))
    }
  }

  test("encoder output: complete objects end at their length, every cut is Incomplete") {
    encoded(300, 3L).foreach { b =>
      assert(agree(b) == Right(b.length))
      assert(agree(b ++ Array[Byte](0xc1.toByte, 7)) == Right(b.length))
      (0 until b.length).foreach(k => assert(agree(b.take(k)) == Left("incomplete")))
    }
  }

  test("mutated encoder output: skip and decode fail or succeed together") {
    val mutated = for {
      b <- value(2).map(encode)
      edits <- Gen.listOfN(3, Gen.zip(Gen.choose(0, 2), Gen.choose(0, 1 << 20),
        Gen.choose(-128, 127)))
    } yield edits.foldLeft(b) { case (buf, (kind, at, x)) =>
      val i = if (buf.isEmpty) 0 else at % buf.length
      kind match {
        case 0 if buf.nonEmpty => buf.updated(i, x.toByte)
        case 1 => buf.patch(i, Array(x.toByte), 0)
        case _ => buf.patch(i, Nil, 1)
      }
    }
    sample(mutated, 3000, 4L).foreach(agree(_))
  }

  test("a walk resumed across arbitrary splits ends where skip ends") {
    encoded(300, 5L).zip(sample(Gen.listOfN(6, Gen.choose(0.0, 1.0)), 300, 6L)).foreach { case (b, fs) =>
      val ends = fs.map(f => (f * b.length).toInt).sorted :+ b.length
      val w = new Walk(0)
      ends.foreach { end =>
        val done = walk(b, end, w)
        assert(done == (end == b.length), s"end $end of ${b.length}: ${hex(b)}")
      }
      assert(w.pos == skip(b, 0))
    }
  }

  test("hostile lengths: 32-bit sizes are Incomplete or rejected, never wrapped") {
    // str32 declaring 1 GiB, then a few payload bytes
    val huge = Array(0xdb, 0x40, 0x00, 0x00, 0x00, 0x61, 0x62).map(_.toByte)
    assert(agree(huge) == Left("incomplete"))
    // ext32 declaring 2^31-1: 1 + n must not overflow into a negative need
    val ext = Array(0xc9, 0x7f, 0xff, 0xff, 0xff, 0x00).map(_.toByte)
    assert(agree(ext) == Left("incomplete"))
    // a negative 32-bit count is a protocol error for every tier
    Seq(0xc6, 0xc9, 0xdb, 0xdd, 0xdf).foreach { t =>
      assert(agree(Array(t, 0x80, 0, 0, 0).map(_.toByte)) == Left("rejected"))
    }
    // map32 of 2^31-1 entries: the child count is counted in a Long
    assert(agree(Array(0xdf, 0x7f, 0xff, 0xff, 0xff, 0x01).map(_.toByte)) == Left("incomplete"))
    assert(agree(Array(0xc1).map(_.toByte)) == Left("rejected"))
  }
}
