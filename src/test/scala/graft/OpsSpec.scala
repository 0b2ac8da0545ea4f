package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops._

class OpsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("grep legacy: OR over keeps, AND over excludes; missing key never matches") {
    val df = Seq(
      ("1", Some("error in module")),
      ("2", Some("warning only")),
      ("3", None)
    ).toDF("id", "msg")
    // legacy mode is sequential: the exclude runs first, then the regex
    // decides (a regex rule ends the chain either way)
    val out = Grep(df, Seq(
      Grep.Rule(col("msg"), "only", exclude = true),
      Grep.Rule(col("msg"), "error|warning")
    )).select("id").as[String].collect().toSet
    assert(out == Set("1"))
  }

  test("modify rename is a no-op when target exists; hard_rename overwrites") {
    val df = Seq((1, 2)).toDF("a", "b")
    assert(Modify(df, Seq(Modify.Rename("a", "b"))).columns.toSeq == Seq("a", "b"))
    val hard = Modify(df, Seq(Modify.Rename("a", "b", hard = true)))
    assert(hard.columns.toSeq == Seq("b"))
    assert(hard.select("b").as[Int].head() == 1)
  }

  test("nest/lift round trip preserves values") {
    val df = Seq(("k", "v1", "v2")).toDF("id", "n_a", "n_b")
    val nested = Nest.nest(df, "n_*", "sub")
    assert(nested.columns.toSeq == Seq("id", "sub"))
    val lifted = Nest.lift(nested, "sub", "p_")
    assert(lifted.columns.toSeq == Seq("id", "p_n_a", "p_n_b"))
    assert(lifted.select("p_n_b").as[String].head() == "v2")
  }

  test("type_converter try_cast tolerance: bad values become NULL not errors") {
    val df = Seq("12", "x12", "3.5").toDF("v")
    val out = TypeConverter(df, Seq(TypeConverter.Cast("v", "n", "long")))
      .select("n").collect().map(r => Option(r.get(0)))
    // strtol semantics: numeric prefix parses, garbage is NULL, 3.5 -> 3
    assert(out.toSeq == Seq(Some(12L), None, Some(3L)))
  }

  test("throttle caps records per key per pane") {
    val df = (1 to 100).map(i => (i.toLong, "k", (i % 2).toLong * 10)).toDF("id", "key", "ts")
    val out = Throttle(df, Seq(col("key")), col("ts"), Seq(col("id")), 10L, 3)
    assert(out.count() == 6) // 2 panes x 3
  }

  test("cumulative_to_delta detects resets") {
    val df = Seq((1L, 10.0), (2L, 15.0), (3L, 3.0), (4L, 8.0))
      .toDF("t", "v").withColumn("k", lit("s"))
    val out = CumulativeToDelta(df, Seq(col("k")), Seq(col("t")), col("v"), "d")
      .orderBy("t").select("d").collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(None, Some(5.0), Some(3.0), Some(5.0)))
  }

  test("probabilistic sampling is deterministic and near target rate") {
    val df = (1 to 10000).map(_.toLong).toDF("id")
    val n1 = Sampling.probabilistic(df, col("id"), 10.0).count()
    val n2 = Sampling.probabilistic(df, col("id"), 10.0).count()
    assert(n1 == n2)
    assert(n1 > 700 && n1 < 1300, s"rate off: $n1/10000")
  }

  test("checklist annotates only listed keys") {
    val df = Seq(1L, 2L, 3L).toDF("k")
    val out = Checklist.annotateLiteral(df, col("k"), Seq(2L), "f", lit("hit"))
      .orderBy("k").select("f").collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(None, Some("hit"), None))
  }

  test("property: grep literal rules (StartsWith/Contains) == RLIKE, NULL never matches") {
    import org.apache.spark.sql.catalyst.expressions.{Contains, RLike, StartsWith}
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
      Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get
    val piece = Gen.oneOf("/", "a", "b", "healthz", "-", " ", "é", "日", "\u0085")
    // patterns: mostly literals, some with a metacharacter, `$` or a class
    val pattern = for {
      anchor <- Gen.oneOf("", "^")
      ps <- Gen.choose(0, 3).flatMap(Gen.listOfN(_, Gen.frequency(8 -> piece,
        1 -> Gen.oneOf(".", "$", "\\d", "[a/]", "a*", "(?i)A", "😀"))))
    } yield anchor + ps.mkString
    val text = Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.frequency(6 -> piece,
      2 -> Gen.oneOf("\n", "\r", "\r\n", "A", "\uFFFD", "😀")))).map(_.mkString)
    val values = (sample(text, 150, 31L).map(t => Option(t.getBytes("UTF-8"))) ++
      Seq(None, Some(Array[Byte]('/', 'a', 0x80.toByte)), Some(Array[Byte](0xE2.toByte, '/', 'a')),
        Some(Array[Byte](0xC3.toByte, 0xA9.toByte, 0xFF.toByte)))).distinct
    val df = values.toDF("b").select(col("b").cast("string").as("s"))
    val patterns = (sample(pattern, 300, 32L) ++ Seq("", "^", "^/healthz", "healthz")).distinct
    patterns.grouped(40).foreach { batch =>
      val cols = batch.flatMap { p =>
        Seq(false, true).flatMap { ex =>
          val oracle = coalesce(col("s").rlike(p), lit(false))
          Seq(Grep.Rule(col("s"), p, ex).satisfied, if (ex) !oracle else oracle)
        }
      }
      df.select(col("s") +: cols: _*).collect().foreach { r =>
        for (i <- 1 until r.length by 2)
          assert(r.getBoolean(i) == r.getBoolean(i + 1),
            s"pattern ${batch((i - 1) / 4)} exclude ${(i - 1) % 4 == 2} on ${Option(r.getString(0)).map(_.map(_.toInt))}")
      }
    }
    // the access chain's rule is a StartsWith; `$`, a class or a flag keep RLIKE
    def condition(p: String) = df.filter(Grep.Rule(col("s"), p).satisfied).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }.get
    assert(condition("^/healthz").exists(_.isInstanceOf[StartsWith]))
    assert(condition("healthz").exists(_.isInstanceOf[Contains]))
    Seq("^/healthz$", "^/h[a]", "(?i)^/healthz", "^/healthz.").foreach { p =>
      assert(condition(p).exists(_.isInstanceOf[RLike]), p)
    }
  }
}
