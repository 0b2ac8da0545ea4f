package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  // the shared planner settings at a fixed local[4], whatever the host;
  // bucketed-table specs saveAsTable into a throwaway warehouse
  lazy val spark: SparkSession = GraftSession.local(4, Map(
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft_wh").toString))
  val sf: String = "/root/testdata/sf0.001"
}

class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("every registered query runs and returns rows at sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try {
        val n = fn(spark, sf).count()
        if (n > 0) None else Some(s"$name: 0 rows")
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("s05_agg_global matches hand-computed values") {
    val row = SparkEntry.queries("s05_agg_global")(spark, sf).collect().head
    val qty = graft.model.Tables.lineitem(spark, sf)
      .select(org.apache.spark.sql.functions.col("l_quantity"))
      .collect().map(_.getDouble(0))
    assert(row.getAs[Long]("n") == qty.length)
    assert(row.getAs[Double]("min_qty") == qty.min)
    assert(row.getAs[Double]("max_qty") == qty.max)
    val sumBd = qty.map(BigDecimal(_).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
    assert(math.abs(row.getAs[Double]("sum_qty") - sumBd.toDouble) < 1e-9)
  }

  test("s13 hopping: every event lands in exactly 2 windows") {
    val n = graft.model.Tables.events(spark, sf).count()
    val hopped = SparkEntry.queries("s13_window_hopping")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0)
    assert(hopped == 2 * n)
  }
}

class RouterSpec extends AnyFunSuite {
  import graft.route.Router

  test("wildcard compilation") {
    assert(Router.wildcardToRegex("a.*") == "^a\\..*$")
    assert(Router.wildcardToRegex("*") == "^.*$")
    assert(Router.wildcardToRegex("kube.var.log[1]") == "^kube\\.var\\.log\\[1\\]$")
  }

  test("tag match semantics mirror flb_router_match") {
    import TestSpark._
    import spark.implicits._
    val df = Seq("app.error", "app.err.x", "db.error", "app").toDF("tag")
    def matched(p: String): Set[String] =
      df.filter(Router.tagMatch(org.apache.spark.sql.functions.col("tag"), p))
        .as[String].collect().toSet
    assert(matched("app.*") == Set("app.error", "app.err.x"))
    assert(matched("*") == Set("app.error", "app.err.x", "db.error", "app"))
    assert(matched("app") == Set("app"))
    assert(matched("/^app$/") == Set("app"))
  }

  test("property: tagMatch == a recursive wildcard matcher, NULL tags match nothing") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.functions.col
    import TestSpark._
    import spark.implicits._
    // flb_router.c's router_match: `*` takes any run of characters,
    // line terminators included; every other character is itself
    def model(tag: String, p: String): Boolean =
      if (p.isEmpty) tag.isEmpty
      else if (p.head == '*') (0 to tag.length).exists(i => model(tag.substring(i), p.tail))
      else tag.nonEmpty && tag.head == p.head && model(tag.tail, p.tail)
    val token = Gen.oneOf("a", "b", ".", "_", "%", "\\", "[", "]", "é", "日", "😀", "\n", "\r")
    val tagGen = Gen.choose(0, 6).flatMap(Gen.listOfN(_, token)).map(_.mkString)
    // half the patterns are a tag with spans replaced by `*`, so they
    // match often; the other half are random
    val sometimes = Gen.frequency(3 -> false, 1 -> true)
    val derived = for {
      t <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, token))
      edits <- Gen.listOfN(t.length, Gen.zip(sometimes, sometimes))
      last <- Gen.oneOf("", "", "", "*")
    } yield t.zip(edits).map { case (tok, (star, drop)) =>
      (if (star) "*" else "") + (if (drop) "" else tok)
    }.mkString + last
    val random = Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.frequency(4 -> token, 1 -> Gen.const("*"))))
      .map(_.mkString)
    def sample[T](g: Gen[T], n: Int, seed: Long): Seq[T] =
      Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get
    val tags = (sample(tagGen, 80, 11L) ++ sample(derived, 40, 12L)).distinct
    val patterns = (sample(derived, 150, 13L) ++ sample(random, 150, 14L) ++ Seq("*", "**", ""))
      .distinct
    val df = (tags.map(Option(_)) :+ None).toDF("tag")
    patterns.grouped(50).foreach { batch =>
      val rows = df.select(col("tag") +: batch.map(p => Router.tagMatch(col("tag"), p)): _*).collect()
      for (r <- rows; (p, i) <- batch.zipWithIndex) {
        val tag = Option(r.getString(0))
        val got = !r.isNullAt(i + 1) && r.getBoolean(i + 1)
        assert(got == tag.exists(model(_, p)), s"tag ${tag.map(_.map(_.toInt))} pattern ${p.map(_.toInt)}")
      }
    }
  }
}
