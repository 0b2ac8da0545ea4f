package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.obs.Observability
import graft.queries.Registry

/** Unit fixtures + plan-shape pins for the observability-analytics
  * family (graft.obs). The DuckDB hash gates prove the math; these
  * specs pin the semantic corner cases (counter resets, lower medians,
  * funnel ordering) on hand-built data and the plan shapes that decide
  * scale behavior.
  */
class ObsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // --- counter rate ------------------------------------------------------

  test("counterRate: reset contributes the post-reset value, first sample 0") {
    // counter 5 → 8 → 3 (reset) → 10: increases 0, 3, 3, 7 = 13
    val samples = Seq(
      ("a", 1000000000L, 1L, 5L), ("a", 2000000000L, 2L, 8L),
      ("a", 3000000000L, 3L, 3L), ("a", 4000000000L, 4L, 10L)
    ).toDF("series", "ts_ns", "ord", "counter")
    val out = Observability.counterRate(samples, col("series"), col("ts_ns"),
      col("ord"), col("counter"), bucketUs = 600000000L).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("increase_cents") == 13L)
    assert(out.head.getAs[Long]("n_samples") == 4L)
  }

  test("counterRate: increases are never negative at sf") {
    val neg = Registry.queries("x_obs_rate")(spark, sf)
      .filter(col("increase_cents") < 0).count()
    assert(neg == 0)
  }

  // --- HDR quantiles -----------------------------------------------------

  test("hdrQuantiles: p50 bucket brackets the exact median, width ≤ lo/16") {
    val ev = graft.model.Tables.events(spark, sf)
      .withColumn("cents", Observability.cents(col("value")))
    val hdr = Registry.queries("x_obs_hdr_quantiles")(spark, sf)
      .filter(col("q") === "p50").collect()
      .map(r => r.getAs[String]("series") -> r.getAs[Long]("bucket_lo")).toMap
    val exact = graft.ops.Quantiles.groupedQuantiles(ev, col("event_type"),
        col("cents"), Seq(("p50", 1, 2))).collect()
      .map(r => r.getAs[String]("g") -> r.getAs[Long]("value")).toMap
    for ((series, lo) <- hdr) {
      val med = exact(series)
      val shift = math.max(java.lang.Long.toBinaryString(math.max(lo, 1)).length - 5, 0)
      val width = 1L << shift
      assert(lo <= med && med < lo + width,
        s"$series: p50 bucket [$lo, ${lo + width}) misses exact median $med")
    }
  }

  // --- log templates -----------------------------------------------------

  test("logTemplates: masks digits and long hex, groups identical shapes") {
    val df = Seq(
      (1L, "GET /api/item/42 bytes=100"),
      (2L, "GET /api/item/9000 bytes=7"),
      (3L, "ref=0123456789abcdef0123456789abcdef done")
    ).toDF("u", "line")
    val out = Observability.logTemplates(df, col("line"), col("u"))
      .collect().map(r => r.getAs[String]("template") -> r.getAs[Long]("n_lines")).toMap
    assert(out("GET /api/item/<N> bytes=<N>") == 2L)
    assert(out("ref=<HEX> done") == 1L)
  }

  // --- service graph -----------------------------------------------------

  test("serviceGraph: chain spans yield (events - traces) edges") {
    val ev = graft.model.Tables.events(spark, sf)
    val nEvents = ev.count()
    val nTraces = ev.select("user_id").distinct().count()
    val edges = Registry.queries("x_obs_service_graph")(spark, sf)
      .agg(sum("n_calls")).collect().head.getLong(0)
    assert(edges == nEvents - nTraces)
  }

  test("serviceGraph plan: equi-join only, no cartesian/BNLJ") {
    val plan = Registry.queries("x_obs_service_graph")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("serviceGraph: the co-partitioned shuffle join gives the broadcast join's rows") {
    // at the tested scales the default plans a broadcast join; broadcast
    // off runs the trace-keyed shuffle join written for scale
    def run(): (String, Seq[String]) = {
      val q = Registry.queries("x_obs_service_graph")(spark, sf)
      val rows = q.collect().map(_.toString).sorted.toSeq
      (q.queryExecution.executedPlan.toString, rows)
    }
    val (broadcastPlan, broadcast) = run()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val (shufflePlan, shuffled) = try run() finally spark.conf.set(key, saved)
    assert(broadcastPlan.contains("BroadcastHashJoin"), broadcastPlan.take(3000))
    assert(shufflePlan.contains("SortMergeJoin") && !shufflePlan.contains("BroadcastHashJoin"),
      shufflePlan.take(3000))
    assert(broadcast.nonEmpty && shuffled == broadcast)
  }

  // --- SLO burn ----------------------------------------------------------

  test("sloBurn: page implies both windows burn; rolling ≥ bucket counts") {
    val rows = Registry.queries("x_obs_slo_burn")(spark, sf).collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      assert(r.getAs[Long]("long_total") >= r.getAs[Long]("total"))
      assert(r.getAs[Long]("long_errors") >= r.getAs[Long]("errors"))
      if (r.getAs[Boolean]("page"))
        assert(r.getAs[Boolean]("burn_short") && r.getAs[Boolean]("burn_long"))
    }
  }

  // --- funnel ------------------------------------------------------------

  test("funnel: ordering and horizon gate stage credit") {
    val h = 100L
    val df = Seq(
      // u1 completes in order within horizon
      (1L, 10L, "signup"), (1L, 50L, "click"), (1L, 120L, "purchase"),
      // u2 clicks BEFORE signup → depth 1
      (2L, 50L, "click"), (2L, 60L, "signup"),
      // u3 clicks after horizon → depth 1
      (3L, 10L, "signup"), (3L, 200L, "click"),
      // u4 never signs up → depth 0
      (4L, 10L, "purchase")
    ).toDF("u", "t", "st")
    val out = Observability.funnel(df, col("u"), col("t"), col("st"),
        "signup", "click", "purchase", horizonNs = h)
      .collect().map(r => r.getAs[Int]("depth") -> r.getAs[Long]("n_users")).toMap
    assert(out(3) == 1L && out(1) == 2L && out(0) == 1L)
  }

  test("funnel: depth groups partition the user base") {
    val nUsers = graft.model.Tables.events(spark, sf)
      .select("user_id").distinct().count()
    val total = Registry.queries("x_obs_funnel")(spark, sf)
      .agg(sum("n_users")).collect().head.getLong(0)
    assert(total == nUsers)
  }

  test("funnel plan: one user-keyed exchange drives windows AND collapse") {
    val plan = graft.obs.Observability.funnel(
        graft.model.Tables.events(spark, sf), col("user_id"), col("ts_ns"),
        col("event_type"), "signup", "click", "purchase", 604800000000000L)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    // one exchange for the user partition (windows + per-user agg reuse
    // it), one for the 4-row depth rollup
    assert(exchanges <= 2, s"$exchanges exchanges:\n${plan.take(3000)}")
  }

  // --- retention ---------------------------------------------------------

  test("retention: every cohort is active at offset 0") {
    val rows = Registry.queries("x_obs_retention")(spark, sf).collect()
    val cohorts = rows.map(_.getAs[Long]("cohort_day")).distinct
    val atZero = rows.filter(_.getAs[Long]("day_offset") == 0L)
      .map(_.getAs[Long]("cohort_day")).distinct
    assert(rows.forall(_.getAs[Long]("day_offset") >= 0L))
    assert(cohorts.sorted.sameElements(atZero.sorted))
  }

  // --- trending / rollup / heavy hitters --------------------------------

  test("trending: exactly k rows per day, counts descending, ranks 1..k") {
    val rows = Registry.queries("x_obs_trending")(spark, sf).collect()
    val byDay = rows.groupBy(_.getAs[Long]("day"))
    for ((_, rs) <- byDay) {
      val sorted = rs.sortBy(_.getAs[Long]("rk"))
      assert(sorted.map(_.getAs[Long]("rk")).toSeq == Seq(1L, 2L, 3L))
      val cnts = sorted.map(_.getAs[Long]("cnt"))
      assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    }
  }

  test("hdrRollup: merged fine sketches equal a direct coarse build") {
    val ev = graft.model.Tables.events(spark, sf)
      .withColumn("cents", Observability.cents(col("value")))
    val merged = Observability.hdrRollup(ev, col("event_type"),
      col("ts_ns"), col("cents"), fineUs = 600000000L, factor = 6)
    // same coarse windows built WITHOUT the fine stage: histogram merge
    // must be lossless, so quantiles agree exactly
    val direct = Observability.hdrRollup(ev, col("event_type"),
      col("ts_ns"), col("cents"), fineUs = 3600000000L, factor = 1)
    assert(merged.exceptAll(direct).count() == 0)
    assert(direct.exceptAll(merged).count() == 0)
  }

  test("heavyHitters: finds exactly the planted keys above phi") {
    val rows = (1 to 50).map(i => ("hot", i.toLong)) ++
      (1 to 50).map(i => (s"cold$i", 100L + i))
    val df = rows.toDF("k", "rid")
    val out = graft.sketch.Sketches.heavyHitters(df, col("k"), col("rid"),
      phiNum = 1, phiDen = 10).collect()
    assert(out.map(_.getAs[String]("key")).toSeq == Seq("hot"))
    assert(out.head.getAs[Long]("cnt") == 50L)
  }

  test("heavyHitters at sf: the 7 planted heavies, all above the cut") {
    val out = Registry.queries("x_topk_heavyhitters")(spark, sf).collect()
    assert(out.length == 7)
    for (r <- out)
      assert(r.getAs[Long]("cnt") * 100 >= r.getAs[Long]("n"))
  }

  // --- URL canonicalization ---------------------------------------------

  test("urlCanon: case/port/utm/fragment variants collapse to one keeper") {
    val rows = Registry.queries("x_url_canonicalize")(spark, sf)
      .filter(col("doc_id") < 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("canon"), r.getAs[Boolean]("kept"),
          r.getAs[Long]("n_variants"))).toMap
    // K=0 group: ids 0 (HTTP, UPPER host, :80, utm_) and 2 (http, plain)
    // canonicalize identically; id 1 keeps its :8080; id 3 has no query
    assert(rows(0L)._1 == "http://www.example0.com/p/0?id=0")
    assert(rows(2L)._1 == "http://www.example0.com/p/0?id=0")
    assert(rows(0L)._2 && !rows(2L)._2, "lowest doc_id is the keeper")
    assert(rows(0L)._3 == 2L)
    assert(rows(1L)._1 == "https://www.example0.com:8080/p/0?id=0")
    assert(rows(3L)._1 == "http://www.example0.com/p/0")
  }

  test("urlCanon plan: canonicalization is map-only before the one window") {
    val plan = Registry.queries("x_url_canonicalize")(spark, sf)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"$exchanges exchanges:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), "no join anywhere in the canonical pass")
  }

  // --- burst / apdex / OLAP ---------------------------------------------

  test("burst: planted spike flags, warm-up buckets scale by actual count") {
    // service s: buckets 0..3 have 2 events each, bucket 4 has 10 → burst
    val rows = (0 to 3).flatMap(b => Seq(
        ("s", b * 600000000000L), ("s", b * 600000000000L + 1))) ++
      (1 to 10).map(i => ("s", 4 * 600000000000L + i))
    val df = rows.toDF("svc", "tn")
    val out = Observability.burst(df, col("svc"), col("tn"))
      .collect().map(r => r.getAs[Long]("bucket_us") -> r).toMap
    assert(out(4L * 600000000L).getAs[Boolean]("is_burst"))
    // bucket 1 vs only bucket 0 history (2 vs 2): no burst
    assert(!out(1L * 600000000L).getAs[Boolean]("is_burst"))
    // bucket 0 has no history: never a burst
    assert(!out(0L).getAs[Boolean]("is_burst"))
  }

  test("apdex: fraction is consistent and within [0,1]") {
    val rows = Registry.queries("x_obs_apdex")(spark, sf).collect()
    for (r <- rows) {
      assert(r.getAs[Long]("score_num") ==
        r.getAs[Long]("satisfied") * 2 + r.getAs[Long]("tolerating"))
      assert(r.getAs[Long]("score_den") == r.getAs[Long]("total") * 2)
      val a = r.getAs[Double]("apdex")
      assert(a >= 0.0 && a <= 1.0)
      assert(r.getAs[Long]("satisfied") + r.getAs[Long]("tolerating") +
        r.getAs[Long]("frustrated") == r.getAs[Long]("total"))
    }
  }

  test("scd2: every order matches exactly one dimension version") {
    val nOrders = graft.model.Tables.orders(spark, sf).count()
    val out = Registry.queries("x_scd2_join")(spark, sf)
    assert(out.count() == nOrders)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("olap rollup: grand total row aggregates everything") {
    val rows = Registry.queries("x_olap_rollup")(spark, sf).collect()
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1)
    val leaves = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    assert(grand.head.getAs[Long]("n_orders") ==
      leaves.map(_.getAs[Long]("n_orders")).sum)
  }

  test("olap pivot: row sums equal per-day event counts") {
    val rows = Registry.queries("x_olap_pivot")(spark, sf).collect()
    val total = rows.map(r => Seq("click", "error", "purchase", "signup",
      "view").map(c => r.getAs[Long](c)).sum).sum
    assert(total == graft.model.Tables.events(spark, sf).count())
  }

  // --- hysteresis / salted join -----------------------------------------

  test("alertHysteresis: fires after 3 bursts, resolves after 2 quiet") {
    val flags = Seq(
      ("s", 0L, false), ("s", 1L, true), ("s", 2L, true), ("s", 3L, true),
      ("s", 4L, true), ("s", 5L, false), ("s", 6L, false), ("s", 7L, true)
    ).toDF("service", "bucket_us", "is_burst")
    val out = Observability.alertHysteresis(flags).collect()
      .map(r => r.getAs[Long]("bucket_us") -> r.getAs[Boolean]("active"))
      .toMap
    assert(!out(0L) && !out(1L) && !out(2L)) // not yet 3 consecutive
    assert(out(3L) && out(4L))               // fired at 3, holds
    assert(out(5L))                          // one quiet bucket: still on
    assert(!out(6L))                         // two quiet: resolved
    assert(!out(7L))                         // single burst: no re-fire
  }

  test("salted join: result set identical to the plain join") {
    val salted = Registry.queries("x_join_salted")(spark, sf)
    val ev = graft.model.Tables.events(spark, sf)
    val fact = ev.select(col("event_id"),
      when(col("event_id") % 2 === 0, 0L).otherwise(col("user_id"))
        .as("jk"))
    val dim = ev.select(col("user_id").as("dkey")).distinct()
      .withColumn("grp", concat(lit("g"), col("dkey") % 5))
    val plain = fact.join(dim, col("jk") === col("dkey"))
      .select(col("event_id"), col("jk"), col("grp"))
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  // --- burst explain / leakage ------------------------------------------

  test("burstExplain: one row per bucket, top kind bounded by its count") {
    val rows = Registry.queries("x_obs_burst_explain")(spark, sf).collect()
    assert(rows.nonEmpty)
    val keys = rows.map(r =>
      (r.getAs[String]("service"), r.getAs[Long]("bucket_us")))
    assert(keys.distinct.length == keys.length)
    for (r <- rows if !r.isNullAt(r.fieldIndex("top_kind_n")))
      assert(r.getAs[Long]("top_kind_n") <= r.getAs[Long]("cnt"))
  }

  test("splitLeakage: pairs ordered, overlap positive where reported") {
    val rows = Registry.queries("x_split_leakage")(spark, sf).collect()
    for (r <- rows) {
      assert(r.getAs[String]("sa") < r.getAs[String]("sb"))
      assert(r.getAs[Long]("shared_grams") > 0L)
    }
  }

  // --- attribution / shares / profiling ---------------------------------

  test("attribution: every conversion's credit sums to exactly 10000 bp") {
    val rows = Registry.queries("x_attribution_position")(spark, sf)
      .collect()
    for ((_, rs) <- rows.groupBy(_.getAs[Long]("conv_id"))) {
      val n = rs.head.getAs[Long]("n_touches")
      val total = rs.map(_.getAs[Long]("credit_bp")).sum
      // r10: 2-touch renormalizes to 5000/5000 and the middle floor-div
      // remainder lands on the first middle touch — no undershoot
      assert(total == 10000L, s"conv with $n touches credited $total")
      if (n > 1) {
        assert(rs.count(_.getAs[String]("role") == "first") == 1)
        assert(rs.count(_.getAs[String]("role") == "last") == 1)
        val firstLast = rs.filter(r => Set("first", "last")
          .contains(r.getAs[String]("role"))).map(_.getAs[Long]("credit_bp"))
        assert(firstLast.forall(_ == (if (n == 2) 5000L else 4000L)))
      }
    }
  }

  test("topNOther: day totals preserved, tail folds to one label") {
    val rows = Registry.queries("x_obs_topn_other")(spark, sf).collect()
    val perDay = rows.groupBy(_.getAs[Long]("day"))
    val evPerDay = graft.model.Tables.events(spark, sf)
      .groupBy(expr("ts_ns div 86400000000000").as("day"))
      .count().collect()
      .map(r => r.getAs[Long]("day") -> r.getAs[Long]("count")).toMap
    for ((day, rs) <- perDay) {
      assert(rs.map(_.getAs[Long]("cnt")).sum == evPerDay(day))
      val other = rs.filter(_.getAs[String]("label") == "other")
      assert(other.length <= 1)
      other.foreach(o => assert(o.getAs[Long]("n_keys") == 2L)) // 5 types - 3
    }
  }

  test("shareShift: day shares sum to within flooring of 10000 bp") {
    val rows = Registry.queries("x_obs_share_shift")(spark, sf).collect()
    for ((_, rs) <- rows.groupBy(_.getAs[Long]("day"))) {
      val s = rs.map(_.getAs[Long]("share_bp")).sum
      assert(s <= 10000L && s > 10000L - rs.length)
    }
  }

  test("profile: every column profiled over every row") {
    val n = graft.model.Tables.lineitem(spark, sf).count()
    val rows = Registry.queries("x_profile_table")(spark, sf).collect()
    assert(rows.length == 4)
    for (r <- rows) {
      assert(r.getAs[Long]("n") == n)
      assert(r.getAs[Long]("n_null") == 0L)
      assert(r.getAs[String]("vmin") <= r.getAs[String]("vmax"))
    }
  }

  test("incremental agg: merged partials equal the full recompute") {
    val rows = Registry.queries("x_incremental_agg")(spark, sf).collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("ok")))
  }

  // --- transitions / CDC / HOF ------------------------------------------

  test("transitions: per-source probabilities sum to one") {
    val rows = Registry.queries("x_obs_transitions")(spark, sf).collect()
    for ((_, rs) <- rows.groupBy(_.getAs[String]("cur"))) {
      assert(rs.map(_.getAs[Long]("n_pair")).sum ==
        rs.head.getAs[Long]("n_from"))
      assert(math.abs(rs.map(_.getAs[Double]("p")).sum - 1.0) < 1e-9)
    }
  }

  test("cdc merge: latest version wins and deletes erase the key") {
    val rows = Registry.queries("x_cdc_merge")(spark, sf).collect()
      .map(r => r.getAs[Long]("o_orderkey") -> r.getAs[Long]("seq")).toMap
    val orders = graft.model.Tables.orders(spark, sf)
      .select("o_orderkey").collect().map(_.getLong(0))
    for (k <- orders) {
      if (k % 18 == 0) assert(!rows.contains(k), s"deleted key $k survived")
      else if (k % 9 == 0) assert(rows(k) == 2L)
      else if (k % 3 == 0) assert(rows(k) == 1L)
      else assert(rows(k) == 0L)
    }
  }

  test("array hof: no Generate in the plan, stats check out on a fixture") {
    val plan = Registry.queries("x_array_hof")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), "token stats must not explode")
    val one = Seq((1L, "aa bbb cccccc")).toDF("doc_id", "text")
    val r = one.select(
      org.apache.spark.sql.functions.expr(
        "aggregate(transform(split(text, ' '), x -> length(x)), 0L, " +
          "(a, x) -> a + x)").as("cs"),
      org.apache.spark.sql.functions.expr(
        "size(filter(split(text, ' '), x -> length(x) >= 6))").as("nl"))
      .collect().head
    assert(r.getAs[Long]("cs") == 11L && r.getAs[Int]("nl") == 1)
  }

  // --- MAD ---------------------------------------------------------------

  test("anomalyMad: lower median, MAD 0 flags every deviation") {
    val df = Seq(("g", 1L), ("g", 1L), ("g", 1L), ("g", 100L))
      .toDF("s", "v")
    val out = Observability.anomalyMad(df, col("s"), col("v"), k = 5)
      .collect().head
    assert(out.getAs[Long]("median_v") == 1L)
    assert(out.getAs[Long]("mad_v") == 0L)
    assert(out.getAs[Long]("n_outliers") == 1L)
  }
}
