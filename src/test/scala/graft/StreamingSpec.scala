package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.SourceStreams.{awaitOffset, closedByPeer, connect, javaSerialized, offsetOf, partitions, readN, withPortStream}
import graft.sources.Msgpack
import graft.streaming._
import graft.streaming.Multiline.{Assembled, Line}
import graft.streaming.Stateful._

/** Streaming stateful ops driven by MemoryStream — the exact analogue of
  * the reference's library-mode runtime tests (flb_lib_push → out_lib
  * callback, SURVEY §3.3).
  *
  * Harness note: for queries whose state registers a
  * GroupStateTimeout.ProcessingTimeTimeout, `processAllAvailable` never
  * returns on Spark 4.1 — pending timeouts make every trigger construct
  * another batch, so the no-new-data signal never fires. Those tests poll
  * the memory sink for the expected row count with a deadline instead.
  * NoTimeout queries still use `processAllAvailable`.
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def startToMemory[T](ds: org.apache.spark.sql.Dataset[T], name: String) =
    ds.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()

  /** Poll until `name` has ≥ n rows; fail after the deadline. */
  private def awaitRows(name: String, n: Long, timeoutMs: Long = 60000): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    var count = spark.table(name).count()
    while (count < n && System.currentTimeMillis < deadline) {
      Thread.sleep(100); count = spark.table(name).count()
    }
    assert(count >= n, s"$name: $count rows after ${timeoutMs}ms, wanted $n")
  }

  test("multiline stream assembles stack traces; new start flushes previous") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Line]
    val out = Multiline.assembleStream(spark, in.toDS(), Multiline.Modes.java,
      flushMs = 120000)
    val q = startToMemory(out, "ml_out")
    try {
      in.addData(
        Line("pod1", 1, "ERROR boom"),
        Line("pod1", 2, "  at a.b.C(1)"),
        Line("pod1", 3, "  at d.e.F(2)"),
        Line("pod1", 4, "INFO next record"), // flushes the trace
        Line("pod2", 1, "plain line"),
        Line("pod2", 2, "another start")     // flushes "plain line"
      )
      awaitRows("ml_out", 2)
    } finally q.stop()
    val got = spark.table("ml_out").as[Assembled].collect()
      .map(a => (a.key, a.firstSeq) -> a).toMap
    assert(got(("pod1", 1L)).message == "ERROR boom\n  at a.b.C(1)\n  at d.e.F(2)")
    assert(got(("pod1", 1L)).nLines == 3)
    assert(got(("pod2", 1L)).message == "plain line")
    // the still-open groups (INFO next record / another start) stay
    // buffered: flush_ms is far beyond the polling window
    assert(!got.contains(("pod1", 4L)))
    assert(!got.contains(("pod2", 2L)))
  }

  test("multiline stream flushes on processing-time timeout (flush_ms)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Line]
    val out = Multiline.assembleStream(spark, in.toDS(), Multiline.Modes.java,
      flushMs = 300)
    val q = startToMemory(out, "ml_timeout")
    try {
      in.addData(Line("pod1", 1, "ERROR boom"), Line("pod1", 2, "  at x"))
      // no further input: the 300ms timeout fires on a subsequent
      // timeout-driven batch and flushes the buffered group
      awaitRows("ml_timeout", 1)
    } finally q.stop()
    val got = spark.table("ml_timeout").as[Assembled].collect()
    assert(got.exists(a => a.key == "pod1" && a.nLines == 2), got.mkString(";"))
  }

  test("throttle token bucket: at most rate records per pane per key") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Rec]
    val out = Stateful.throttle(spark, in.toDS(), rate = 2, paneSeconds = 10)
    val q = startToMemory(out, "thr_out")
    try {
      in.addData((1 to 6).map(i => Rec("k1", 100L + i % 5, s"r$i")): _*)
      in.addData(Rec("k1", 115L, "next_pane"), Rec("k2", 100L, "other_key"))
      awaitRows("thr_out", 4) // timeout-registered state: poll, never processAllAvailable
    } finally q.stop()
    val got = spark.table("thr_out").as[Rec].collect()
    assert(got.count(r => r.tag == "k1" && r.tsSec < 110) == 2) // capped
    assert(got.exists(_.body == "next_pane")) // new pane refills
    assert(got.exists(_.body == "other_key")) // independent bucket
  }

  test("streaming counter rate: reset rule holds across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import Stateful.{CounterSample, RateOut}
    val in = MemoryStream[CounterSample]
    // NoTimeout stateful query: processAllAvailable is safe (see header)
    val out = Stateful.rateStream(spark, in.toDS())
    val q = startToMemory(out, "rate_out")
    try {
      in.addData(CounterSample("a", 1L, 1L, 5L), CounterSample("a", 2L, 2L, 8L))
      q.processAllAvailable()
      // batch 2: counter fell 8 → 3 = reset (contribute 3), then 3 → 10
      in.addData(CounterSample("a", 3L, 3L, 3L), CounterSample("a", 4L, 4L, 10L),
        CounterSample("b", 1L, 5L, 100L)) // new series: first sample = 0
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("rate_out").as[RateOut].collect()
      .map(r => r.ord -> r.increase).toMap
    assert(got == Map(1L -> 0L, 2L -> 3L, 3L -> 3L, 4L -> 7L, 5L -> 0L))
  }

  test("streaming funnel: depth advances across batches equal the batch rollup") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import Stateful.{FunnelEvent, FunnelUpdate}
    val in = MemoryStream[FunnelEvent]
    // NoTimeout stateful query: processAllAvailable is safe (see header)
    val out = Stateful.funnelStream(spark, in.toDS(),
      "signup", "click", "purchase", horizonNs = 10L)
    val q = startToMemory(out, "funnel_out")
    try {
      // user 1 completes in batch 1 (click delivered before signup —
      // in-batch ts sort applies them in order); user 2's click is
      // outside the horizon; user 3 never signs up (depth 0, no rows)
      in.addData(FunnelEvent(1L, 2L, "click"), FunnelEvent(1L, 1L, "signup"),
        FunnelEvent(1L, 3L, "purchase"),
        FunnelEvent(2L, 10L, "signup"), FunnelEvent(2L, 25L, "click"),
        FunnelEvent(3L, 1L, "click"))
      q.processAllAvailable()
      // user 4 advances to depth 2 across batches; its purchase misses
      // the horizon from t2
      in.addData(FunnelEvent(4L, 5L, "signup"))
      q.processAllAvailable()
      in.addData(FunnelEvent(4L, 6L, "click"), FunnelEvent(4L, 20L, "purchase"))
      q.processAllAvailable()
    } finally q.stop()
    // a user's LATEST update is its funnel row
    val updates = spark.table("funnel_out").as[FunnelUpdate].collect()
    assert(!updates.exists(_.user == 3L)) // depth-0 users never emit
    val latest = updates.groupBy(_.user).view.mapValues(_.maxBy(_.depth))
      .values.toSeq
    val streamed = latest.groupBy(_.depth).view.mapValues(us =>
      (us.size.toLong, us.map(_.step12Ns).sum, us.map(_.step23Ns).sum)).toMap

    // the batch operator over the SAME complete event set
    val df = Seq((1L, 1L, "signup"), (1L, 2L, "click"), (1L, 3L, "purchase"),
      (2L, 10L, "signup"), (2L, 25L, "click"), (3L, 1L, "click"),
      (4L, 5L, "signup"), (4L, 6L, "click"), (4L, 20L, "purchase"))
      .toDF("u", "t", "st")
    val batch = graft.obs.Observability.funnel(df, col("u"), col("t"),
        col("st"), "signup", "click", "purchase", horizonNs = 10L)
      .filter(col("depth") > 0)
      .collect().map(r => r.getAs[Int]("depth") ->
        (r.getAs[Long]("n_users"),
          r.getAs[java.math.BigDecimal]("step12_ns_sum").longValue(),
          r.getAs[java.math.BigDecimal]("step23_ns_sum").longValue())).toMap
    assert(streamed == batch, s"stream $streamed vs batch $batch")
  }

  test("streaming cdc: higher seq wins, stale changes absorbed, tombstones emit") {
    implicit val sqlCtx = spark.sqlContext
    import Stateful.Change
    val in = MemoryStream[Change]
    // NoTimeout stateful query: processAllAvailable is safe (see header)
    val out = Stateful.cdcStream(spark, in.toDS())
    val q = startToMemory(out, "cdc_out")
    try {
      in.addData(Change(1L, 0L, "U", 10L), Change(2L, 0L, "U", 20L))
      q.processAllAvailable()
      // key 1: seq 2 wins over an in-batch seq 1; key 2: stale seq 0 dup
      // is absorbed; key 3 arrives deleted
      in.addData(Change(1L, 2L, "U", 12L), Change(1L, 1L, "U", 11L),
        Change(2L, 0L, "U", 99L), Change(3L, 5L, "D", 0L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cdc_out").as[Change].collect()
    val k1 = got.filter(_.key == 1L).map(c => (c.seq, c.payload)).sorted
    assert(k1.toSeq == Seq((0L, 10L), (2L, 12L))) // seq1 never surfaced
    assert(got.count(_.key == 2L) == 1) // stale duplicate absorbed
    val k3 = got.filter(_.key == 3L)
    assert(k3.length == 1 && k3.head.op == "D") // tombstone emitted
  }

  test("streaming gapfill: gaps carry forward across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.{SeriesBucket, GapOut}
    val in = MemoryStream[SeriesBucket]
    // NoTimeout stateful query: processAllAvailable is safe (see header)
    val out = Stateful.gapFillStream(spark, in.toDS(), bucketUs = 10L)
    val q = startToMemory(out, "gap_out")
    try {
      in.addData(SeriesBucket("a", 0L, 7L))
      q.processAllAvailable()
      // bucket 40 arrives a batch later: 10/20/30 fill with 7 (LOCF)
      in.addData(SeriesBucket("a", 40L, 9L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("gap_out").as[GapOut].collect()
      .sortBy(_.bucketUs).map(r => (r.bucketUs, r.cents, r.filled))
    assert(got.toSeq == Seq((0L, 7L, 0L), (10L, 7L, 1L), (20L, 7L, 1L),
      (30L, 7L, 1L), (40L, 9L, 0L)))
  }

  test("streaming ewma: matches the batch lag-chain across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Stateful.{SeriesBucket, EwmaOut}
    val in = MemoryStream[SeriesBucket]
    // NoTimeout stateful query: processAllAvailable is safe (see header)
    val out = Stateful.ewmaStream(spark, in.toDS())
    val q = startToMemory(out, "ewma_out")
    try {
      in.addData(SeriesBucket("a", 0L, 4L), SeriesBucket("a", 10L, 8L))
      q.processAllAvailable()
      // batch 2 continues series a from retained state; series b is new
      in.addData(SeriesBucket("a", 20L, 2L), SeriesBucket("b", 0L, 6L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ewma_out").as[EwmaOut].collect()
      .map(r => (r.series, r.bucketUs) -> r.ewmaFp).toMap
    val batch = graft.obs.Timeseries.ewma(
        Seq(("a", 0L, 4L), ("a", 10L, 8L), ("a", 20L, 2L), ("b", 0L, 6L))
          .toDF("series", "bucket_us", "cents")).collect()
      .map(r => (r.getAs[String]("series"), r.getAs[Long]("bucket_us")) ->
        r.getAs[Long]("ewma_fp")).toMap
    assert(got == batch)
  }

  test("streaming burst: trailing cells persist and late counts re-evaluate") {
    implicit val sqlCtx = spark.sqlContext
    import Stateful.{BucketCount, BurstOut}
    val in = MemoryStream[BucketCount]
    // NoTimeout stateful query: processAllAvailable is safe (see header)
    val out = Stateful.burstStream(spark, in.toDS())
    val q = startToMemory(out, "burst_out")
    try {
      in.addData((0L to 3L).map(b => BucketCount("s", b, 2L)): _*)
      q.processAllAvailable()
      // batch 2: a late +6 for bucket 3 re-evaluates it (8 vs avg 2),
      // and bucket 4 spikes to 12 — evaluated against the POST-merge
      // trail (8+2+2+2=14): 12·4 > 14·3 → burst
      in.addData(BucketCount("s", 4L, 12L), BucketCount("s", 3L, 6L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("burst_out").as[BurstOut].collect()
    val batch2 = got.filter(r => r.prevN > 0 || r.bucketUs == 0L)
    val spike = got.filter(r => r.bucketUs == 4L).last
    assert(spike.isBurst && spike.cnt == 12L && spike.prevN == 4L)
    assert(spike.prevSum == 14L)
    val late = got.filter(r => r.bucketUs == 3L).last
    assert(late.cnt == 8L && late.isBurst) // 8*3 > (2+2+2)*3
    val first = got.filter(r => r.bucketUs == 0L).head
    assert(!first.isBurst && first.prevN == 0L) // no history, never bursts
    assert(batch2.nonEmpty)
  }

  test("streaming sequence packing: shard cursors survive across batches") {
    implicit val sqlCtx = spark.sqlContext
    import Stateful.{Doc, PackedDoc}
    val in = MemoryStream[Doc]
    // NoTimeout stateful query: processAllAvailable is safe (see header)
    val out = Stateful.packStream(spark, in.toDS(), seqLen = 256)
    val q = startToMemory(out, "pack_out")
    try {
      in.addData(Doc(0, 1L, 100L), Doc(0, 2L, 100L), Doc(1, 10L, 300L))
      q.processAllAvailable()
      in.addData(Doc(0, 3L, 100L)) // must continue at token 200, not 0
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pack_out").as[PackedDoc].collect()
      .map(p => p.docId -> p).toMap
    // batch 1, shard 0: docs 1,2 pack in md5-priority order (md5("1")
    // sorts before md5("2") → c4ca… < c81e…) — intervals [0,100) [100,200)
    assert(got(1L).tokBegin == 0L && got(2L).tokBegin == 100L)
    // batch 2 resumes shard 0's cursor at 200 and straddles nothing
    assert(got(3L).tokBegin == 200L && got(3L).tokEnd == 300L)
    assert(got(3L).firstSeq == 0L && got(3L).lastSeq == 1L) // [200,300) straddles
    // shard 1 packs independently from 0 and spans sequences 0..1
    assert(got(10L).tokBegin == 0L && got(10L).lastSeq == 1L)
  }

  test("batch-trained nb model gates a document stream map-only") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // train offline on separable vocabularies...
    val train = Seq(
      (1L, "alpha beta gamma alpha", true),
      (2L, "beta alpha beta gamma", true),
      (3L, "delta epsilon zeta zeta", false),
      (4L, "epsilon delta delta zeta", false)
    ).toDF("doc_id", "text", "is_pos")
    val (post, prior) = graft.text.TextAnalysis.nbTrain(
      train, col("text"), col("is_pos"))
    // ...score in-flight: the literal model makes scoring a pure
    // projection, legal on a streaming DataFrame with no state store
    val in = MemoryStream[(Long, String)]
    val scored = graft.text.TextAnalysis.nbApply(
      in.toDS().toDF("doc_id", "text"), col("doc_id"), col("text"),
      post, prior)
    val q = startToMemory(scored, "nb_stream")
    try {
      in.addData((10L, "alpha gamma beta"), (11L, "zeta delta epsilon"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("nb_stream").collect()
      .map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(got == Map(10L -> "pos", 11L -> "neg"), got.toString)
  }

  test("streaming count-min: micro-batches fold into bounded sketch state") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[String]
    val cells = graft.sketch.Sketches.countMinCells(
      in.toDS().toDF("text"), col("text"))
    // complete mode: the sink mirrors the state store — at most d·w rows
    val q = cells.writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").trigger(Trigger.ProcessingTime(100)).start()
    try {
      in.addData("a a b")
      q.processAllAvailable()
      in.addData("a c")
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("cms_stream").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.keys.map(_._1).toSet == Set(0, 1, 2, 3))
    // each hash row has seen all 5 tokens across both batches
    (0 until 4).foreach { r =>
      assert(rows.collect { case ((`r`, _), c) => c }.sum == 5L, rows)
    }
    // reconstruct and point-query: est(a) >= 3 (one-sided bound)
    val cms = Array.fill(4, 1024)(0L)
    rows.foreach { case ((r, b), c) => cms(r)(b.toInt) = c }
    val est = (0 until 4).map { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"a#$r".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      cms(r)((java.lang.Long.parseLong(hex, 16) % 1024).toInt)
    }.min
    assert(est >= 3L, s"est(a)=$est")
  }

  test("streaming hll: registers are bounded state, estimate from the sink") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val in = MemoryStream[String]
    // complete mode: the sink mirrors the state store — at most m=256
    // (bucket → max rank) rows at ANY stream volume, and micro-batch
    // max-merge IS the sketch merge (same property ExtSpec pins batchwise)
    val regs = graft.sketch.Sketches.hllRegisters(
      in.toDS().toDF("k"), col("k"))
    val q = regs.writeStream.format("memory").queryName("hll_stream")
      .outputMode("complete").trigger(Trigger.ProcessingTime(100)).start()
    try {
      in.addData((0 until 300).map(i => s"k$i"): _*)
      q.processAllAvailable()
      in.addData((200 until 600).map(i => s"k$i"): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("hll_stream").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed.size <= 256)
    // the streamed registers equal a batch build over the union
    val batch = graft.sketch.Sketches.hllRegisters(
      (0 until 600).map(i => Tuple1(s"k$i")).toDF("k"), col("k"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(streamed == batch, "streamed registers diverge from batch build")
  }

  test("stream-stream interval join: watermarks bound state, pairs emit") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val clicks = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val joined = graft.ops.AsofJoin.intervalJoin(
      clicks.toDS().toDF("click_id", "user_id", "cts")
        .withWatermark("cts", "10 seconds"),
      purchases.toDS().toDF("p_user", "pts", "v")
        .withWatermark("pts", "10 seconds"),
      col("user_id"), col("p_user"), col("cts"), col("pts"),
      "30 SECONDS")
    val q = joined.writeStream.format("memory").queryName("ivj_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    val mk = java.sql.Timestamp.valueOf(_: String)
    try {
      purchases.addData((7L, mk("2026-01-01 10:00:00"), 5.0),
        (7L, mk("2026-01-01 09:58:00"), 1.0)) // outside the 30s window
      clicks.addData((1L, 7L, mk("2026-01-01 10:00:20")),
        (2L, 8L, mk("2026-01-01 10:00:20"))) // no purchases for user 8
      q.processAllAvailable()
      awaitRows("ivj_stream", 1)
    } finally q.stop()
    val rows = spark.table("ivj_stream").collect()
      .map(r => (r.getLong(0), r.getDouble(5)))
    assert(rows.toSeq == Seq((1L, 5.0)), rows.mkString(","))
  }

  test("streaming ohlc rollup: min_by/max_by fold in watermarked windows") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    val in = MemoryStream[(Long, String, java.sql.Timestamp, Double)]
    val ord = concat(lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    val rolled = in.toDS().toDF("event_id", "k", "ts", "v")
      .withWatermark("ts", "5 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("k"))
      .agg(min_by(col("v"), ord).as("open"), max(col("v")).as("high"),
        min(col("v")).as("low"), max_by(col("v"), ord).as("close"),
        count(lit(1)).as("n"))
    val q = rolled.writeStream.format("memory").queryName("ohlc_stream")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    val mk = java.sql.Timestamp.valueOf(_: String)
    try {
      in.addData(
        (1L, "m", mk("2026-01-01 10:00:05"), 3.0),
        (2L, "m", mk("2026-01-01 10:00:01"), 7.0),
        (3L, "m", mk("2026-01-01 10:00:59"), 1.0))
      q.processAllAvailable()
      // advance the watermark past the first bucket so it emits final
      in.addData((4L, "m", mk("2026-01-01 10:02:30"), 9.0))
      q.processAllAvailable()
      awaitRows("ohlc_stream", 1)
    } finally q.stop()
    val r = spark.table("ohlc_stream").collect().head
    // append mode emitted the CLOSED first bucket with batch semantics
    assert(r.getAs[Double]("open") == 7.0 && r.getAs[Double]("close") == 1.0)
    assert(r.getAs[Double]("high") == 7.0 && r.getAs[Double]("low") == 1.0)
    assert(r.getAs[Long]("n") == 3L)
  }

  test("streaming temperature mix: batch thresholds gate a live stream") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    // train on a skewed batch corpus: thresholds are |domains| rows of
    // model state, so the streaming side is a stream-static broadcast
    // join + filter — zero state store, any stream volume
    val corpus = ((1 to 900).map(i => (i.toLong, "head")) ++
      (1 to 100).map(i => (1000L + i, "tail"))).toDF("doc_id", "dom")
    val thr = graft.text.TextAnalysis.temperatureThresholds(corpus, col("dom"))
    val in = MemoryStream[(Long, String)]
    val out = graft.text.TextAnalysis.temperatureApply(
      in.toDS().toDF("doc_id", "dom"), col("doc_id"), col("dom"), thr)
    val q = startToMemory(out, "tmix_stream")
    try {
      in.addData((1 to 200).map(i => (i.toLong, "head")) ++
        (1 to 50).map(i => (1000L + i.toLong, "tail")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("tmix_stream").collect()
      .map(r => (r.getString(1), r.getBoolean(4)))
    assert(rows.length == 250) // every event judged, kept or not
    val keptRate = rows.groupBy(_._1).map { case (g, xs) =>
      g -> xs.count(_._2).toDouble / xs.size }
    // streamed keep decisions equal the batch operator's on the same ids
    val batchKept = graft.text.TextAnalysis.temperatureApply(
      corpus, col("doc_id"), col("dom"), thr)
      .filter(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet
    val streamKept = spark.table("tmix_stream").filter(col("kept"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamKept == batchKept.filter(id =>
      (id >= 1 && id <= 200) || (id >= 1001 && id <= 1050)))
    assert(keptRate("tail") > keptRate("head"), keptRate.toString)
  }

  test("streaming exact dedup: first hash wins across batches, min-id in batch") {
    implicit val sqlCtx = spark.sqlContext
    import Stateful.HashedDoc
    val in = MemoryStream[HashedDoc]
    // NoTimeout stateful query: processAllAvailable is safe (see header)
    val out = Stateful.dedupStream(spark, in.toDS())
    val q = startToMemory(out, "dedup_out")
    try {
      in.addData(HashedDoc("h1", 2L), HashedDoc("h1", 1L), HashedDoc("h2", 3L))
      q.processAllAvailable()
      in.addData(HashedDoc("h1", 4L), HashedDoc("h3", 5L)) // h1 already seen
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out").as[HashedDoc].collect()
      .map(d => d.hash -> d.docId).toMap
    assert(got == Map("h1" -> 1L, "h2" -> 3L, "h3" -> 5L), got.toString)
  }

  test("streaming warc segments: files become records, gzip inflates, path kept") {
    val dir = java.nio.file.Files.createTempDirectory("warcstream").toFile
    try {
      def rec(uri: String, payload: String) =
        s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
          s"Content-Length: ${payload.getBytes("UTF-8").length}\r\n\r\n" +
          payload + "\r\n\r\n"
      java.nio.file.Files.write(new java.io.File(dir, "seg1.warc").toPath,
        (rec("u/1", "one") + rec("u/2", "two")).getBytes("UTF-8"))
      java.nio.file.Files.write(new java.io.File(dir, "seg2.warc.gz").toPath,
        graft.functions.GzipCompress.compute(rec("u/3", "three").getBytes("UTF-8")))
      val out = Streams.warcSegments(spark, dir.getAbsolutePath + "/*")
      val q = startToMemory(out.toDF(), "warc_stream_out")
      try {
        q.processAllAvailable() // stateless file stream: safe
      } finally q.stop()
      val got = spark.table("warc_stream_out").collect()
      assert(got.length == 3)
      val byUri = got.map(r => r.getAs[String]("target_uri") ->
        r.getAs[String]("payload")).toMap
      assert(byUri == Map("u/1" -> "one", "u/2" -> "two", "u/3" -> "three"))
      assert(got.forall(_.getAs[String]("segment").contains("seg")))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("streaming domain quota: cap holds across batches, counter-only state") {
    implicit val sqlCtx = spark.sqlContext
    import Stateful.GroupedDoc
    val in = MemoryStream[GroupedDoc]
    val out = Stateful.quotaStream(spark, in.toDS(), cap = 2)
    val q = startToMemory(out, "quota_out")
    try {
      in.addData(GroupedDoc("a.com", 1, 10), GroupedDoc("a.com", 2, 10),
        GroupedDoc("b.org", 3, 10))
      in.addData(GroupedDoc("a.com", 4, 10), GroupedDoc("b.org", 5, 10))
      awaitRows("quota_out", 4) // timeout-registered state: poll
    } finally q.stop()
    val got = spark.table("quota_out").as[GroupedDoc].collect()
    // whichever way the micro-batches split, the cap is a hard invariant
    // (3 a.com docs arrived, 2 admitted — the counter carried over)
    assert(got.count(_.group == "a.com") == 2)
    assert(got.count(_.group == "b.org") == 2) // independent counter
    assert(got.length == 4)
  }

  test("streaming token budget: prefix semantics match the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import Stateful.GroupedDoc
    val in = MemoryStream[GroupedDoc]
    val out = Stateful.budgetStream(spark, in.toDS(), budgetPerGroup = 250)
    val q = startToMemory(out, "budget_out")
    try {
      in.addData(GroupedDoc("en", 1, 100), GroupedDoc("en", 2, 100))
      q.processAllAvailable() // NoTimeout: safe
      // doc 3 tips the total to 300 > 250 and is dropped; doc 4 (small)
      // must NOT backfill — the batch operator's prefix-cut semantics
      in.addData(GroupedDoc("en", 3, 100))
      q.processAllAvailable()
      in.addData(GroupedDoc("en", 4, 10))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("budget_out").as[GroupedDoc].collect().map(_.docId).toSet
    assert(got == Set(1L, 2L))
  }

  test("snapshot buffer flushes history when the trigger record arrives") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Rec]
    val out = Stateful.snapshotFlush(spark, in.toDS(), maxRecords = 10,
      seconds = 100, flushWhen = _.body.contains("ALERT"))
    val q = startToMemory(out, "snap_out")
    try {
      in.addData(Rec("t", 1, "a"), Rec("t", 2, "b"))
      in.addData(Rec("t", 3, "ALERT now"))
      awaitRows("snap_out", 2) // timeout-registered state: poll
    } finally q.stop()
    val got = spark.table("snap_out").as[Rec].collect().map(_.body).toSet
    assert(got == Set("a", "b")) // buffered history re-emitted on flush
  }

  test("snapshot dead-tag state evicts on idle timeout: later flush finds nothing") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Rec]
    val out = Stateful.snapshotFlush(spark, in.toDS(), maxRecords = 10,
      seconds = 100, flushWhen = _.body.contains("ALERT"), idleTimeoutMs = 300)
    val q = startToMemory(out, "snap_evict")
    try {
      in.addData(Rec("t", 1, "a"), Rec("t", 2, "b"))
      Thread.sleep(2000) // > idleTimeoutMs: the ring for tag t evicts
      in.addData(Rec("t", 3, "ALERT now"))
      Thread.sleep(1500) // give the flush batch time to run
      assert(spark.table("snap_evict").count() == 0,
        "evicted ring must not re-emit buffered history")
    } finally q.stop()
  }

  test("throttle idle key evicts: the pane counter resets after timeout") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Rec]
    // one giant pane: without eviction the second record could never pass
    val out = Stateful.throttle(spark, in.toDS(), rate = 1,
      paneSeconds = 1000000L, idleTimeoutMs = 300)
    val q = startToMemory(out, "thr_evict")
    try {
      in.addData(Rec("k", 10, "first"))
      awaitRows("thr_evict", 1)
      Thread.sleep(2000) // > idleTimeoutMs: bucket state evicts
      in.addData(Rec("k", 20, "after_evict"))
      awaitRows("thr_evict", 2) // fresh bucket admits it again
    } finally q.stop()
    val got = spark.table("thr_evict").as[Rec].collect().map(_.body).toSet
    assert(got == Set("first", "after_evict"))
  }

  test("tail sampling keeps error traces, drops clean ones") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Span]
    val out = Stateful.tailSample(spark, in.toDS(),
      TailPolicy(maxLatencyMs = 1000), decisionWaitMs = 300)
    val q = startToMemory(out, "tail_out")
    try {
      in.addData(
        Span("trace_err", "s1", 1, 10, 200, "ok span"),
        Span("trace_err", "s2", 2, 20, 503, "error span"),
        Span("trace_ok", "s3", 1, 10, 200, "clean"))
      // decision timeout fires ~300ms after the traces go quiet
      awaitRows("tail_out", 2)
    } finally q.stop()
    val got = spark.table("tail_out").as[Span].collect()
    assert(got.map(_.traceId).toSet == Set("trace_err"))
    assert(got.length == 2) // whole trace, all spans
  }

  test("lua filter on a stream: user script drops and rewrites records in flight") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.LuaContract
    val in = MemoryStream[LuaContract.Record]
    // same interpreter path as the batch gate (f_lua_script): the
    // contract's flatMap is micro-batch-transparent, mirroring the
    // reference's per-record cb_lua_filter call in stream context
    val out = LuaContract.applyTo(spark, in.toDS())(LuaContract.script(
      """function cb_filter(tag, timestamp, record)
        |  if record["level"] == "debug" then return -1, timestamp, record end
        |  record["via"] = "lua"
        |  return 1, timestamp + 5, record
        |end""".stripMargin))
    val q = startToMemory(out, "lua_stream")
    try {
      in.addData(
        LuaContract.Record("a", 10L, Map("level" -> "debug", "m" -> "drop me")),
        LuaContract.Record("b", 20L, Map("level" -> "error", "m" -> "keep me")))
      q.processAllAvailable() // stateless flatMap: safe
    } finally q.stop()
    val got = spark.table("lua_stream").as[LuaContract.Record].collect()
    assert(got.length == 1)
    assert(got.head.tsSec == 25L)
    assert(got.head.body == Map("level" -> "error", "m" -> "keep me", "via" -> "lua"))
  }

  test("rotating tail: appends resume mid-file, rename keeps the offset, truncation resets") {
    import java.nio.file.{Files, Paths, StandardOpenOption, StandardCopyOption}
    val dir = Files.createTempDirectory("graft_tail").toFile
    dir.deleteOnExit()
    val live = Paths.get(dir.getPath, "app.log")
    def append(s: String): Unit =
      Files.write(live, s.getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    append("one\ntwo\npartial") // trailing partial line must wait
    val out = Streams.tailRotating(spark, dir.getPath + "/app.log*")
    val q = startToMemory(out.selectExpr("line"), "rot_tail")
    try {
      awaitRows("rot_tail", 2)
      assert(spark.table("rot_tail").collect().map(_.getString(0)).toSet ==
        Set("one", "two")) // "partial" has no newline yet
      // append completes the partial line — resume MID-FILE (the
      // FileStreamSource divergence: it reads a path exactly once)
      append(" done\nthree\n")
      awaitRows("rot_tail", 4)
      // rotate by rename; the inode keeps its offset → no duplicate
      // re-ingest of the rotated content; the new file starts at 0
      Files.move(live, Paths.get(dir.getPath, "app.log.1"),
        StandardCopyOption.ATOMIC_MOVE)
      append("freshline\n")
      awaitRows("rot_tail", 5)
      // truncation (copytruncate rotation): size < offset → restart at
      // 0 — the in_tail detection is st_size < offset, so the new
      // content must actually be SHORTER than the old
      Files.write(live, "rewound\n".getBytes("UTF-8"),
        StandardOpenOption.TRUNCATE_EXISTING)
      awaitRows("rot_tail", 6)
    } finally q.stop()
    val got = spark.table("rot_tail").collect().map(_.getString(0)).toSeq
    assert(got.sorted ==
      Seq("freshline", "one", "partial done", "rewound", "three", "two"))
    // exactly once each — rotation produced no duplicates
    assert(got.distinct.size == got.size)
  }

  test("plain FileStreamSource divergence: appended lines are never re-read") {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val dir = Files.createTempDirectory("graft_tail_plain").toFile
    dir.deleteOnExit()
    val f = Paths.get(dir.getPath, "flat.log")
    Files.write(f, "a\n".getBytes("UTF-8"))
    val q = startToMemory(
      Streams.tailText(spark, dir.getPath).selectExpr("value"), "plain_tail")
    try {
      awaitRows("plain_tail", 1)
      Files.write(f, "b\n".getBytes("UTF-8"), StandardOpenOption.APPEND)
      // the path-keyed seen-map never revisits the file: documented
      // divergence from in_tail (tail_fs_inotify.c) — the appended
      // line must NOT appear
      Thread.sleep(1500)
      assert(spark.table("plain_tail").count() == 1)
    } finally q.stop()
  }

  test("tcp push source e2e: raw RFC5424 lines in, parsed tag-routed rows out") {
    import org.apache.spark.sql.functions._
    // find a free port (bind ephemeral, note it, release)
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val parsed = graft.sources.Sources.syslogTcp(spark, port)
    // tag-route like routeToSinks would: only the app1 ident reaches this sink
    val routed = parsed.filter(graft.route.Router.tagMatch(col("tag"), "syslog.app1"))
      .select("pri", "host", "ident", "message", "tag")
    val q = routed.writeStream.format("memory").queryName("tcp_syslog")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // the server socket binds when the stream starts; wait for it
      var sock: java.net.Socket = null
      val deadline = System.currentTimeMillis + 30000
      while (sock == null && System.currentTimeMillis < deadline) {
        try sock = new java.net.Socket("127.0.0.1", port)
        catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(sock != null, s"could not connect to tcp source on $port")
      val w = new java.io.PrintWriter(sock.getOutputStream, true)
      w.println("<14>1 2024-01-01T00:00:00Z h1 app1 101 - [k=1] hello from app1")
      w.println("<13>1 2024-01-01T00:00:01Z h2 app2 102 - - other ident, routed away")
      w.println("<15>1 2024-01-01T00:00:02Z h3 app1 103 - - second app1 line")
      w.flush()
      awaitRows("tcp_syslog", 2)
      sock.close()
    } finally q.stop()
    val got = spark.table("tcp_syslog")
      .select("pri", "host", "message").as[(Int, String, String)].collect().toSet
    assert(got == Set((14, "h1", "hello from app1"), (15, "h3", "second app1 line")))
  }

  test("tcp octet-counting framing e2e: RFC6587 frames reassemble across writes") {
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val src = spark.readStream.format("graft.sources.TcpServerSource")
      .option("port", port).option("framing", "octet_counting").load()
      .select("value")
    val q = src.writeStream.format("memory").queryName("tcp_octet")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      var sock: java.net.Socket = null
      val deadline = System.currentTimeMillis + 30000
      while (sock == null && System.currentTimeMillis < deadline) {
        try sock = new java.net.Socket("127.0.0.1", port)
        catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(sock != null, s"could not connect to tcp source on $port")
      val out = sock.getOutputStream
      // frame 1 complete; frame 2 split mid-payload across two writes
      // (syslog_prot.c buffers partial frames: frame_have_len path)
      val m2 = "<13>Oct 11 22:14:15 h1 app m1"
      val (m2a, m2b) = m2.splitAt(m2.length - 4)
      out.write(s"11 hello world${m2.length} $m2a".getBytes("UTF-8"))
      out.flush()
      Thread.sleep(300) // force a short read between the two halves
      out.write(m2b.getBytes("UTF-8"))
      out.flush()
      // a message containing newlines must survive intact (the point of
      // octet framing over newline framing)
      val multi = "line1\nline2"
      out.write(s"${multi.length} $multi".getBytes("UTF-8"))
      out.flush()
      awaitRows("tcp_octet", 3)
      sock.close()
    } finally q.stop()
    val got = spark.table("tcp_octet").as[String].collect().toSet
    assert(got == Set("hello world", "<13>Oct 11 22:14:15 h1 app m1", "line1\nline2"))
  }

  test("forward push source e2e: fluentd msgpack frames in, schemaless rows out") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val src = spark.readStream.format("graft.sources.ForwardServerSource")
      .option("port", port).load()
      .select(col("tag"), col("ts"),
        element_at(col("record"), "log").as("log"),
        element_at(col("record"), "level").as("level"))
    val q = src.writeStream.format("memory").queryName("fwd_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // hand-encode a Forward-mode frame:
      // ["app.fw", [[1704067200, {"log":"boom","level":"error"}],
      //             [EventTime(1704067201, 5), {"log":"ok","level":"info"}]]]
      def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
      def fstr(s: String) = bs(0xa0 | s.length) ++ s.getBytes("UTF-8")
      def farr(items: Array[Byte]*) = bs(0x90 | items.length) ++ items.flatten
      def fmap(es: (Array[Byte], Array[Byte])*) =
        bs(0x80 | es.length) ++ es.flatMap { case (k, v) => k ++ v }
      def u32(v: Long) = bs(((v >> 24) & 0xFF).toInt, ((v >> 16) & 0xFF).toInt,
        ((v >> 8) & 0xFF).toInt, (v & 0xFF).toInt)
      val t0 = 1704067200L
      val rec1 = fmap(fstr("log") -> fstr("boom"), fstr("level") -> fstr("error"))
      val rec2 = fmap(fstr("log") -> fstr("ok"), fstr("level") -> fstr("info"))
      val frame = farr(fstr("app.fw"), farr(
        farr(bs(0xce) ++ u32(t0), rec1),
        farr(bs(0xd7, 0x00) ++ u32(t0 + 1) ++ u32(5), rec2)))

      var sock: java.net.Socket = null
      val deadline = System.currentTimeMillis + 30000
      while (sock == null && System.currentTimeMillis < deadline) {
        try sock = new java.net.Socket("127.0.0.1", port)
        catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(sock != null)
      // write in two chunks split MID-OBJECT to exercise reassembly
      val out = sock.getOutputStream
      out.write(frame, 0, 10); out.flush()
      Thread.sleep(200)
      out.write(frame, 10, frame.length - 10); out.flush()
      awaitRows("fwd_in", 2)
      sock.close()
    } finally q.stop()
    val got = spark.table("fwd_in")
      .select(col("tag"), col("ts").cast("long"), col("log"), col("level"))
      .as[(String, Long, String, String)].collect().toSet
    assert(got == Set(
      ("app.fw", 1704067200L, "boom", "error"),
      ("app.fw", 1704067201L, "ok", "info")))
    // each batch's progress carries the source's refused-connection count
    assert(q.recentProgress.nonEmpty && q.recentProgress.forall(
      _.sources.head.metrics.get("refusedConnections") == "0"))
  }

  test("forward source e2e: gzip-compressed PackedForward chunk decodes") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val src = spark.readStream.format("graft.sources.ForwardServerSource")
      .option("port", port).load()
      .select(col("tag"), col("ts"),
        element_at(col("record"), "log").as("log"))
    val q = src.writeStream.format("memory").queryName("fwd_gz")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // ["app.gz", gzip(<[t,rec]><[t,rec]>), {"compressed": "gzip"}]
      def bs(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
      def fstr(s: String) = bs(0xa0 | s.length) ++ s.getBytes("UTF-8")
      def farr(items: Array[Byte]*) = bs(0x90 | items.length) ++ items.flatten
      def fmap(es: (Array[Byte], Array[Byte])*) =
        bs(0x80 | es.length) ++ es.flatMap { case (k, v) => k ++ v }
      val packed = farr(bs(0x03), fmap(fstr("log") -> fstr("zipped"))) ++
        farr(bs(0x04), fmap(fstr("log") -> fstr("also")))
      val bo = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bo)
      g.write(packed); g.close()
      val gz = bo.toByteArray
      val frame = farr(fstr("app.gz"), bs(0xc4, gz.length) ++ gz,
        fmap(fstr("compressed") -> fstr("gzip")))

      var sock: java.net.Socket = null
      val deadline = System.currentTimeMillis + 30000
      while (sock == null && System.currentTimeMillis < deadline) {
        try sock = new java.net.Socket("127.0.0.1", port)
        catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(sock != null)
      sock.getOutputStream.write(frame)
      sock.getOutputStream.flush()
      awaitRows("fwd_gz", 2)
      sock.close()
    } finally q.stop()
    val got = spark.table("fwd_gz")
      .select(col("ts").cast("long"), col("log"))
      .as[(Long, String)].collect().toSet
    assert(got == Set((3L, "zipped"), (4L, "also")))
  }

  test("engine-to-engine relay: out_forward sink into our own in_forward source") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    // receiving engine: Forward source → memory sink
    val received = spark.readStream.format("graft.sources.ForwardServerSource")
      .option("port", port).load()
      .select(col("tag"), element_at(col("record"), "msg").as("msg"))
    val q = received.writeStream.format("memory").queryName("relay_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // wait for the server socket to bind
      val deadline = System.currentTimeMillis + 30000
      var up = false
      while (!up && System.currentTimeMillis < deadline) {
        try { new java.net.Socket("127.0.0.1", port).close(); up = true }
        catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(up)
      // sending engine: a batch frame shipped via the out_forward sink
      val outDf = Seq(
        ("app.a", 1704067200L, Map("msg" -> "one")),
        ("app.a", 1704067201L, Map("msg" -> "two")),
        ("app.b", 1704067202L, Map("msg" -> "three"))
      ).toDF("tag", "ts_sec", "record")
      graft.sinks.ForwardSink.write(outDf, "127.0.0.1", port)
      awaitRows("relay_in", 3)
    } finally q.stop()
    val got = spark.table("relay_in").as[(String, String)].collect().toSet
    assert(got == Set(("app.a", "one"), ("app.a", "two"), ("app.b", "three")))
  }

  test("secure forward relay: shared-key handshake gates the event stream") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val received = spark.readStream.format("graft.sources.ForwardServerSource")
      .option("port", port).option("shared_key", "s3cret")
      .option("self_hostname", "graft-src").load()
      .select(col("tag"), element_at(col("record"), "msg").as("msg"))
    val q = received.writeStream.format("memory").queryName("sec_relay_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val deadline = System.currentTimeMillis + 30000
      var up = false
      while (!up && System.currentTimeMillis < deadline) {
        try { new java.net.Socket("127.0.0.1", port).close(); up = true }
        catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(up)
      val outDf = Seq(("app.sec", 1704067200L, Map("msg" -> "authed")))
        .toDF("tag", "ts_sec", "record")
      // wrong key: the server answers PONG(false) and drops the events
      intercept[org.apache.spark.SparkException] {
        graft.sinks.ForwardSink.write(outDf, "127.0.0.1", port,
          sharedKey = Some("wrong"))
      }
      // right key: handshake passes, events flow
      graft.sinks.ForwardSink.write(outDf, "127.0.0.1", port,
        sharedKey = Some("s3cret"))
      awaitRows("sec_relay_in", 1)
    } finally q.stop()
    val got = spark.table("sec_relay_in").as[(String, String)].collect().toSet
    assert(got == Set(("app.sec", "authed")))
  }

  // ------------------------------------------- Forward source wire contract

  /** A row of the Forward source as `ForwardCorpus` spells it. */
  private def fwdRow(r: org.apache.spark.sql.catalyst.InternalRow): ForwardCorpus.Row = {
    val m = r.getMap(2)
    (r.getUTF8String(0).toString, r.getLong(1), (0 until m.numElements).map(i =>
      m.keyArray.getUTF8String(i).toString -> m.valueArray.getUTF8String(i).toString))
  }

  private def ackedFrame(tag: String, id: String, records: Seq[Map[String, String]]): Array[Byte] = {
    import graft.sources.Msgpack._
    encode(MArr(Vector(MStr(tag), MArr(records.zipWithIndex.map { case (r, i) =>
      MArr(Vector(MInt(1704067200L + i), MMap(r.toVector.map { case (k, v) =>
        (MStr(k): V) -> (MStr(v): V) })))
    }.toVector), MMap(Vector(MStr("chunk") -> MStr(id))))))
  }

  /** `ForwardCorpus` rows as `forwardEvents(decode(frame))` converted them
    * before the source buffered wire bytes (generated at that commit).
    */
  private val corpusRows: Map[String, Seq[ForwardCorpus.Row]] = Map(
    "message" -> Seq(
      ("app.msg", 1704067200000000L, Seq("log" -> "hello", "level" -> "info"))),
    "message_opt" -> Seq(
      ("app.msg", 1704067200250000L, Seq("message" -> "bare line"))),
    "forward" -> Seq(
      ("app.fwd", 1704067201123456L, Seq("e" -> "ext(5,2)", "a" -> "[1,\"x\",null,true]", "b" -> "AQID", "m" -> "{\"k\":1.5,\"2\":\"two\",\"q\\\"\":\"back\\\\slash\"}", "-3" -> "-0.25")),
      ("app.fwd", 1704067202000000L, Seq("k" -> "2", "j" -> "x")),
      ("app.fwd", 1704067200000000L, Seq("f7" -> "77", "f6" -> "66", "f1" -> "11", "f5" -> "55", "f3" -> "last", "f4" -> "44", "f2" -> "22")),
      ("app.fwd", 7000000L, Seq("message" -> "[1,2]"))),
    "forward_big" -> Seq(
      ("app.big", 1704067204000000L, Seq("log" -> ForwardCorpus.big))),
    "forward_many" -> Seq(
      ("app.many", 1000000000L, Seq("i" -> "0")),
      ("app.many", 1001000000L, Seq("i" -> "1")),
      ("app.many", 1002000000L, Seq("i" -> "2")),
      ("app.many", 1003000000L, Seq("i" -> "3")),
      ("app.many", 1004000000L, Seq("i" -> "4")),
      ("app.many", 1005000000L, Seq("i" -> "5")),
      ("app.many", 1006000000L, Seq("i" -> "6")),
      ("app.many", 1007000000L, Seq("i" -> "7")),
      ("app.many", 1008000000L, Seq("i" -> "8")),
      ("app.many", 1009000000L, Seq("i" -> "9")),
      ("app.many", 1010000000L, Seq("i" -> "10")),
      ("app.many", 1011000000L, Seq("i" -> "11")),
      ("app.many", 1012000000L, Seq("i" -> "12")),
      ("app.many", 1013000000L, Seq("i" -> "13")),
      ("app.many", 1014000000L, Seq("i" -> "14")),
      ("app.many", 1015000000L, Seq("i" -> "15")),
      ("app.many", 1016000000L, Seq("i" -> "16")),
      ("app.many", 1017000000L, Seq("i" -> "17")),
      ("app.many", 1018000000L, Seq("i" -> "18")),
      ("app.many", 1019000000L, Seq("i" -> "19"))),
    "packed_gzip" -> Seq(
      ("app.gz", 1704067300000000L, Seq("log" -> "hello", "level" -> "info")),
      ("app.gz", 1704067301000000L, Seq("k" -> "2", "j" -> "x")),
      ("app.gz", 1704067302125000L, Seq("f7" -> "77", "f6" -> "66", "f1" -> "11", "f5" -> "55", "f3" -> "last", "f4" -> "44", "f2" -> "22")),
      ("app.gz", 5000000L, Seq("message" -> "packed bare"))),
    "packed_zstd" -> Seq(
      ("app.zst", 1704067300000000L, Seq("log" -> "hello", "level" -> "info")),
      ("app.zst", 1704067301000000L, Seq("k" -> "2", "j" -> "x")),
      ("app.zst", 1704067302125000L, Seq("f7" -> "77", "f6" -> "66", "f1" -> "11", "f5" -> "55", "f3" -> "last", "f4" -> "44", "f2" -> "22")),
      ("app.zst", 5000000L, Seq("message" -> "packed bare"))))

  test("forward source rows equal the event conversion over a mode/time/record corpus") {
    ForwardCorpus.frames.foreach { case (name, f) =>
      assert(ForwardCorpus.rowsOf(f) == corpusRows(name), name)
    }
    withPortStream(new graft.sources.ForwardServerSource) { (stream, port) =>
      val sock = connect(port)
      sock.getOutputStream.write(ForwardCorpus.frames.flatMap(_._2).toArray)
      sock.getOutputStream.flush()
      val total = corpusRows.values.map(_.size).sum.toLong
      awaitOffset(stream, total)
      val parts = partitions(stream, 0, total)
      assert(parts.size > 1)
      assert(SourceStreams.rows(stream, parts)(fwdRow) == ForwardCorpus.frames.flatMap(f => corpusRows(f._1)))
      sock.close()
    }
  }

  test("forward source: a frame split at every offset or sent bytewise acts as one write") {
    withPortStream(new graft.sources.ForwardServerSource) { (stream, port) =>
      val frame = ackedFrame("app.split", "s1",
        Seq(Map("log" -> "split", "n" -> "1"), Map("log" -> "two")))
      val ack = Msgpack.encodeAck("s1")
      def deliver(write: java.io.OutputStream => Unit): Seq[ForwardCorpus.Row] = {
        val before = offsetOf(stream)
        val sock = connect(port)
        write(sock.getOutputStream)
        assert(readN(sock.getInputStream, ack.length).sameElements(ack))
        val after = offsetOf(stream)
        assert(after == before + 2)
        sock.close()
        SourceStreams.rows(stream, partitions(stream, before, after))(fwdRow)
      }
      val whole = deliver { o => o.write(frame); o.flush() }
      assert(whole == ForwardCorpus.rowsOf(frame))
      assert(deliver { o => frame.foreach { b => o.write(b); o.flush(); Thread.sleep(1) } } == whole)
      (1 until frame.length).foreach { k =>
        val got = deliver { o =>
          o.write(frame, 0, k); o.flush(); Thread.sleep(2)
          o.write(frame, k, frame.length - k); o.flush()
        }
        assert(got == whole, s"split at $k")
      }
    }
  }

  test("forward source: an acked frame gets one ack, after its rows are counted") {
    withPortStream(new graft.sources.ForwardServerSource) { (stream, port) =>
      val sock = connect(port)
      val (in, out) = (sock.getInputStream, sock.getOutputStream)
      out.write(ackedFrame("app.ack", "c-7", Seq(Map("a" -> "1"), Map("a" -> "2"), Map("a" -> "3"))))
      out.flush()
      val ack = Msgpack.encodeAck("c-7")
      assert(readN(in, ack.length).sameElements(ack))
      assert(offsetOf(stream) == 3)
      sock.setSoTimeout(300)
      intercept[java.net.SocketTimeoutException](in.read())
      // a frame without the chunk option gets no reply
      out.write(Msgpack.encodeForward("app.noack", Seq((1L, 0L, Map("a" -> "4")))))
      out.flush()
      awaitOffset(stream, 4)
      intercept[java.net.SocketTimeoutException](in.read())
      sock.close()
    }
  }

  test("forward source: a malformed frame closes its connection; earlier frames stand") {
    import graft.sources.Msgpack._
    withPortStream(new graft.sources.ForwardServerSource) { (stream, port) =>
      val good = ackedFrame("app.ok", "a1", Seq(Map("log" -> "kept")))
      val after = ackedFrame("app.after", "a2", Seq(Map("log" -> "lost")))
      val oneElement = encode(MArr(Vector(MStr("app.bad"), MArr(Vector(MArr(Vector(MInt(1L))))))))
      val stringTime = encode(MArr(Vector(MStr("app.bad"), MArr(Vector(MArr(Vector(
        MStr("yesterday"), MMap(Vector(MStr("log") -> MStr("x"))))))))))
      Seq(oneElement, stringTime).foreach { bad =>
        val before = offsetOf(stream)
        val sock = connect(port)
        sock.setSoTimeout(10000)
        sock.getOutputStream.write(good ++ bad ++ after)
        sock.getOutputStream.flush()
        val ack = encodeAck("a1")
        assert(readN(sock.getInputStream, ack.length).sameElements(ack))
        assert(closedByPeer(sock.getInputStream))
        sock.close()
        assert(offsetOf(stream) == before + 1)
        assert(SourceStreams.rows(stream, partitions(stream, before, before + 1))(fwdRow).map(_._3) ==
          Seq(Seq("log" -> "kept")))
      }
    }
  }

  test("forward source: a frame still incomplete after MaxPackedBytes closes the connection") {
    withPortStream(new graft.sources.ForwardServerSource) { (stream, port) =>
      // ["app.huge", [[1, {"log": <str32 declaring 1 GiB>, trickled in
      val head = Array(0x92).map(_.toByte) ++ Msgpack.encode(Msgpack.MStr("app.huge")) ++
        Array(0x91, 0x92, 0x01, 0x81).map(_.toByte) ++ Msgpack.encode(Msgpack.MStr("log")) ++
        Array(0xdb, 0x40, 0x00, 0x00, 0x00).map(_.toByte)
      val sock = connect(port)
      sock.setSoTimeout(10000)
      val out = sock.getOutputStream
      out.write(head)
      val piece = Array.fill[Byte](1 << 20)('x'.toByte)
      var sent = 0L
      val refused =
        try {
          while (sent < 2L * Msgpack.MaxPackedBytes) { out.write(piece); out.flush(); sent += piece.length }
          false
        } catch { case _: java.io.IOException => true }
      assert(refused, s"sent $sent bytes of one frame without the source closing")
      assert(sent >= Msgpack.MaxPackedBytes - (8 << 20), s"closed after only $sent bytes")
      assert(closedByPeer(sock.getInputStream)) // and no ack
      sock.close()
      assert(offsetOf(stream) == 0)
      // the source itself keeps serving
      val next = connect(port)
      next.getOutputStream.write(Msgpack.encodeForward("app.ok", Seq((1L, 0L, Map("a" -> "b")))))
      next.getOutputStream.flush()
      awaitOffset(stream, 1)
      next.close()
    }
  }

  test("forward source plans byte slabs: one per slot for a big frame, small frames packed") {
    val slots = spark.sparkContext.defaultParallelism
    withPortStream(new graft.sources.ForwardServerSource) { (stream, port) =>
      val big = Msgpack.encodeForward("svc.metrics", (0 until 45000).map { i =>
        (1704067200L + i / 1000, (i % 1000) * 1000000L,
          Map("service" -> s"svc-${i % 997}", "latency_ms" -> (i % 250).toString))
      })
      val sock = connect(port)
      val out = sock.getOutputStream
      out.write(big); out.flush()
      awaitOffset(stream, 45000)
      val parts = partitions(stream, 0, 45000)
      assert(parts.size == math.min(45000, slots))
      // each partition is a handle on the batch's one broadcast: a few
      // KiB, however big the frame
      parts.foreach { p =>
        val shipped = javaSerialized(p).length
        assert(shipped <= 4096, s"a partition of a ${big.length}-byte frame ships as $shipped bytes")
      }
      assert(SourceStreams.rows(stream, parts)(fwdRow) == ForwardCorpus.rowsOf(big))
      stream.commit(stream.deserializeOffset("45000"))
      (0 until 50).foreach { f =>
        out.write(Msgpack.encodeForward("app.small",
          (0 until 10).map(i => (f.toLong, i.toLong, Map("i" -> i.toString)))))
      }
      out.flush()
      awaitOffset(stream, 45500)
      val small = partitions(stream, 45000, 45500)
      assert(small.size <= slots)
      assert(SourceStreams.rows(stream, small)(fwdRow).map(_._3) ==
        Seq.fill(50)((0 until 10).map(i => Seq("i" -> i.toString))).flatten)
      sock.close()
    }
  }

  test("http push source e2e: POSTed NDJSON in, tagged parsed rows out") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val src = graft.sources.Sources.httpLines(spark, port)
    val parsed = src.withColumn("rec", from_json(col("value"),
      org.apache.spark.sql.types.StructType.fromDDL("level STRING, msg STRING")))
      .select(col("tag"), col("rec.level").as("level"), col("rec.msg").as("msg"))
    val q = parsed.writeStream.format("memory").queryName("http_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val deadline = System.currentTimeMillis + 30000
      var code = -1
      while (code != 201 && System.currentTimeMillis < deadline) {
        try {
          val url = java.net.URI.create(s"http://127.0.0.1:$port/logs/app").toURL
          val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setDoOutput(true)
          val body = "{\"level\":\"info\",\"msg\":\"hello\"}\n{\"level\":\"error\",\"msg\":\"boom\"}\n"
          conn.getOutputStream.write(body.getBytes("UTF-8"))
          code = conn.getResponseCode
          conn.disconnect()
        } catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(code == 201, s"POST not accepted (last code $code)")
      awaitRows("http_in", 2)
    } finally q.stop()
    val got = spark.table("http_in").as[(String, String, String)].collect().toSet
    assert(got == Set(("logs.app", "info", "hello"), ("logs.app", "error", "boom")))
  }

  test("otlp http ingest e2e: POSTed OTLP JSON logs in, flat events out") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val src = graft.sources.Sources.httpLines(spark, port)
    val flat = graft.parse.Otlp.decodeLogs(src.select("tag", "value"), col("value"))
      .select(col("tag"), element_at(col("resource_attributes"), "service.name"),
        col("ts_unix_nano"), col("severity_number"), col("severity_text"),
        col("body"), col("trace_id"))
    val q = flat.writeStream.format("memory").queryName("otlp_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // one body, two records: the second omits timeUnixNano (falls back
      // to observed) and carries an out-of-range severity (dropped)
      val body =
        """{"resourceLogs":[{"resource":{"attributes":[{"key":"service.name","value":{"stringValue":"checkout"}}]},""" +
        """"scopeLogs":[{"scope":{"name":"app","version":"1"},"logRecords":[""" +
        """{"timeUnixNano":"1704067200000000000","severityNumber":17,"severityText":"ERROR","body":{"stringValue":"boom"},"traceId":"0af7651916cd43dd8448eb211c80319c"},""" +
        """{"observedTimeUnixNano":"1704067201000000000","severityNumber":99,"body":{"stringValue":"fine"}}]}]}]}"""
      val deadline = System.currentTimeMillis + 30000
      var code = -1
      while (code != 201 && System.currentTimeMillis < deadline) {
        try {
          val url = java.net.URI.create(s"http://127.0.0.1:$port/v1/logs").toURL
          val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setDoOutput(true)
          conn.getOutputStream.write(body.getBytes("UTF-8"))
          code = conn.getResponseCode
          conn.disconnect()
        } catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(code == 201, s"POST not accepted (last code $code)")
      awaitRows("otlp_in", 2)
    } finally q.stop()
    val got = spark.table("otlp_in")
      .as[(String, String, Long, Option[Int], Option[String], String, Option[String])]
      .collect().toSet
    assert(got == Set(
      ("v1.logs", "checkout", 1704067200000000000L, Some(17), Some("ERROR"),
        "boom", Some("0af7651916cd43dd8448eb211c80319c")),
      ("v1.logs", "checkout", 1704067201000000000L, None, None, "fine", None)))
  }

  test("otlp protobuf+gzip e2e: real POST with application/x-protobuf in, flat events out") {
    import org.apache.spark.sql.functions._
    import graft.parse.OtlpProto
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val flat = graft.sources.Sources.otlpLogsHttp(spark, port)
      .select(element_at(col("resource_attributes"), "service.name"),
        col("ts_unix_nano"), col("severity_number"), col("severity_text"),
        col("body"), col("trace_id"))
    val q = flat.writeStream.format("memory").queryName("otlp_pb_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // binary ExportLogsServiceRequest, gzip-compressed — the default
      // wire shape of a standard otel exporter
      val pb = OtlpProto.encodeLogsRequest(OtlpProto.LogGroupRow(
        rattrs = Seq(OtlpProto.KvPair("service.name", "checkout")),
        sname = Some("app"), sver = Some("1"),
        recs = Seq(
          OtlpProto.LogRecRow(Some(1704067200000000000L), None, Some(17),
            Some("ERROR"), Some("boom"), Seq.empty,
            Some("0af7651916cd43dd8448eb211c80319c")),
          OtlpProto.LogRecRow(None, Some(1704067201000000000L), None, None,
            Some("fine"), Seq.empty, None))))
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(pb); gz.close()
      val gzBody = bos.toByteArray

      val deadline = System.currentTimeMillis + 30000
      var code = -1
      while (code != 201 && System.currentTimeMillis < deadline) {
        try {
          val url = java.net.URI.create(s"http://127.0.0.1:$port/v1/logs").toURL
          val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setRequestProperty("Content-Type", "application/x-protobuf")
          conn.setRequestProperty("Content-Encoding", "gzip")
          conn.setDoOutput(true)
          conn.getOutputStream.write(gzBody)
          code = conn.getResponseCode
          conn.disconnect()
        } catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(code == 201, s"POST not accepted (last code $code)")
      awaitRows("otlp_pb_in", 2)
    } finally q.stop()
    val got = spark.table("otlp_pb_in")
      .as[(String, Long, Option[Int], Option[String], String, Option[String])]
      .collect().toSet
    assert(got == Set(
      ("checkout", 1704067200000000000L, Some(17), Some("ERROR"),
        "boom", Some("0af7651916cd43dd8448eb211c80319c")),
      ("checkout", 1704067201000000000L, None, None, "fine", None)))
  }

  test("prometheus remote-write e2e: snappy WriteRequest POST in, samples out") {
    import graft.parse.PromRemoteWrite
    import graft.parse.PromRemoteWrite.{RwLabel, RwSample, RwSeries}
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val rows = graft.sources.Sources.promRemoteWrite(spark, port)
      .select(col("name"), element_at(col("labels"), "job").as("job"),
        col("value"), col("ts_ms"))
    val q = rows.writeStream.format("memory").queryName("rw_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val body = PromRemoteWrite.snappyCompress(PromRemoteWrite.encode(Seq(
        RwSeries(Seq(RwLabel("__name__", "up"), RwLabel("job", "api")),
          Seq(RwSample(1.0, 1704067200000L), RwSample(0.0, 1704067201000L))),
        RwSeries(Seq(RwLabel("__name__", "cpu_seconds"), RwLabel("job", "db")),
          Seq(RwSample(12.25, 1704067200000L))))))
      val deadline = System.currentTimeMillis + 30000
      var code = -1
      while (code != 201 && System.currentTimeMillis < deadline) {
        try {
          val url = java.net.URI.create(s"http://127.0.0.1:$port/api/v1/write").toURL
          val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("POST")
          conn.setDoOutput(true)
          conn.setRequestProperty("Content-Encoding", "snappy")
          conn.getOutputStream.write(body)
          code = conn.getResponseCode
          conn.disconnect()
        } catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(code == 201, s"POST not accepted (last code $code)")
      awaitRows("rw_in", 3)
    } finally q.stop()
    val got = spark.table("rw_in").as[(String, String, Double, Long)]
      .collect().toSet
    assert(got == Set(
      ("up", "api", 1.0, 1704067200000L),
      ("up", "api", 0.0, 1704067201000L),
      ("cpu_seconds", "db", 12.25, 1704067200000L)))
  }

  test("otlp sink→source loopback: encoded logs POST into our own decoder") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val src = graft.sources.Sources.httpLines(spark, port)
    val flat = graft.parse.Otlp.decodeLogs(src.select("value"), col("value"))
      .select(element_at(col("resource_attributes"), "service.name").as("svc"),
        col("ts_unix_nano"), col("severity_number"), col("body"))
    val q = flat.writeStream.format("memory").queryName("otlp_loop")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val frame = Seq(
        ("checkout", 1L, 9, "boom"),
        ("checkout", 2L, 10, "fine"),
        ("billing", 3L, 11, "late")
      ).toDF("svc", "tsns", "sev", "msg")
      val bodies = graft.parse.Otlp.encodeLogs(frame,
        resourceAttrs = map(lit("service.name"), col("svc")),
        scopeName = lit("s"), scopeVersion = lit("1"),
        tsUnixNano = col("tsns"), severityNumber = col("sev"),
        severityText = lit("S"), body = col("msg"),
        attributes = map(), traceId = lit("ab"))
      val deadline = System.currentTimeMillis + 30000
      var sent = false
      while (!sent && System.currentTimeMillis < deadline) {
        try {
          graft.sinks.HttpSink.writeBodies(bodies,
            s"http://127.0.0.1:$port/v1/logs", "body", maxRetries = 0)
          sent = true
        } catch { case _: Throwable => Thread.sleep(200) }
      }
      assert(sent, "sink never reached the OTLP listener")
      awaitRows("otlp_loop", 3)
    } finally q.stop()
    val got = spark.table("otlp_loop").as[(String, Long, Int, String)]
      .collect().toSet
    assert(got == Set(("checkout", 1L, 9, "boom"),
      ("checkout", 2L, 10, "fine"), ("billing", 3L, 11, "late")))
  }

  test("remote-write sink→source loopback: frame out, same frame back in") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()

    val rows = graft.sources.Sources.promRemoteWrite(spark, port)
      .select(col("name"), element_at(col("labels"), "host").as("host"),
        col("value"), col("ts_ms"))
    val q = rows.writeStream.format("memory").queryName("rw_loop")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val frame = Seq(
        ("up", Map("host" -> "a"), 1.0, 1704067200000L),
        ("up", Map("host" -> "b"), 0.0, 1704067201000L),
        ("lag_seconds", Map("host" -> "a"), 2.5, 1704067202000L)
      ).toDF("name", "labels", "value", "ts_ms")
      // the source's HTTP listener comes up asynchronously with the
      // first micro-batch; retry the sink until it lands
      val deadline = System.currentTimeMillis + 30000
      var sent = false
      while (!sent && System.currentTimeMillis < deadline) {
        try {
          graft.sinks.RemoteWriteSink.write(frame,
            s"http://127.0.0.1:$port/api/v1/write", maxRetries = 0)
          sent = true
        } catch { case _: java.io.IOException => Thread.sleep(200) }
      }
      assert(sent, "sink never reached the source listener")
      awaitRows("rw_loop", 3)
    } finally q.stop()
    val got = spark.table("rw_loop").as[(String, String, Double, Long)]
      .collect().toSet
    assert(got == Set(
      ("up", "a", 1.0, 1704067200000L),
      ("up", "b", 0.0, 1704067201000L),
      ("lag_seconds", "a", 2.5, 1704067202000L)))
  }

  test("udp syslog e2e: RFC3164 datagrams in, parsed+tagged rows out") {
    val probe = new java.net.DatagramSocket(null)
    probe.bind(new java.net.InetSocketAddress("127.0.0.1", 0))
    val port = probe.getLocalPort
    probe.close()

    val parsed = graft.sources.Sources.syslogUdp(spark, port)
      .select("tag", "pri", "facility", "severity", "host", "ident", "pid", "message")
    val q = parsed.writeStream.format("memory").queryName("udp_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val sock = new java.net.DatagramSocket()
      val addr = new java.net.InetSocketAddress("127.0.0.1", port)
      def send(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        sock.send(new java.net.DatagramPacket(b, b.length, addr))
      }
      // datagrams may race the receiver thread's bind — resend until seen
      val deadline = System.currentTimeMillis + 30000
      while (spark.table("udp_in").count() < 2 && System.currentTimeMillis < deadline) {
        send("<34>Jan  5 10:00:00 edge01 sshd[4242]: accepted key for root")
        send("<13>Jan 15 23:59:59 edge02 cron: job done") // no pid
        Thread.sleep(300)
      }
      awaitRows("udp_in", 2)
    } finally q.stop()
    val got = spark.table("udp_in")
      .as[(String, Int, Int, Int, String, String, Option[Long], String)]
      .collect().toSet
    assert(got.contains(("syslog.sshd", 34, 4, 2, "edge01", "sshd", Some(4242L),
      "accepted key for root")))
    assert(got.contains(("syslog.cron", 13, 1, 5, "edge02", "cron", None, "job done")))
  }

  test("udp statsd e2e: multi-line datagram in, typed metric rows out") {
    val probe = new java.net.DatagramSocket(null)
    probe.bind(new java.net.InetSocketAddress("127.0.0.1", 0))
    val port = probe.getLocalPort
    probe.close()

    val parsed = graft.sources.Sources.statsdUdp(spark, port)
      .select("bucket", "mtype", "value", "sample_rate", "incremental", "set_value")
    val q = parsed.writeStream.format("memory").queryName("statsd_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val sock = new java.net.DatagramSocket()
      val addr = new java.net.InetSocketAddress("127.0.0.1", port)
      // one packet, three lines — the in_statsd receive shape
      val payload = "api.req:1|c|@0.5\ncpu:+3|g\nusers:bob|s"
      val deadline = System.currentTimeMillis + 30000
      while (spark.table("statsd_in").count() < 3 && System.currentTimeMillis < deadline) {
        val b = payload.getBytes("UTF-8")
        sock.send(new java.net.DatagramPacket(b, b.length, addr))
        Thread.sleep(300)
      }
      awaitRows("statsd_in", 3)
    } finally q.stop()
    val got = spark.table("statsd_in")
      .as[(String, String, Option[Double], Option[Double], Option[Long], Option[String])]
      .collect().toSet
    assert(got.contains(("api.req", "counter", Some(1.0), Some(0.5), None, None)))
    assert(got.contains(("cpu", "gauge", Some(3.0), None, Some(1L), None)))
    assert(got.contains(("users", "set", None, None, None, Some("bob"))))
  }

  test("unix socket e2e: local stream peers in, framed rows out") {
    val path = java.nio.file.Files.createTempDirectory("graft-unix")
      .resolve("in.sock").toString
    val lines = graft.sources.Sources.unixLines(spark, path).select("value")
    val q = lines.writeStream.format("memory").queryName("unix_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // wait for the stream's server to bind the socket path
      val deadline = System.currentTimeMillis + 30000
      while (!java.nio.file.Files.exists(java.nio.file.Paths.get(path)) &&
        System.currentTimeMillis < deadline) Thread.sleep(50)
      val chan = java.nio.channels.SocketChannel.open(
        java.net.UnixDomainSocketAddress.of(path))
      chan.write(java.nio.ByteBuffer.wrap(
        "first record\nsecond record\n".getBytes("UTF-8")))
      chan.close()
      awaitRows("unix_in", 2)
    } finally q.stop()
    val got = spark.table("unix_in").as[String].collect().toSet
    assert(got == Set("first record", "second record"))
  }

  test("FluentQL WINDOW TUMBLING on a streaming source compiles to event-time window") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val cat = graft.sql.Planner.Catalog(
      streams = Map("s" -> df), defaultStream = Some("s"),
      tsCol = "ts", watermark = "30 seconds")
    val agg = graft.sql.FluentQL.sql(
      "SELECT COUNT(*) AS n, SUM(user_id) AS su FROM STREAM:s WINDOW TUMBLING (10 SECOND);",
      cat)
    assert(agg.isStreaming)
    val q = agg.writeStream.format("memory").queryName("fql_win")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      in.addData((t("2024-01-01 00:00:01"), 1L), (t("2024-01-01 00:00:05"), 2L),
        (t("2024-01-01 00:00:13"), 3L))
      q.processAllAvailable()
      in.addData((t("2024-01-01 00:02:00"), 9L)) // advance watermark
      q.processAllAvailable()
      in.addData((t("2024-01-01 00:04:00"), 9L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("fql_win")
      .select(col("wstart"), col("n"), col("su"))
      .as[(Long, Long, Long)].collect().toSet
    val base = t("2024-01-01 00:00:00").getTime / 1000
    assert(rows.contains((base, 2L, 3L)), rows)      // [00:00:00, 00:00:10)
    assert(rows.contains((base + 10, 1L, 3L)), rows) // [00:00:10, 00:00:20)
  }

  test("session windows merge within the gap and close past the watermark") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "tag", "value")
    val agg = df.withWatermark("ts", "5 seconds")
      .groupBy(session_window(col("ts"), "10 seconds"), col("tag"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      // 00:05 and 00:12 are 7s apart (< 10s gap) → one session;
      // 00:40 is its own session
      in.addData(
        (t("2024-01-01 00:00:05"), "a", 1.0),
        (t("2024-01-01 00:00:12"), "a", 2.0),
        (t("2024-01-01 00:00:40"), "a", 5.0))
      q.processAllAvailable()
      in.addData((t("2024-01-01 00:02:00"), "a", 0.0)) // advance watermark
      q.processAllAvailable()
      in.addData((t("2024-01-01 00:05:00"), "a", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_out")
      .select(col("session_window.start").cast("string"),
        col("session_window.end").cast("string"), col("n"), col("sv"))
      .as[(String, String, Long, Double)].collect().toSet
    // merged session: [00:05, 00:12+10s); singleton: [00:40, 00:50)
    assert(rows.contains(("2024-01-01 00:00:05", "2024-01-01 00:00:22", 2L, 3.0)), rows)
    assert(rows.contains(("2024-01-01 00:00:40", "2024-01-01 00:00:50", 1L, 5.0)), rows)
  }

  test("streaming exact dedup drops replays within the watermark, state bounded") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, String)]
    val df = in.toDF().toDF("ts", "doc_id", "body")
    val out = df.withWatermark("ts", "30 seconds")
      .dropDuplicatesWithinWatermark(Seq("doc_id"))
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      in.addData(
        (t("2024-01-01 00:00:01"), "d1", "a"),
        (t("2024-01-01 00:00:02"), "d2", "b"),
        (t("2024-01-01 00:00:03"), "d1", "a-replay")) // dup inside horizon
      q.processAllAvailable()
      // advance the watermark far past d1/d2 so their state evicts
      in.addData((t("2024-01-01 00:05:00"), "d3", "c"))
      q.processAllAvailable()
      // d1 re-ingested AFTER eviction: state is gone, row re-admits —
      // the bounded-state contract (horizon dedup, not forever dedup)
      in.addData((t("2024-01-01 00:05:01"), "d1", "a-late"))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("dedup_out")
      .select(col("doc_id"), col("body")).as[(String, String)]
      .collect().toSeq
    assert(rows.count(_._1 == "d1") == 2, rows) // once per horizon
    assert(rows.map(_._2).toSet == Set("a", "b", "c", "a-late"))
    assert(!rows.map(_._2).contains("a-replay"))
  }

  test("tcp sink loopback: out_tcp lines land in this engine's tcp source") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.ServerSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val src = graft.sources.Sources.tcpLines(spark, port).select(col("value"))
    val q = src.writeStream.format("memory").queryName("tcp_sink_loop")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val deadline = System.currentTimeMillis + 30000
      var up = false
      while (!up && System.currentTimeMillis < deadline) {
        try { new java.net.Socket("127.0.0.1", port).close(); up = true }
        catch { case _: java.net.ConnectException => Thread.sleep(100) }
      }
      assert(up)
      val df = Seq("line a", "line b", "line c").toDF("value").coalesce(1)
      graft.sinks.SocketSinks.writeTcp(df, "127.0.0.1", port)
      awaitRows("tcp_sink_loop", 3)
    } finally q.stop()
    assert(spark.table("tcp_sink_loop").as[String].collect().toSet ==
      Set("line a", "line b", "line c"))
  }

  test("udp sink loopback: out_udp datagrams land in this engine's udp source") {
    import org.apache.spark.sql.functions._
    val probe = new java.net.DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val src = graft.sources.Sources.udpLines(spark, port).select(col("value"))
    val q = src.writeStream.format("memory").queryName("udp_sink_loop")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      // datagrams are fire-and-forget: retry the batch until the
      // listening source has bound and rows appear
      val deadline = System.currentTimeMillis + 30000
      val df = Seq("dgram 1", "dgram 2").toDF("value").coalesce(1)
      var count = 0L
      while (count < 2 && System.currentTimeMillis < deadline) {
        graft.sinks.SocketSinks.writeUdp(df, "127.0.0.1", port)
        Thread.sleep(300)
        count = spark.table("udp_sink_loop").count()
      }
      assert(count >= 2, s"udp rows after retries: $count")
    } finally q.stop()
    assert(spark.table("udp_sink_loop").as[String].collect().toSet ==
      Set("dgram 1", "dgram 2"))
  }

  test("nats sink e2e: INFO/CONNECT handshake then PUB frames against a scripted server") {
    import org.apache.spark.sql.functions._
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    @volatile var connectLine: String = null
    val pubs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val t = new Thread(() => {
      try {
        val s = server.accept()
        val out = s.getOutputStream
        out.write("INFO {\"server_id\":\"stub\"}\r\n".getBytes("UTF-8"))
        out.flush()
        val in = new java.io.BufferedInputStream(s.getInputStream)
        def line(): String = {
          val sb = new StringBuilder
          var b = in.read()
          while (b >= 0 && b != '\n') { if (b != '\r') sb.append(b.toChar); b = in.read() }
          if (b < 0 && sb.isEmpty) null else sb.toString
        }
        connectLine = line()
        var l = line()
        while (l != null) {
          // PUB <subject> <#bytes>
          val parts = l.split(" ")
          if (parts(0) == "PUB") {
            val n = parts.last.toInt
            val payload = new Array[Byte](n)
            var read = 0
            while (read < n) {
              val k = in.read(payload, read, n - read)
              if (k < 0) throw new java.io.EOFException
              read += k
            }
            in.read(); in.read() // trailing CRLF
            pubs.add((parts(1), new String(payload, "UTF-8")))
          }
          l = line()
        }
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true)
    t.start()
    try {
      val df = Seq(
        ("app.a", 1704067200L, """{"log":"x"}"""),
        ("app.b", 1704067201L, """{"log":"y"}"""))
        .toDF("tag", "ts_sec", "rec")
        .select(col("tag").as("subject"),
          graft.sinks.NatsSink.natsPayload(col("ts_sec"), col("rec"))
            .as("payload"))
        .coalesce(1)
      graft.sinks.NatsSink.write(df, "127.0.0.1", port)
      val deadline = System.currentTimeMillis + 10000
      while (pubs.size < 2 && System.currentTimeMillis < deadline)
        Thread.sleep(100)
    } finally server.close()
    assert(connectLine != null && connectLine.startsWith("CONNECT {"),
      s"got: $connectLine")
    val got = pubs.toArray(Array.empty[(String, String)]).toSet
    assert(got == Set(
      ("app.a", """[["1704067200","{\"log\":\"x\"}"]]"""),
      ("app.b", """[["1704067201","{\"log\":\"y\"}"]]""")), got)
  }

  test("websocket sink e2e: RFC6455 upgrade + masked text frames against a scripted server") {
    import org.apache.spark.sql.functions._
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val frames = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var sawUpgrade = false
    val t = new Thread(() => {
      try {
        val s = server.accept()
        val in = new java.io.BufferedInputStream(s.getInputStream)
        def line(): String = {
          val sb = new StringBuilder
          var b = in.read()
          while (b >= 0 && b != '\n') { if (b != '\r') sb.append(b.toChar); b = in.read() }
          sb.toString
        }
        var key: String = null
        var l = line()
        while (l.nonEmpty) {
          if (l.toLowerCase.startsWith("upgrade:") && l.contains("websocket"))
            sawUpgrade = true
          if (l.toLowerCase.startsWith("sec-websocket-key:"))
            key = l.split(":", 2)(1).trim
          l = line()
        }
        val accept = graft.sinks.WebSocketSink.acceptFor(key)
        s.getOutputStream.write(
          ("HTTP/1.1 101 Switching Protocols\r\nUpgrade: websocket\r\n" +
            s"Connection: Upgrade\r\nSec-WebSocket-Accept: $accept\r\n\r\n")
            .getBytes("UTF-8"))
        s.getOutputStream.flush()
        // parse masked client frames
        var b0 = in.read()
        while (b0 >= 0) {
          val b1 = in.read()
          assert((b1 & 0x80) != 0, "client frames MUST be masked")
          var len = (b1 & 0x7f).toLong
          if (len == 126) len = (in.read() << 8) | in.read()
          else if (len == 127) {
            len = 0
            var i = 0
            while (i < 8) { len = (len << 8) | in.read(); i += 1 }
          }
          val mask = Array.fill(4)(in.read().toByte)
          val payload = new Array[Byte](len.toInt)
          var read = 0
          while (read < len) {
            val k = in.read(payload, read, len.toInt - read)
            if (k < 0) throw new java.io.EOFException
            read += k
          }
          var i = 0
          while (i < len) { payload(i) = (payload(i) ^ mask(i % 4)).toByte; i += 1 }
          frames.add(new String(payload, "UTF-8"))
          b0 = in.read()
        }
      } catch { case _: Throwable => () }
    })
    t.setDaemon(true)
    t.start()
    try {
      val df = (Seq("""{"n":1}""", """{"n":2}""") :+ ("x" * 300))
        .toDF("value").coalesce(1) // 300-char line exercises the 16-bit tier
      graft.sinks.WebSocketSink.write(df, "127.0.0.1", port, "/stream")
      val deadline = System.currentTimeMillis + 10000
      while (frames.size < 3 && System.currentTimeMillis < deadline)
        Thread.sleep(100)
    } finally server.close()
    assert(sawUpgrade)
    assert(frames.toArray(Array.empty[String]).toSet ==
      Set("""{"n":1}""", """{"n":2}""", "x" * 300))
  }

  test("collectd udp e2e: binary protocol packets in, typed samples out") {
    import org.apache.spark.sql.functions._
    import graft.parse.Collectd
    // hostile-input contract first: bad part length and corrupted
    // values count must throw, not wander the buffer
    intercept[IllegalArgumentException] {
      Collectd.decode(Array[Byte](0, 0, 0, 2)) // part len 2 < 4
    }
    intercept[IllegalArgumentException] {
      val ok = Collectd.encode(Seq(Collectd.Metric("h", "p", "", "gauge",
        "", 1L, 0, Seq(1.0))))
      Collectd.decode(ok.dropRight(1)) // truncated values payload
    }

    val probe = new java.net.DatagramSocket(0)
    val port = probe.getLocalPort
    probe.close()
    val rows = graft.sources.Sources.collectdUdp(spark, port)
      .select(col("host"), col("plugin"), col("typ"), col("field"),
        col("value"))
    val q = rows.writeStream.format("memory").queryName("collectd_in")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      val packet = Collectd.encode(Seq(
        Collectd.Metric("web1", "cpu", "", "load", "", 1704067200L, 10,
          Seq(0.5, 0.25, 0.125)),
        Collectd.Metric("web1", "net", "eth0", "if_octets", "",
          1704067201L, 10, Seq(100.0, 200.0))))
      val deadline = System.currentTimeMillis + 30000
      var count = 0L
      while (count < 5 && System.currentTimeMillis < deadline) {
        val sock = new java.net.DatagramSocket()
        try sock.send(new java.net.DatagramPacket(packet, packet.length,
          java.net.InetAddress.getByName("127.0.0.1"), port))
        finally sock.close()
        Thread.sleep(300)
        count = spark.table("collectd_in").count()
      }
      assert(count >= 5, s"collectd rows: $count")
    } finally q.stop()
    val got = spark.table("collectd_in")
      .as[(String, String, String, String, Double)].collect().toSet
    assert(got == Set(
      ("web1", "cpu", "load", "shortterm", 0.5),
      ("web1", "cpu", "load", "midterm", 0.25),
      ("web1", "cpu", "load", "longterm", 0.125),
      ("web1", "net", "if_octets", "rx", 100.0),
      ("web1", "net", "if_octets", "tx", 200.0)))
  }

  test("windowed streaming aggregation with watermark emits closed windows") {
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "tag", "value")
    val agg = df.withWatermark("ts", "10 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("tag"))
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      in.addData(
        (t("2024-01-01 00:00:05"), "a", 1.0),
        (t("2024-01-01 00:00:10"), "a", 2.0),
        (t("2024-01-01 00:00:30"), "b", 5.0))
      q.processAllAvailable()
      // advance watermark past the first window so it closes
      in.addData((t("2024-01-01 00:02:30"), "a", 9.0))
      q.processAllAvailable()
      in.addData((t("2024-01-01 00:05:00"), "a", 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("win_out")
      .select(col("window.start").cast("string"), col("tag"), col("n"), col("sv"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(rows.contains(("2024-01-01 00:00:00", "a", 2L, 3.0)))
    assert(rows.contains(("2024-01-01 00:00:00", "b", 1L, 5.0)))
  }

  test("incremental minhash dedup: keeper survives batches, dups emit per band") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[BandSig]
    val out = Stateful.minhashDedupStream(spark, in.toDS())
    val q = out.writeStream.format("memory").queryName("mh_dedup")
      .outputMode("append").start()
    try {
      // batch 1: docs 1 and 2 collide in band 0; doc 3 alone in band 1
      in.addData(BandSig(0, "sigA", 1L), BandSig(0, "sigA", 2L),
        BandSig(1, "sigX", 3L))
      q.processAllAvailable()
      // batch 2: doc 9 collides with the REMEMBERED keeper of band 0
      // and with doc 3 in band 1; a fresh sig emits nothing
      in.addData(BandSig(0, "sigA", 9L), BandSig(1, "sigX", 9L),
        BandSig(2, "sigQ", 9L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("mh_dedup").as[DupOut].collect().toSet
    assert(got == Set(DupOut(0, 1L, 2L), DupOut(0, 1L, 9L),
      DupOut(1, 3L, 9L)))
  }
}
