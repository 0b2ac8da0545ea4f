package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry

/** Physical-plan shape assertions — the properties that decide whether a
  * plan survives a 100 TB scale-up (SURVEY §4.2): filters reach the
  * parquet scan, projections prune the read schema, enrichment joins
  * broadcast instead of shuffling the fact side, and hot paths stay
  * inside whole-stage codegen.
  */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def planOf(name: String): String = {
    val df = Registry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("fanOut spreads a split-starved scan; identity when well-split or streaming") {
    // r16: single-row-group parquet plans as ONE task, so every
    // expression-heavy map chain downstream ran single-threaded; fanOut
    // repartitions to the session parallelism ONLY in that deficit case
    import org.apache.spark.sql.functions.col
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try {
      val target = 16
      val starved = graft.model.Tables.documents(spark, sf)
      assert(starved.rdd.getNumPartitions * 4 < target,
        "fixture not split-starved; test premise broken")
      val spread = graft.model.Tables.fanOut(starved, col("doc_id"))
      assert(spread.rdd.getNumPartitions == target,
        s"expected $target partitions, got ${spread.rdd.getNumPartitions}")
      // result-identity: same multiset of rows
      assert(spread.count() == starved.count())
      assert(spread.select("doc_id").exceptAll(starved.select("doc_id")).isEmpty)
      // well-split input: fanOut must be the identity (no extra exchange)
      val wide = starved.repartition(target, col("doc_id"))
      assert(graft.model.Tables.fanOut(wide, col("doc_id")) eq wide)
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
    // streaming input: must pass through untouched (no .rdd probe)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Long]
    val sdf = mem.toDS().toDF("doc_id")
    assert(graft.model.Tables.fanOut(sdf, col("doc_id")) eq sdf)
  }

  test("WHERE predicates push down to the parquet scan") {
    val plan = planOf("s04_where_cond")
    assert(plan.contains("PushedFilters: [Or(And(GreaterThan(value"), plan.take(2000))
  }

  test("allowlist projection prunes the parquet read schema") {
    val plan = planOf("f_record_modifier")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("p_partkey") && readSchema.contains("p_brand"))
    assert(!readSchema.contains("p_name") && !readSchema.contains("p_retailprice"),
      readSchema)
  }

  test("enrichment joins broadcast the dimension side") {
    val plan = planOf("f_kubernetes_enrich")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), "dim join must not shuffle the fact side")
  }

  test("dedup LSH candidate generation is an equi-join, not a cross join") {
    val plan = planOf("x_dedup_minhash")
    assert(!plan.contains("CartesianProduct"), "LSH banding must join on (band, sig)")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("shingle generation is narrow: no window sort before aggregation") {
    val plan = planOf("x_dedup_minhash")
    assert(!plan.contains("Window"), "shingles must not use a window function")
  }

  test("minhash signatures hash-aggregate (numeric family, no sort)") {
    val plan = planOf("x_dedup_minhash")
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(!plan.contains("SortAggregate"),
      "numeric min() must stay a HashAggregate; string min forces SortAggregate")
  }

  test("brute-force similarity scan stays in whole-stage codegen") {
    val df = Registry.queries("x_sim_cosine_topk")(spark, sf)
    df.collect() // finalize THIS adaptive plan so codegen stages materialize
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen stages in executedPlan.toString
    assert(plan.contains("*("), plan.take(2000))
    // the corpus side streams through a broadcast join of the tiny query set
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("top-k selection is WindowGroupLimit, not unbounded aggregation buffers") {
    for (q <- Seq("x_sim_cosine_topk", "x_ann_ivf_search", "x_dedup_embed")) {
      val plan = planOf(q)
      assert(plan.contains("WindowGroupLimit"),
        s"$q top-k must keep per-partition state at k rows:\n" + plan.take(3000))
      assert(!plan.contains("ObjectHashAggregate"),
        s"$q must not buffer whole groups in collect_list")
    }
  }

  test("bucketed tables join with no exchange on either side") {
    val docs = Registry.queries("x_dedup_exact")(spark, sf) // any keyed frame
      .select("keep_id", "n_dups")
    val dir = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    docs.write.mode("overwrite").option("path", s"$dir/a")
      .bucketBy(4, "keep_id").sortBy("keep_id").saveAsTable("docs_a")
    docs.withColumnRenamed("n_dups", "n2").write.mode("overwrite").option("path", s"$dir/b")
      .bucketBy(4, "keep_id").sortBy("keep_id").saveAsTable("docs_b")
    val j = spark.table("docs_a").join(spark.table("docs_b"), "keep_id")
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      "co-located bucketed join must not shuffle:\n" + plan.take(2500))
    spark.sql("DROP TABLE docs_a"); spark.sql("DROP TABLE docs_b")
  }

  test("throttle partitions by (key, pane), never globally") {
    val df = Registry.queries("f_throttle")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning"), plan.take(2000))
    assert(!plan.contains("rangepartitioning"),
      "pane ranking must not trigger a global sort")
  }

  test("kmeans final assignment is map-only: no join, no exchange at all") {
    // training holds centroids as driver model state; the assignment is
    // a fused argmax against k literal centroids — the plan after
    // training must be nothing but scan → project
    val plan = planOf("x_ann_kmeans")
    for (bad <- Seq("Join", "CartesianProduct", "Exchange", "Window"))
      assert(!plan.contains(bad),
        s"kmeans assignment must be map-only, found $bad:\n" + plan.take(3000))
    assert(plan.contains("*("), "assignment argmax must stay in codegen")
  }

  test("repetition/pii text operators are map-only: no exchange at all") {
    for (q <- Seq("x_text_repetition", "x_text_pii")) {
      val plan = planOf(q)
      for (bad <- Seq("Exchange", "Join", "Window", "Aggregate"))
        assert(!plan.contains(bad),
          s"$q must be a pure projection, found $bad:\n" + plan.take(2000))
      assert(plan.contains("*("), s"$q must stay in whole-stage codegen")
    }
  }

  test("quantized top-k packs vectors as binary and scores in codegen") {
    val df = Registry.queries("x_ann_quantized")(spark, sf)
    df.collect() // finalize the adaptive plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("quantize_bytes"),
      "vectors must pack to one byte per dim:\n" + plan.take(3000))
    assert(plan.contains("byte_dot_product"),
      "scoring must be the integer byte-loop kernel:\n" + plan.take(3000))
    // no array<double> materialization per scored pair: the only
    // projection between the join and the top-k carries binary columns
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("*("), "the scan must stay in whole-stage codegen")
  }

  test("pq search scores 8-byte codes via the ADC kernel, broadcast query") {
    val df = Registry.queries("x_ann_pq")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pq_encode"),
      "codes must byte-pack to m bytes per vector:\n" + plan.take(3000))
    assert(plan.contains("pq_adc_score"),
      "scoring must be the LUT-sum kernel, not a dot product:\n" + plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
           plan.contains("BroadcastExchange"),
      "the query side must broadcast — the corpus never shuffles pre-topk:\n" +
        plan.take(3000))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("*("), "the code scan must stay in codegen")
  }

  test("ivf-pq fuses encode into the assignment pass: one corpus window") {
    val df = Registry.queries("x_ann_ivfpq")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pq_encode") && plan.contains("pq_adc_score"),
      plan.take(3000))
    // the code must ride the assignment window as payload — a separate
    // encode pass joined back on id would be a second corpus shuffle
    val nJoins = "SortMergeJoin".r.findAllIn(plan).size +
      "ShuffledHashJoin".r.findAllIn(plan).size
    assert(nJoins == 0,
      s"corpus must not shuffle-join with itself ($nJoins found):\n" +
        plan.take(3000))
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("tfidf per-doc top-k is WindowGroupLimit, not a global sort") {
    val plan = planOf("x_tfidf_keywords")
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert(!plan.contains("rangepartitioning"),
      "per-doc ranking must not trigger a global sort:\n" + plan.take(2000))
  }

  test("ngram census top-k is TakeOrdered, not a global sort") {
    val plan = planOf("x_text_ngrams")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(plan.contains("HashAggregate"),
      "ngram counting must hash-aggregate with map-side combine")
  }

  test("hash split is map-only: no exchange anywhere") {
    val plan = planOf("x_split_hash")
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("media sniffer runs map-only inside whole-stage codegen") {
    // codegen'd operators print with the "*(stage)" star prefix
    val plan = planOf("x_multimodal_headers")
    assert(plan.contains("*(1) Project") || plan.contains("WholeStageCodegen"),
      plan.take(1500))
    assert(!plan.contains("Exchange"), "header sniffing must not shuffle")
  }

  test("es bulk decode is the single-pass scanner, not an aggregate fold") {
    // the fixture body-building aggregate makes the plan AQE-staged, so
    // assert the operator choice rather than the codegen span: the
    // es_bulk_scan expression feeds the Generate, and no higher-order
    // aggregate() fold remains in the decode path
    val plan = planOf("f_es_bulk_ingest")
    assert(plan.contains("es_bulk_scan"), plan.take(1500))
    assert(!plan.contains("aggregate(filter(split("),
      "the O(lines^2) HOF fold must be gone")
  }

  test("classifier scoring is map-only: no explode, no exchange") {
    // fasttext-shaped filtering must run in the same stage as the scan
    // at 100 TB — the weight sum folds over the token array in place
    val plan = planOf("x_quality_classifier")
    for (bad <- Seq("Exchange", "Join", "Window", "Generate"))
      assert(!plan.contains(bad),
        s"classifier must be a pure projection, found $bad:\n" +
          plan.take(2000))
  }

  test("contamination check broadcasts the benchmark n-gram set") {
    // the corpus side is the 100 TB side — it must never shuffle its
    // n-gram stream to meet the (fixed-size) benchmark suite
    val plan = planOf("x_text_contamination")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "benchmark join must broadcast, not sort-merge:\n" + plan.take(3000))
  }

  test("domain quota collapses to WindowGroupLimit with bounded map-side state") {
    // rn <= cap over a hash-ordered window must trigger
    // InferWindowGroupLimit: every map task holds at most cap rows per
    // domain BEFORE the shuffle, so one hot domain cannot concentrate
    // its full row set on a single reducer
    val plan = planOf("x_curate_domains")
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("hashpartitioning"), plan.take(2000))
    assert(!plan.contains("rangepartitioning"),
      "quota ranking must not trigger a global sort")
  }

  test("dsir scoring pass is map-only: broadcast count tables, no explode") {
    // the two bucketed-count tables are literal model state; scoring the
    // corpus side (the 100 TB side) must fold each doc's gram array in
    // place — no Generate, no join against the distributions, no shuffle
    val plan = planOf("x_dsir_weights")
    for (bad <- Seq("Exchange", "Join", "Generate", "Window"))
      assert(!plan.contains(bad),
        s"dsir scoring must be a pure projection, found $bad:\n" +
          plan.take(2000))
  }

  test("service graph: trace-only co-partitioned join under the shared session") {
    // both sides cluster by trace alone (Observability.serviceGraph), so
    // with requireAllClusterKeysForCoPartition=false the join reuses
    // those exchanges instead of reshuffling on (trace_id, parent_span_id).
    // Broadcast off: at sf0.001 the child side would fit a broadcast,
    // while at bench scale the join is a shuffle join.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    val plan = try planOf("x_obs_service_graph") finally spark.conf.set(key, saved)
    assert(plan.contains("SortMergeJoin"), plan.take(3000))
    val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(!exchanges.exists(e => e.contains("parent_span_id") || e.contains("p_span")),
      plan.take(3000))
    // the window's trace exchange, the parents' repartition, the edge agg
    assert(exchanges.size == 3, s"hash exchanges ${exchanges.size}:\n" + plan.take(3000))
  }

  test("token-budget mix shuffles once on the group key") {
    val plan = planOf("x_mix_budget")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n" +
      plan.take(2500))
    assert(!plan.contains("rangepartitioning"),
      "running sum must partition by group, never globally sort")
  }

  test("semantic dedup: no pair materialization, cell-bounded expression") {
    val plan = planOf("x_dedup_semantic")
    assert(!plan.contains("CartesianProduct"),
      "pairwise cosine must stay bounded by the cell:\n" + plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // the m² inner loop runs inside cell_max_cosine over the collected
    // cell — the plan must contain NO self-join at all (the old shape
    // materialized m² rows of duplicated vectors)
    assert(plan.contains("cell_max_cosine"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"),
      "cell pass must not self-join:\n" + plan.take(3000))
  }

  test("scaled semantic dedup: NearestCell assignment, no joins at all") {
    val plan = planOf("x_dedup_semantic_scaled")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin",
                    "SortMergeJoin", "BroadcastHashJoin"))
      assert(!plan.contains(bad),
        s"scaled cell pass must be map-only + one cell shuffle, found " +
          s"$bad:\n" + plan.take(3000))
    assert(plan.contains("nearest_cell"),
      "assignment must run through the NearestCell kernel (plan O(1) " +
        "in k):\n" + plan.take(3000))
    assert(plan.contains("cell_max_cosine"), plan.take(3000))
  }

  test("c4 line cleaning and gopher rules are map-only projections") {
    // both filters must compose into the single corpus scan at 100 TB:
    // the line rules fold over split(text) in place, the quality rules
    // fold over the word array — no explode, no shuffle, no join
    for (q <- Seq("x_text_c4_clean", "x_text_gopher")) {
      val plan = planOf(q)
      for (bad <- Seq("Exchange", "Join", "Generate", "Window", "Aggregate"))
        assert(!plan.contains(bad),
          s"$q must be a pure projection, found $bad:\n" + plan.take(2000))
    }
  }

  test("bloom decontamination probe is map-only: literal bitset, no join") {
    // the benchmark bitset is a literal in the plan; the 100 TB corpus
    // side must probe it as a pure projection — no explode of corpus
    // grams, no distinct shuffle, no join against the bench set
    val plan = planOf("x_contamination_bloom")
    for (bad <- Seq("Exchange", "Join", "Generate", "Window", "Aggregate"))
      assert(!plan.contains(bad),
        s"bloom probe must be a pure projection, found $bad:\n" + plan.take(2000))
  }

  test("crawl pipeline: gate composes into the scan, only builder+dedup shuffle") {
    // extract + gopher gate must stay inside the record scan (no
    // self-join); the only exchanges are the segment builder's groupBy
    // (test-side synthesis), the builder's 16-row segment spread (r16:
    // keeps each blob's scanner on its own core — AQE otherwise
    // coalesces the whole downstream chain onto one task) and the
    // dedup window — 3 total
    val plan = planOf("x_crawl_pipeline")
    assert(!plan.contains("Join"), "gate must not self-join:\n" + plan.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 3, s"expected builder+spread+dedup shuffles only, got $exchanges:\n" +
      plan.take(3000))
  }

  test("html extraction is a map-only projection with the entity scanner inline") {
    val plan = planOf("x_html_extract")
    assert(plan.contains("html_unescape"), plan.take(2000))
    for (bad <- Seq("Exchange", "Join", "Generate", "Window", "Aggregate"))
      assert(!plan.contains(bad),
        s"html extract must be a pure projection, found $bad:\n" + plan.take(2000))
  }

  test("url blocklist joins broadcast; the corpus side never shuffles") {
    val plan = planOf("x_url_filter")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning"),
      "the 100 TB side must not shuffle for an MB-scale blocklist:\n" +
        plan.take(3000))
  }

  test("sequence packing shuffles once on the shard key, never globally sorts") {
    // chunk arithmetic must ride the per-shard window — a global sort
    // (rangepartitioning) would serialize the 100 TB token stream
    // through one ordering instead of nShards independent ones
    val plan = planOf("x_pack_sequences")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly one shuffle, got $exchanges:\n" +
      plan.take(2500))
    assert(!plan.contains("rangepartitioning"), plan.take(2500))
  }

  test("unicode clean is a map-only projection with the nfc expression inline") {
    // the ftfy pass must compose into the single 100 TB corpus scan:
    // nfc_normalize is a codegen expression, the rest is regexp_replace
    // — no explode, no shuffle, no join
    val plan = planOf("x_text_unicode")
    assert(plan.contains("nfc_normalize"), plan.take(2000))
    for (bad <- Seq("Exchange", "Join", "Generate", "Window", "Aggregate"))
      assert(!plan.contains(bad),
        s"unicode clean must be a pure projection, found $bad:\n" + plan.take(2000))
  }

  test("warc ingest scans each segment once, inside codegen") {
    // parsing must be the warc_scan single-pass expression feeding
    // Generate; the only shuffles are the segment-builder groupBy (the
    // test-side synthesis) and its 16-row segment spread (r16) —
    // segments themselves are embarrassingly parallel, the axis a
    // 64k-file crawl dump scales on
    val plan = planOf("x_warc_ingest")
    assert(plan.contains("warc_scan"), plan.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected builder+spread shuffles only, got $exchanges:\n" +
      plan.take(2500))
  }

  test("interval join stays an equi-join: range is a filter, never BNLJ") {
    val plan = planOf("x_interval_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(2500))
  }

  test("hll register build: codegen kernel, one bounded exchange") {
    // the production sketch path: hll_bucket_rank inline in the scan
    // projection, partial max per partition, and the only exchange
    // carries ≤ m rows per partition — no key-cardinality shuffle
    val plan = planOf("x_sketch_hll_build")
    assert(plan.contains("hll_bucket_rank"), plan.take(3000))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected one bounded exchange, got $exchanges:\n" +
      plan.take(3000))
  }

  test("asof join is a merge: one keyed window, no join node at all") {
    // the range-join formulation would show a BroadcastNestedLoop or a
    // per-key quadratic probe; the merge formulation is union → ONE
    // hash exchange on the key → one Window carrying the payload
    val plan = planOf("x_asof_join")
    assert(!plan.contains("Join"), plan.take(2500))
    assert(plan.contains("Window"), plan.take(2500))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected one key exchange, got $exchanges:\n" +
      plan.take(2500))
  }

  test("fuzzy join prunes through the gram equi-join, never a cross product") {
    val plan = planOf("x_fuzzy_join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop"), plan.take(2500))
    assert(plan.contains("levenshtein"), plan.take(2500))
  }

  test("paragraph dedup counts occurrences on the 8-byte hash") {
    // the corpus-wide occurrence count must group on xxhash64(chunk),
    // so the counting shuffle carries 8-byte hashes, not paragraph
    // bodies; the text crosses the network once, in the doc-keyed
    // reassembly join
    val plan = planOf("x_dedup_paragraph")
    assert(plan.contains("xxhash64"), plan.take(2000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(2000))
  }

  test("sliding distinct explodes panes map-side, no join anywhere") {
    val plan = planOf("x_obs_sliding_distinct")
    assert(!plan.contains("Join"), plan.take(2500))
    assert(plan.contains("Generate"), "pane explode must be a Generate")
  }

  test("quantile normalize joins rank-to-value as an equi-join, no range probe") {
    // the only nested-loop allowed is the 1-row scalar total broadcast;
    // the rank→value mapping itself must be a hash equi-join on g
    val plan = planOf("x_quantile_normalize")
    assert(!plan.contains("CartesianProduct"), plan.take(2500))
    assert(plan.contains("HashJoin [g"), plan.take(2500))
  }

  test("compaction planning is one ledger window, no self-join") {
    val plan = planOf("x_layout_compaction")
    assert(!plan.contains("Join"), plan.take(2500))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"ledger agg + series window only, got $exchanges")
  }

  test("drift TVD builds both period histograms in ONE aggregate pass") {
    val plan = planOf("x_drift_tvd")
    assert(!plan.contains("Join"), plan.take(2500))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single events scan, got $scans")
  }

  test("kmv quantile sample is TakeOrdered: values never shuffle, no global sort") {
    val plan = planOf("x_sketch_quantile_kmv_sample")
    assert(plan.contains("TakeOrderedAndProject"),
      "bottom-k must be per-partition heaps + driver merge:\n" + plan.take(3000))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single events scan, got $scans")
    // no exchange below the TakeOrdered — the only data movement for the
    // full input is the k-row driver merge (the post-sample rank window
    // runs on <= k rows)
    assert(!plan.contains("Exchange hashpartitioning"),
      "full input must not shuffle:\n" + plan.take(3000))
  }

  test("grouped kmv sample is WindowGroupLimit: k rows per group map-side") {
    val plan = planOf("x_sketch_quantile_grouped")
    assert(plan.contains("WindowGroupLimit"),
      "per-group bottom-k must bound map-side state at k rows:\n" +
        plan.take(3000))
    // one shuffle on the group key (both windows and the count reuse it)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected one group-key exchange, got $exchanges:\n" +
      plan.take(3000))
  }

  test("cidr enrichment: ONE map-only LPM projection, zero joins, fact side never shuffles") {
    val plan = planOf("x_enrich_cidr")
    // the r13 rework: the per-plen broadcast join chain collapsed into a
    // single codegen'd cidr_lpm binary-search lookup — no join operator
    // of any kind may appear
    assert(!plan.contains("Join"), "LPM must be join-free:\n" + plan.take(3000))
    assert(plan.contains("cidr_lpm"), "expected the cidr_lpm lookup:\n" +
      plan.take(3000))
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected a single events scan, got $scans")
    // the ONLY exchange is the final bounded (plen, label) rollup
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected only the final rollup exchange, got $exchanges:\n" +
      plan.take(3000))
  }

  test("skyline is two scan passes, no join, one survivor exchange") {
    val plan = planOf("x_olap_skyline")
    assert(!plan.contains("Join"), "skyline must never join:\n" + plan.take(3000))
    // phase 1 prunes partition-local; only survivors cross the single
    // repartition(1) exchange
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one part scan, got $scans")
    assert("MapPartitions".r.findAllIn(plan).length == 2,
      "expected the local + global dominance scans:\n" + plan.take(3000))
  }

  test("dq constraints: FK verdict broadcasts, no Expand anywhere") {
    val plan = planOf("x_dq_constraints")
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(3000))
    // the r13 lesson: countDistinct next to row-local sums Expands
    // every row ×2 — the split form must never reintroduce it
    assert(!plan.contains("Expand"), "row-local checks must stay Expand-free")
  }

  test("table diff is ONE shuffle-hash full-outer join, no sort") {
    val plan = planOf("x_table_diff")
    assert(plan.contains("ShuffledHashJoin") && plan.contains("FullOuter"),
      plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), "FOJ must not pay two sorts:\n" +
      plan.take(3000))
  }

  test("acf: one series-keyed window feeds all three lag pairs") {
    val plan = planOf("x_series_acf")
    assert("Window".r.findAllIn(plan).length >= 1)
    assert(!plan.contains("Join"), "lags come from lead(), never a self-join")
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"expected one events scan, got $scans")
  }

  test("blob delivery: chunk schedule is map-only; ONE manifest exchange") {
    val plan = planOf("f_blob_delivery")
    // part explosion must be Generate (codegen sequence+explode), and the
    // only shuffle is the per-blob manifest aggregation — payloads (the
    // 100 TB term) never cross the network
    assert(plan.contains("Generate"), plan.take(2000))
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 manifest exchange, got $exchanges:\n" +
      plan.take(3000))
    assert(!plan.contains("Join"), "no join anywhere in delivery")
  }

  test("yaml pipeline: grep predicate folds into the scan stage") {
    val plan = planOf("f_yaml_pipeline")
    // the config-declared rlike filter must run inside whole-stage
    // codegen over the scan, not as a post-union interpreted pass
    assert(plan.contains("Filter"), plan.take(2000))
    assert(plan.contains("RLIKE") || plan.contains("rlike"), plan.take(3000))
    assert(!plan.contains("Exchange"),
      "a filter+modify pipeline is map-only — no shuffle:\n" + plan.take(3000))
  }

  // The access-shaped config chain: two tail inputs → parser → grep →
  // modify → rewrite_tag → file json and loki.
  private val accessRegex =
    """^(?<host>[^ ]*) [^ ]* (?<user>[^ ]*) \[(?<time>[^\]]*)\] "(?<method>\S+) (?<path>[^ ]*) [^"]*" (?<code>[^ ]*) (?<size>[^ ]*) "(?<referer>[^"]*)" "(?<agent>[^"]*)"$"""

  private def accessInputs(): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_access_plan")
    def write(name: String, lines: String*): String = {
      val f = dir.resolve(name)
      java.nio.file.Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      f.toString
    }
    (write("access.log",
      """10.0.0.1 - alice [10/Oct/2024:13:55:36 +0000] "GET /a HTTP/1.1" 200 12 "-" "curl"""",
      """10.0.0.2 - bob [10/Oct/2024:13:55:37 +0000] "GET /b HTTP/1.1" 502 0 "-" "curl""""),
     write("app.log", "started", "ready"))
  }

  /** The access chain's outputs, assembled from the config frontend. */
  private def accessChain(): Map[String, org.apache.spark.sql.DataFrame] = {
    import graft.config.ClassicConfig
    val (access, app) = accessInputs()
    ClassicConfig.assemble(spark,
      s"""[INPUT]
         |    name tail
         |    path $access
         |    tag  web.access
         |[INPUT]
         |    name tail
         |    path $app
         |    tag  app.log
         |[PARSER]
         |    name   apache
         |    format regex
         |    regex  $accessRegex
         |[FILTER]
         |    name     parser
         |    match    web.*
         |    key_name value
         |    parser   apache
         |[FILTER]
         |    name    grep
         |    match   web.*
         |    exclude path ^/healthz
         |[FILTER]
         |    name   modify
         |    match  web.*
         |    rename host remote_addr
         |    add    env prod
         |[FILTER]
         |    name  rewrite_tag
         |    match web.*
         |    rule  $$code ^(5..)$$ err.$$1 false
         |[OUTPUT]
         |    name   file
         |    match  *
         |    format json
         |[OUTPUT]
         |    name   loki
         |    match  err.*
         |    labels job=fluentbit,code=$$code
         |""".stripMargin)
  }

  test("config filter chain: one scan leaf per [INPUT] in every output's plan") {
    val outs = accessChain()
    assert(outs.keySet == Set("file:*", "loki:err.*"))
    outs.foreach { case (id, df) =>
      val leaves = df.queryExecution.analyzed.collectLeaves()
      assert(leaves.size == 2, s"$id: ${leaves.size} leaves")
      val scans = df.queryExecution.optimizedPlan.collectLeaves()
      assert(scans.size == 2, s"$id: ${scans.size} scans")
    }
    val tags = outs("file:*").select("tag").collect().map(_.getString(0)).sorted
    assert(tags.toSeq == Seq("app.log", "app.log", "err.502", "web.access"))
  }

  test("config filter chain: one Apache match per output, gated by Match, no filter on it") {
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression, Literal, StartsWith}
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import graft.functions.RegexGroups
    def matches(e: Expression): Int = e.collect { case _: RegexGroups => 1 }.size
    accessChain().foreach { case (id, df) =>
      val plan = df.queryExecution.optimizedPlan
      val holders = plan.collect { case n if n.expressions.exists(matches(_) > 0) => n }
      assert(holders.map(_.expressions.map(matches).sum) == Seq(1),
        s"$id: regex_groups outside one node\n$plan")
      // the match is the generator's, so no filter holds it: pushdown
      // would inline one match per reference into the grep's filter
      val gen = holders.head
      assert(gen.isInstanceOf[Generate], s"$id: match in ${gen.nodeName}\n$plan")
      // app.log records fail the gate, so they never run the match
      val gates = gen.expressions.flatMap(_.collect {
        case CaseWhen(Seq((StartsWith(_, Literal(p, _)), v)), _) if matches(v) > 0 => p.toString
      })
      assert(gates == Seq("web."), s"$id: match not gated by Match web.*\n$plan")
    }
  }

  test("byte kernels: the access parser and the [A-Z]+ shapes scan bytes, an optional group keeps java.util.regex") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.RegexGroups
    accessChain().foreach { case (id, df) =>
      val scanners = df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case r: RegexGroups => r.scanner != null
      }))
      assert(scanners == Seq(true), s"$id: $scanners")
    }
    def scans(pattern: String) = RegexGroups(Literal(""), pattern, Seq(1)).scanner != null
    assert(scans("""^(?<method>[A-Z]+) (?<uri>\S+) (?<status>\d+) (?<bytes>\d+)$"""))
    assert(scans("""^(?<method>[A-Z]+) (?<path>\S+)"""))
    assert(!scans("""^(?<method>[A-Z]+) (?<path>\S+)(?: (?<note>.+))?$"""))
  }

  test("json outputs: Match * writes its line as bytes with no to_json, the loki body is unchanged") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, StructsToJson}
    import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
    import org.apache.spark.sql.catalyst.expressions.objects.Invoke
    import graft.functions.JsonLineBytes
    def count(df: org.apache.spark.sql.DataFrame)(pf: PartialFunction[Expression, Unit]): Int =
      df.queryExecution.optimizedPlan.map(_.expressions.map(_.collect(pf).size).sum).sum
    def toJson(df: org.apache.spark.sql.DataFrame) = count(df) {
      case _: StructsToJson => ()
      case Invoke(Literal(_: StructsToJsonEvaluator, _), _, _, _, _, _, _, _) => ()
    }
    def bytes(df: org.apache.spark.sql.DataFrame) = count(df) { case _: JsonLineBytes => () }
    val outs = accessChain()
    assert(toJson(outs("file:*")) == 0 && bytes(outs("file:*")) == 1, outs("file:*").queryExecution.optimizedPlan)
    // the loki line is written as bytes inside today's to_json entry and label encoders
    val loki = outs("loki:err.*")
    assert(bytes(loki) == 1 && toJson(loki) == 2, loki.queryExecution.optimizedPlan)
    assert(loki.collect().map(_.getString(0)).toSeq == Seq(
      """{"streams":[{"stream":{"job":"fluentbit","code":"502"},"values":[["0",""" +
        """"{\"remote_addr\":\"10.0.0.2\",\"user\":\"bob\",\"time\":\"10/Oct/2024:13:55:37 +0000\",""" +
        """\"method\":\"GET\",\"path\":\"/b\",\"code\":\"502\",\"size\":\"0\",\"referer\":\"-\",""" +
        """\"agent\":\"curl\",\"env\":\"prod\"}"]]}]}"""))
  }

  test("wildcard routes run no regex: Match * is a null check, prefix.* a StartsWith") {
    import org.apache.spark.sql.catalyst.expressions.{IsNotNull, Like, RLike, StartsWith}
    accessChain().foreach { case (id, df) =>
      val plan = df.queryExecution.optimizedPlan
      val onTag = plan.flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: RLike | _: Like) if e.references.exists(_.name == "tag") => e
      }))
      assert(onTag.isEmpty, s"$id: $onTag")
    }
    import org.apache.spark.sql.functions.col
    import graft.route.Router
    def expr(pattern: String) = spark.range(1).selectExpr("'a.b' AS tag")
      .filter(Router.tagMatch(col("tag"), pattern)).queryExecution.analyzed
      .collectFirst { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition }.get
    assert(expr("*").isInstanceOf[IsNotNull])
    assert(expr("web.*").isInstanceOf[StartsWith])
    assert(expr("/^web.*/").isInstanceOf[RLike])
  }

  test("rewrite_tag hops add a fixed number of regexes to the optimized plan") {
    // the same chain from the ops the config frontend calls, since a
    // config cannot set the hop bound
    import org.apache.spark.sql.catalyst.expressions.{RLike, RegExpExtract}
    import graft.functions.RegexGroups
    import org.apache.spark.sql.functions._
    import graft.ops.{Grep, Modify, RewriteTag}
    import graft.route.Router
    val (access, app) = accessInputs()
    val in = spark.read.text(access).withColumn("tag", lit("web.access"))
      .unionByName(spark.read.text(app).withColumn("tag", lit("app.log")))
    val web = Router.tagMatch(col("tag"), "web.*")
    val parsed = graft.parse.Parsers.regex(in, col("value"), accessRegex)
    val chain = Modify(Grep(parsed, Seq(Grep.Rule(col("path"), "^/healthz", exclude = true))),
      Seq(Modify.Rename("host", "remote_addr"), Modify.Add("env", lit("prod"))))
    val rule = RewriteTag.Rule(col("code"), "^(5..)$",
      concat(lit("err."), RewriteTag.capture(col("code"), "^(5..)$", 1)), keep = false, gate = web)
    def regexes(hops: Int): Int = {
      val routed = Router.route(RewriteTag.reinjectLoop(chain, "tag", Seq(rule), hops), "tag", "*")
      val out = routed.select(graft.sinks.Formats.jsonLine(
        routed.columns.filterNot(_ == "tag").toSeq.map(c => c -> col(c))))
      out.queryExecution.optimizedPlan.map(_.expressions.map(_.collect {
        case _: RLike | _: RegExpExtract | _: RegexGroups => 1
      }.size).sum).sum
    }
    val counts = (1 to 5).map(regexes)
    val step = counts(1) - counts(0)
    assert(counts.zipWithIndex.forall { case (c, i) => c == counts(0) + i * step },
      s"not linear in hops: $counts")
    // a hop holds the rule's RLIKE twice (in the new tag's condition and
    // the re-test flag, one common subexpression at run time) and its
    // capture once; the Match gate is a StartsWith
    assert(step == 3, s"regexes per hop: $counts")
  }
}
