package graft

import org.apache.spark.sql.SparkSession
import graft.queries.Registry

/** Dumps `explain("formatted")` of registry queries, planned in the
  * shared [[GraftSession]] so the plan is the one the bench runs.
  *
  * Usage:
  *   - `sbt "runMain graft.Explain <sfDir> EXPLAIN.md"`
  *     writes the headline queries into EXPLAIN.md — the human-readable
  *     record of the plan shapes PlanSpec asserts (pushdown, pruning,
  *     broadcast joins, codegen spans);
  *   - `sbt "runMain graft.Explain <sfDir> <outDir> <suffix> q1,q2,..."`
  *     writes `<outDir>/<q>_<suffix>.txt` for each named query — the
  *     optimization evidence trail (`plans/r16/<query>_before.txt`).
  */
object Explain {
  private val Headline = Seq(
    "s10_groupby_agg" -> "multi-aggregate GROUP BY (TPC-H q1 shape)",
    "f_record_modifier" -> "allowlist projection → pruned parquet scan",
    "f_kubernetes_enrich" -> "chained broadcast enrichment joins",
    "f_throttle" -> "(key, pane)-partitioned rate limiting",
    "s12_window_tumbling" -> "event-time tumbling window aggregation",
    "x_dedup_minhash" -> "MinHash-LSH candidate generation (numeric k=128 family, HashAggregate + equi-join banding)",
    "x_dedup_simhash_pairs" -> "simhash banded-hamming join (first-matching-band, no distinct)",
    "x_ann_ivf_search" -> "IVF nprobe=2 cell search (broadcast probes, per-cell candidates)",
    "x_sim_cosine_topk" -> "brute-force cosine top-k (codegen DotProduct)",
    "f_throttle_size" -> "admit-only byte throttle ((key,pane) repartition + one sorted pass)",
    "fql_agg_group" -> "FluentQL frontend → Catalyst aggregate",
    "x_ann_kmeans" -> "k-means final assignment (fused literal-centroid argmax — map-only, no join, no exchange)",
    "x_dedup_semantic_scaled" -> "adaptive-k SemDeDup (map-only nearest_cell assignment + one cell shuffle + cell_max_cosine — plan O(1) in k, no joins)",
    "x_ann_quantized" -> "scalar-quantized top-k (binary-packed vectors, codegen byte dot product)",
    "f_otlp_ingest_pb" -> "OTLP binary protobuf ingest (gzip + direct pb→rows decode, single message walk)",
    "x_text_ngrams" -> "corpus ngram census (codegen shingles → HashAggregate → TakeOrderedAndProject)",
    "f_es_bulk_ingest" -> "ES bulk decode (single-pass es_bulk_scan expression feeding Generate)",
    "x_multimodal_headers" -> "magic-byte media sniffing (map-only whole-stage codegen, no exchange)",
    "sink_otlp_metrics" -> "OTLP metrics encode→decode round trip (two keyed aggs, one body per resource)",
    "x_curate_domains" -> "per-domain quota (hash-priority WindowGroupLimit — bounded map-side state)",
    "x_dsir_weights" -> "DSIR importance scoring (literal count-table model state, map-only fold)",
    "x_warc_ingest" -> "WARC/WET segment scan (codegen warc_scan feeding Generate; segments embarrassingly parallel)",
    "x_html_extract" -> "HTML→text extraction (map-only strip chain + codegen entity scanner)",
    "x_crawl_pipeline" -> "crawl→corpus composition (scan→extract→gate in one projection; builder+segment-spread+dedup shuffles only)",
    "x_contamination_bloom" -> "Bloom decontamination probe (literal bitset, pure projection — no join/explode)",
    "x_pack_sequences" -> "sequence packing (per-shard window cumsum, exact div/mod — no global sort)",
    "x_ann_pq" -> "product-quantized ADC top-k (codegen encode kernel → 8-byte codes, per-query LUT sum)",
    "x_ann_ivfpq" -> "IVF-PQ search (map-only NearestCell + PqEncode corpus pass, broadcast probes, zero corpus shuffle pre-topk)",
    "x_lm_ppl_buckets" -> "CCNet perplexity thirds (histogram thresholds broadcast onto a map-only label)",
    "x_nb_classifier" -> "trained naive-Bayes scoring (literal posterior array, zero-shuffle fold)",
    "x_dedup_substring" -> "exact-substring dup detection (stride-sampled windows shuffled as 60-bit hashes)",
    "x_sketch_hll" -> "HyperLogLog distinct estimate (bounded-cardinality register aggregate, integer-exact estimator)",
    "x_sketch_quantile_kmv_sample" -> "KMV bottom-k quantile sketch (TakeOrdered per-partition heaps — full input never shuffles, rank pick on ≤k rows)",
    "x_sketch_quantile_grouped" -> "grouped KMV quantiles (WindowGroupLimit-bounded per-group bottom-k — k rows per group map-side, one group-key exchange)",
    "x_fuzzy_join" -> "edit-distance fuzzy join (gram-grouped pair expansion, id-only candidate stream, levenshtein verify)",
    "x_asof_join" -> "as-of join (merge form: union + one keyed window, zero join nodes)",
    "x_obs_rate" -> "PromQL counter rate (one series-keyed window; bucket agg partial-combines map-side)",
    "x_obs_service_graph" -> "span service graph (trace-keyed subset co-partitioned join — the child side reuses the window's exchange)",
    "x_obs_funnel" -> "3-stage funnel (ONE user-clustered sorted pass with O(1) carry state → 4-row depth rollup)",
    "x_obs_transitions" -> "first-order journey transitions (sorted pair-formation pass → |stages|² count aggregate)",
    "x_tda_threshold" -> "sliding-window persistent homology (rank-window bounds each group to 60 samples before the in-group reduction)",
    "x_obs_hdr_rollup" -> "HDR sketch rollup (fine histogram → cell-wise merge → exact-rank quantiles; raw values touched once)",
    "x_topk_heavyhitters" -> "two-pass heavy hitters (Md5Mod sample → candidate broadcast → exact verify; full key set never shuffles)",
    "x_search_postings" -> "positional inverted index (posexplode → term-sharded HashAggregate)",
    "x_search_boolean" -> "boolean retrieval (presence-flag aggregate, zero joins)",
    "x_graph_pagerank" -> "fixed-point PageRank (5 join-sum rounds, O(|V|) rank state)",
    "x_url_canonicalize" -> "URL canonicalization dedup (codegen string tree, one canonical-key window)",
    "x_scd2_join" -> "SCD2 dimension join (version-range filter on a keyed equi-join)",
    "x_olap_pivot" -> "pivot table (bounded column fan-out, map-side partials)",
    "x_series_gapfill" -> "gap-fill LOCF (gap rows generated from lag() neighbors — one scan, no calendar join)",
    "x_obs_sliding_distinct" -> "sliding exact distinct (map-side pane explode → one partial-distinct aggregate)",
    // x_graph_triangles pre-collects its 1-row result (cache hygiene) so
    // the registry plan is a LocalTableScan; the wedge-close plan pin
    // lives in TrianglesSpec via Triangles.lazyPlan

    "x_assoc_rules" -> "market-basket rules (apriori prune → map-side C(k,2) basket combos, no pair self-join)",
    "x_series_retention_ladder" -> "10m/1h/1d retention ladder (ONE scan via GROUPING SETS)",
    "x_quantile_normalize" -> "cross-source quantile normalization (distributed order-statistics explode, rank equi-join)",
    "x_drift_tvd" -> "distribution drift TVD (single-scan conditional-count histograms, cross-multiplied)",
    "x_split_leakage" -> "train/test leakage matrix (ShingleHash 60-bit grams, presence-flag aggregate — no join)",
    "x_join_bloom" -> "bloom-pruned semi-join (codegen BloomProbe projection on the fact scan → broadcast residual; one build action)",
    "x_text_pmi" -> "PMI collocations (codegen shingle counts, vocab-keyed joins after min-support prune, TakeOrderedAndProject)",
    "x_layout_stats_prune" -> "file-stats scan pruning (|files|-row stats aggregate; pruning decision touches stats only)",
    "x_enrich_cidr" -> "CIDR longest-prefix enrichment (ONE codegen'd binary-search lookup over a driver-built rule model — zero joins, fact side map-only)",
    "x_text_readability" -> "Flesch-Kincaid readability (map-only regexp counts, exact centi-grade integers)",
    "x_join_bloom_probe" -> "probe-only runtime filter (codegen BloomProbe inside the fact scan stage, no residual join — the map-side half in isolation)",
    "x_sketch_hll_setops_regs" -> "HLL set-ops production path (one bucket aggregate carries per-segment AND union registers; single estimator row)",
    "x_enrich_cidr6" -> "IPv6 CIDR longest-prefix enrichment (two-long unsigned binary-search lookup, zero joins)",
    "x_olap_skyline" -> "two-phase distributed skyline (per-partition Tungsten sort + O(1)-memory dominance scan, survivor union re-scanned once — no all-pairs join)",
    "x_dq_constraints" -> "DQ constraint suite (four row-local checks in ONE aggregate; FK verdict via anti-join — the only shuffle)",
    "x_table_diff" -> "snapshot reconciliation (ONE full-outer join on the key; change flags computed inside the join projection)",
    "x_tcloseness" -> "t-closeness ordered-EMD audit (grid-sized windows; 10-row global distribution broadcast)",
    "x_series_acf" -> "per-series autocorrelation (ONE series-keyed window feeds three lag pairs; moment sums partial-combine map-side)",
    "x_sketch_hll_sliding" -> "sliding distinct via pane-sketch merging (events aggregate once per pane; the window explode runs on register rows only)",
    "f_blob_delivery" -> "blob chunked delivery (codegen sequence+explode part schedule; ONE exchange of tiny manifest rows — payloads never shuffle)",
    "f_yaml_pipeline" -> "YAML-declared pipeline (config text → section IR → routed plan; grep rlike + modify projections fold into the scan stage)",
    "x_search_hybrid_rrf" -> "hybrid RRF retrieval (two bounded top-k legs union → integer-contribution aggregate → global order on ≤ legs·k rows — fusion is corpus-size-free)"
  )

  private def plan(spark: SparkSession, sfDir: String, name: String): String =
    Registry.queries(name)(spark, sfDir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  private def write(file: java.io.File, text: String): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try w.write(text) finally w.close()
    println(s"wrote $file")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession()
    if (args.length >= 4) {
      val (outDir, suffix) = (new java.io.File(args(1)), args(2))
      outDir.mkdirs()
      args(3).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        write(new java.io.File(outDir, s"${name}_$suffix.txt"), plan(spark, sfDir, name))
      }
    } else {
      val sb = new StringBuilder
      sb.append("# EXPLAIN — physical plans of headline queries\n\n")
      sb.append(s"Generated by `graft.Explain` at `$sfDir` (plan shapes are\n")
      sb.append("scale-independent; sizes only affect AQE thresholds).\n")
      Headline.foreach { case (name, desc) =>
        sb.append(s"\n## $name — $desc\n\n```\n")
        sb.append(plan(spark, sfDir, name).linesIterator.take(80).mkString("\n"))
        sb.append("\n```\n")
      }
      write(new java.io.File(args.lift(1).getOrElse("EXPLAIN.md")), sb.toString)
    }
    spark.stop()
  }
}
