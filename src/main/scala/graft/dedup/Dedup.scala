package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  * None of these exist in the reference (fluent-bit has no dedup) — they
  * are the north-star extensions (BASELINE.json) designed Spark-first for
  * the 100 TB case:
  *
  *   - exact: one shuffle on a 16-byte hash, not on the document text;
  *   - MinHash+LSH: shingle→minhash→band→bucket-join — candidate pairs
  *     come from an equi-join on (band, signature), so the shuffle key
  *     space is tiny and skew-free; never O(n²);
  *   - SimHash: 64-bit signature via xxhash64 bit-votes; near-dup pairs
  *     are exact-signature or banded-hamming joins;
  *   - exact n-gram Jaccard runs only on LSH candidates.
  *
  * Plan-shape invariants (checked via .explain during development):
  * shingle generation is NARROW (array slicing on the tokenized text, no
  * window/sort); minhash signatures aggregate elementwise-min map-side
  * as a HashAggregate over k numeric slots, so the only shuffle carries
  * (doc_id, k longs) — never the k-times exploded hash stream.
  */
object Dedup {

  /** Exact dedup: keep the first row (by `orderCol`) of each group of
    * identical `textCol` values. GroupBy on md5 keeps shuffle rows narrow
    * (hash + id, not the document body).
    */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val w = Window.partitionBy(md5(textCol)).orderBy(idCol)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Dup-group summary: content hash → representative id + cardinality. */
  def exactGroups(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol).as("content_hash"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles as (doc_id, shingle) rows. Narrow: one
    * codegen'd loop per document ([[graft.functions.WordShingles]]), no
    * window function, no shuffle, no per-document sort.
    */
  def shingles(df: DataFrame, idCol: Column, textCol: Column, n: Int): DataFrame =
    // fanOut (r16): the shingle explode and every per-shingle digest
    // downstream (k-way minhash) otherwise run inside the split-starved
    // scan's single task; identity at production split counts
    graft.model.Tables.fanOut(df.select(idCol.as("doc_id"), textCol.as("__t")),
        col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.wordShingles(col("__t"), n)).as("shingle"))

  /** Mersenne prime 2^31-1 — modulus of the universal hash family. */
  val P31 = 2147483647L

  /** Deterministic multiplier/offset pairs (a_i, b_i) for the universal
    * hash family, from a fixed-seed SplitMix64 — identical constants are
    * embedded in the DuckDB oracle SQL (ExtQueries regenerates them from
    * here). a_i ∈ [1, P31), b_i ∈ [0, P31).
    */
  def hashParams(k: Int): Seq[(Long, Long)] = {
    var s = 0x9E3779B97F4A7C15L
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      (z ^ (z >>> 31)) >>> 33 // top 31 bits, non-negative
    }
    (0 until k).map(_ => (next() % (P31 - 1) + 1, next() % P31))
  }

  /** MinHash signatures in wide form: (doc_id, mhs ARRAY<BIGINT> of k).
    * Universal hash family: ONE md5 per shingle yields a 31-bit base
    * value x = hex[0:8] mod P31; h_i(s) = (a_i·x + b_i) mod P31 — k
    * integer multiply-adds, no extra digests (the round-2 family needed
    * k/4 digests per shingle and string mins that forced SortAggregate).
    * Signature element i = min over shingles: NUMERIC min keeps the
    * aggregate a HashAggregate and partials combine map-side, so the
    * shuffle carries one row of k longs per (partition, doc). a_i·x
    * ≤ 2^62 — no int64 overflow; every step is portable SQL (DuckDB:
    * `('0x' || substr(md5(s),1,8))::BIGINT % P31`).
    */
  def minhash(sh: DataFrame, k: Int = 128): DataFrame = {
    val params = hashParams(k)
    val hs = sh.select(col("doc_id"),
      (conv(substring(md5(col("shingle")), 1, 8), 16, 10).cast("long") % P31)
        .as("__x"))
    hs.groupBy(col("doc_id"))
      .agg(array(params.map { case (a, b) =>
        min((lit(a) * col("__x") + lit(b)) % P31)
      }: _*).as("mhs"))
  }

  /** LSH banding over wide signatures: band b's signature = md5 of the
    * ordered concat of its `rowsPerBand` minhashes. Docs sharing any
    * (band, signature) are candidates. Bands are built from explicit
    * per-band element_at expressions — higher-order lambdas
    * (transform/slice) are interpreted, not codegen'd, and were the
    * hotspot at k=128.
    */
  def bandSignatures(mh: DataFrame, k: Int, rowsPerBand: Int): DataFrame = {
    require(rowsPerBand >= 1 && k % rowsPerBand == 0,
      s"k=$k must divide evenly into bands of $rowsPerBand (trailing hashes would be silently dropped)")
    val nBands = k / rowsPerBand
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",", (0 until rowsPerBand).map(j =>
          element_at(col("mhs"), b * rowsPerBand + j + 1).cast("string")): _*))
          .as("sig"))
    }
    mh.select(col("doc_id"), explode(array(bandStructs: _*)).as("__bs"))
      .select(col("doc_id"), col("__bs.band").as("band"), col("__bs.sig").as("sig"))
  }

  /** Candidate pairs: equi-join on (band, sig), deduped, a<b.
    *
    * The input is consumed by BOTH sides of the self-join, and its
    * heavy ancestry (shingle explode → k minhashes) sits ABOVE the one
    * doc-keyed exchange since r16's fanOut — so each join side would
    * recompute the full signature chain (the r17 calm re-pin caught
    * exactly this on the simhash twins). Repartitioning on the JOIN KEY
    * here places one shared exchange below both sides (guide §2.4 "two
    * operations keyed the same way share one exchange"): the signature
    * subtree computes once, ReuseExchange collapses the second copy,
    * and the join needs no further shuffle. Rows are (doc_id, band,
    * 16-byte sig) — narrow and linear at any scale, strictly fewer
    * bytes than the two per-side exchanges it replaces.
    */

  def candidatePairs(bands: DataFrame): DataFrame = {
    val shared = bands.repartition(col("band"), col("sig"))
    val a = shared.select(col("band"), col("sig"), col("doc_id").as("doc_a"))
    val b = shared.select(col("band"), col("sig"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Estimated Jaccard from minhash agreement on candidate pairs: two
    * joins bring both wide signatures onto the pair row; agreement is an
    * elementwise compare of two k-arrays (no k-way row explosion).
    */
  def estimatedJaccard(pairs: DataFrame, mh: DataFrame, k: Int): DataFrame = {
    val ma = mh.select(col("doc_id").as("doc_a"), col("mhs").as("mhs_a"))
    val mb = mh.select(col("doc_id").as("doc_b"), col("mhs").as("mhs_b"))
    pairs.join(ma, "doc_a").join(mb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (aggregate(zip_with(col("mhs_a"), col("mhs_b"),
          (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v) / lit(k.toDouble)).as("est_jaccard"))
  }

  /** Exact n-gram Jaccard on (already-narrowed) candidate pairs:
    * |A∩B| / |A∪B| over distinct shingle sets.
    */
  def exactJaccard(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val distinctSh = sh.distinct()
    val sizes = distinctSh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val sa = distinctSh.select(col("doc_id").as("doc_a"), col("shingle"))
    val sb = distinctSh.select(col("doc_id").as("doc_b"), col("shingle"))
    val inter = pairs.join(sa, "doc_a").join(sb, Seq("doc_b", "shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("doc_a", "doc_b"), "left").na.fill(0L, Seq("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
  }

  /** Full MinHash-LSH near-dup pipeline. Default k=128, r=4 ⇒ 32 bands,
    * candidate threshold ≈ (1/32)^(1/4) ≈ 0.42 estimated Jaccard.
    */
  def minhashLsh(df: DataFrame, idCol: Column, textCol: Column,
                 ngram: Int = 3, k: Int = 128, rowsPerBand: Int = 4): DataFrame = {
    val sh = shingles(df, idCol, textCol, ngram)
    val mh = minhash(sh, k)
    val pairs = candidatePairs(bandSignatures(mh, k, rowsPerBand))
    exactJaccard(pairs, sh)
  }

  /** 64-bit SimHash: per token, xxhash64 bit-votes (+1/-1 per bit), sign
    * of the vote sum per bit. Pure expressions — no UDF.
    */
  def simhash64(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val toks = graft.model.Tables.fanOut(
        df.select(idCol.as("doc_id"), textCol.as("__t")), col("doc_id"))
      .select(col("doc_id"), explode(split(col("__t"), " ")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 64).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$b")
    }
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(b => when(col(s"v$b") >= 0, lit(1L)).otherwise(lit(0L))
          .multiply(lit(1L << b))).reduce(_ + _).as("simhash"))
  }

  /** Banded-hamming near-dup pairs over the 64-bit [[simhash64]]
    * signature: 4×16-bit bands — by pigeonhole, any pair within hamming
    * distance 3 shares at least one intact band, so candidates come from
    * an equi-join on (band, 16-bit slice), never an all-pairs scan.
    * Verification is a codegen'd popcount of the XOR.
    */
  def simhashPairs64(sig: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands guarantee detection only for hamming <= 3, got $maxHamming (pairs beyond that can straddle every band and would be silently lost)")
    val bands = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("bsig"))
    }
    val exploded = sig.select(col("doc_id"), col("simhash"),
      explode(array(bands: _*)).as("__b"))
      .select(col("doc_id"), col("simhash"),
        col("__b.band").as("band"), col("__b.bsig").as("bsig"))
      // shared join-key exchange below both self-join sides: the vote
      // aggregation above the r16 fanOut exchange would otherwise run
      // once PER SIDE (see candidatePairs — same fix, same rationale)
    val shared = exploded.repartition(col("band"), col("bsig"))
    val a = shared.select(col("band"), col("bsig"),
      col("doc_id").as("doc_a"), col("simhash").as("__ha"))
    val b = shared.select(col("band"), col("bsig"),
      col("doc_id").as("doc_b"), col("simhash").as("__hb"))
    // first-matching-band dedup: keep a pair only in the lowest band
    // where its slices agree — every pair emits exactly once, so no
    // distinct() shuffle of the candidate set is ever needed.
    def slice(c: Column, b: Int): Column =
      shiftrightunsigned(c, b * 16).bitwiseAND(lit(0xFFFFL))
    val noEarlierBand = (1 until 4).foldLeft(when(col("band") === 0, lit(true))) {
      (w, b) => w.when(col("band") === b,
        (0 until b).map(e => slice(col("__ha"), e) =!= slice(col("__hb"), e))
          .reduce(_ && _))
    }
    a.join(b, Seq("band", "bsig")).filter(col("doc_a") < col("doc_b"))
      .filter(noEarlierBand)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("__ha").bitwiseXOR(col("__hb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Banded-hamming pairs over the portable 16-bit [[simhash16]] bit
    * string: 2×8-bit bands (pigeonhole ⇒ every hamming≤1 pair shares a
    * band), hamming = positionwise char compare — every step mirrors
    * into plain SQL for the DuckDB oracle. 8-bit bands give 256 buckets;
    * the 4-bit variant's 16 buckets degenerated into hot-bucket
    * self-joins on correlated corpora (35 s at sf0.1 vs ~2 s now).
    */
  def simhashPairs16(sig: DataFrame, maxHamming: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 1,
      s"2 bands guarantee detection only for hamming <= 1, got $maxHamming (pairs beyond that can straddle both bands and would be silently lost)")
    val bands = (0 until 2).map { b =>
      struct(lit(b).as("band"), substring(col("simhash16"), b * 8 + 1, 8).as("bsig"))
    }
    // the bit string converts to a 16-bit number ONCE per (doc, band)
    // row, so every per-candidate expression below is integer bit math
    // (a positionwise substring compare cost ~34 string ops per
    // candidate — the hot loop at millions of candidates).
    val exploded = sig.select(col("doc_id"),
      conv(col("simhash16"), 2, 10).cast("long").as("__n"),
      explode(array(bands: _*)).as("__b"))
      .select(col("doc_id"), col("__n"),
        col("__b.band").as("band"), col("__b.bsig").as("bsig"))
      // shared join-key exchange below both self-join sides: the 16
      // parity-vote sums above the r16 fanOut exchange would otherwise
      // run once PER SIDE (see candidatePairs — same fix, same
      // rationale; caught by the r17 calm re-pin on x_corpus_curate)
    val shared = exploded.repartition(col("band"), col("bsig"))
    val a = shared.select(col("band"), col("bsig"),
      col("doc_id").as("doc_a"), col("__n").as("__na"))
    val b = shared.select(col("band"), col("bsig"),
      col("doc_id").as("doc_b"), col("__n").as("__nb"))
    // first-matching-band dedup (see simhashPairs64): band 1 emits only
    // when the band-0 (high byte) slices differ — no distinct() shuffle.
    val noEarlierBand = col("band") === 0 ||
      shiftrightunsigned(col("__na"), 8) =!= shiftrightunsigned(col("__nb"), 8)
    a.join(b, Seq("band", "bsig")).filter(col("doc_a") < col("doc_b"))
      .filter(noEarlierBand)
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("__na").bitwiseXOR(col("__nb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Portable 16-bit SimHash variant (md5-hex-char parity votes) — the
    * oracle-checkable form; same algorithm, narrower signature.
    */
  def simhash16(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val toks = graft.model.Tables.fanOut(
        df.select(idCol.as("doc_id"), textCol.as("__t")), col("doc_id"))
      .select(col("doc_id"), explode(split(col("__t"), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val votes = (1 to 16).map { p =>
      sum(when(ascii(substring(col("h"), p, 1)) % 2 === 1, 1).otherwise(-1)).as(s"v$p")
    }
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        concat((1 to 16).map(p =>
          when(col(s"v$p") >= 0, lit(1)).otherwise(lit(0)).cast("string")): _*).as("simhash16"))
  }

  /** Cross-document paragraph dedup — the RefinedWeb/CCNet pass that
    * removes any paragraph occurring more than once ANYWHERE in the
    * corpus (boilerplate headers, nav bars, license blocks). The
    * paragraph boundary is injectable; `chunkDedup` uses fixed
    * `chunkTokens`-token windows (the degenerate splitter for corpora
    * without layout), but the pipeline is the operator: explode
    * paragraphs with their position, count occurrences corpus-wide,
    * drop duplicated ones, reassemble the survivors in order.
    *
    * Scale shape: the occurrence count groups on md5(paragraph) so the
    * counting shuffle carries 16-byte keys, not paragraph bodies; the
    * join back is an equi-join on the same hash; reassembly aggregates
    * per doc_id. Three shuffles total, all narrow-keyed, no all-pairs
    * anything.
    */
  def chunkDedup(df: DataFrame, idCol: Column, textCol: Column,
                 chunkTokens: Int = 20): DataFrame = {
    // fanOut (r16): chunk slicing + hashing is the expensive map work on
    // BOTH the counting and the reassembly side; both read this base
    val base = graft.model.Tables.fanOut(
      df.select(idCol.as("__id"), textCol.as("__t")), col("__id"))
    val idCol2 = col("__id")
    val toks = split(col("__t"), " ")
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1), i =>
      struct(i.as("pos"),
        array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")
          .as("chunk")))
    // counting flows carry ONLY (doc_id, pos, 8-byte chunk hash) — the
    // chunk text used to ride through the count join AND the per-doc
    // reassembly shuffle (twice over the network); now it crosses once,
    // in the final doc-keyed join, and the dup verdict comes back as a
    // small sorted position list applied map-side
    val exploded = base
      .select(idCol2.as("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.pos").as("pos"),
        xxhash64(col("c.chunk")).as("__h"))
    val counts = exploded.groupBy(col("__h"))
      .agg(count(lit(1)).as("__n"))
    val verdict = exploded.join(counts, "__h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__n") > 1, 1L).otherwise(0L)).as("n_dup"),
        sort_array(collect_list(when(col("__n") > 1, col("pos"))))
          .as("__dups"))
    base.select(idCol2.as("doc_id"), chunks.as("__cs"))
      .join(verdict, "doc_id")
      .select(col("doc_id"), col("n_chunks"), col("n_dup"),
        array_join(transform(
          filter(col("__cs"), c =>
            !array_contains(col("__dups"), c.getField("pos"))),
          c => c.getField("chunk")), " ").as("cleaned"))
  }

  /** Corpus boilerplate strip — the heavy-set twin of [[chunkDedup]]:
    * a chunk is BOILERPLATE iff it occurs in ≥ `minDocs` DISTINCT
    * documents (navigation bars, license blocks, cookie banners — the
    * CCNet/RefinedWeb "common lines" rule at chunk granularity), and
    * boilerplate chunks are removed from every document that carries
    * them. The architectural difference from [[chunkDedup]] is WHICH
    * side of the frequency table travels: chunkDedup joins every
    * chunk occurrence against the FULL count table (corpus-sized
    * shuffle on the hash stream), while the ≥minDocs blacklist is
    * vocabulary-scale by construction — boilerplate is what repeats —
    * so it BROADCASTS, the verdict join is a BroadcastHashJoin carrying
    * only matching positions, and document bodies never shuffle at all:
    * one 8-byte-hash aggregate plus a map-side membership pass.
    */
  def boilerplateStrip(df: DataFrame, idCol: Column, textCol: Column,
                       chunkTokens: Int = 20, minDocs: Int = 3): DataFrame = {
    val base = graft.model.Tables.fanOut(
      df.select(idCol.as("__id"), textCol.as("__t")), col("__id"))
    val idCol2 = col("__id")
    val toks = split(col("__t"), " ")
    val nChunks = ceil(size(toks).cast("double") / chunkTokens).cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1), i =>
      struct(i.as("pos"),
        array_join(slice(toks, i * chunkTokens + 1, lit(chunkTokens)), " ")
          .as("chunk")))
    val exploded = base
      .select(idCol2.as("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.pos").as("pos"),
        xxhash64(col("c.chunk")).as("__h"))
    val heavy = exploded.select(col("doc_id"), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    // inner join against the broadcast blacklist: only boilerplate
    // POSITIONS survive into the per-doc verdict — docs with none
    // drop out entirely and re-enter via the left join below
    val verdict = exploded.join(broadcast(heavy), Seq("__h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__nb"),
        sort_array(collect_list(col("pos"))).as("__bp"))
    base.select(idCol2.as("doc_id"), chunks.as("__cs"))
      .join(verdict, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__cs")).cast("long").as("n_chunks"),
        coalesce(col("__nb"), lit(0L)).as("n_boiler"),
        array_join(transform(
          filter(col("__cs"), c => !coalesce(
            array_contains(col("__bp"), c.getField("pos")), lit(false))),
          c => c.getField("chunk")), " ").as("cleaned"))
  }

  /** Exact-substring duplicate detection (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better" —
    * the ExactSubstr mode, stride-sampled): every document samples
    * `win`-char windows at `stride`, and a window is DUPLICATED iff its
    * exact content occurs anywhere else in the corpus. Unlike the
    * word-level [[graft.text.TextAnalysis.dupNgramFraction]], this
    * catches verbatim reuse that crosses token boundaries (boilerplate,
    * license blocks, templated spans). The suffix-array of the paper
    * collapses to a count over sampled window identities — the standard
    * distributed approximation; stride trades recall for cost
    * (stride ≤ win/2 guarantees every duplicated span ≥ win+stride
    * chars still hits a sampled window in both copies).
    *
    * Scale: windows shuffle as 60-bit md5-prefix hashes (8 bytes, never
    * text — collisions only ever MERGE counts, identically in any
    * engine replaying the same hash); two keyed aggregates, no join of
    * document bodies. Flag rule is an exact integer cross-multiply
    * (≥ 20% of sampled windows duplicated).
    */
  def substringDup(df: DataFrame, idCol: Column, text: Column,
                   win: Int = 64, stride: Int = 16): DataFrame = {
    // single-pass codegen kernel emits the 64-bit md5 window identities
    // directly (the md5→hex→substr→conv Column chain allocated three
    // strings per window — allocation, not hashing, dominated at 13M
    // windows). The window table feeds both the count build and the
    // probe pass; it is RECOMPUTED, not persisted — at stride 16 the
    // (doc, hash) table is roughly corpus-sized, so caching it trades
    // executor memory for a cheap stateless re-scan (the kernel re-runs
    // at parquet-scan speed).
    val windows = graft.model.Tables.fanOut(
        df.select(idCol.as("doc_id"), text.as("__t")), col("doc_id"))
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.windowMd5(col("__t"), win, stride))
          .as("__h"))
    val counts = windows.groupBy(col("__h")).agg(count(lit(1)).as("__n"))
    // only the DUPLICATED hashes flow back — in a mostly-unique corpus
    // that set is a small fraction of the window table, so it broadcasts
    // and the per-window dup test is a map-side join: the corpus-sized
    // window table shuffles ONCE (the count aggregate), never for a
    // corpus×corpus equi-join. (A pathologically duplicate-saturated
    // corpus would grow the broadcast — at that point the plain shuffled
    // join is the fallback, but then the dedup verdict is "most of the
    // corpus", which the cheap exact pass discovers first anyway.)
    val dup = broadcast(counts.filter(col("__n") > 1)
      .select(col("__h"), lit(1L).as("__d")))
    windows.join(dup, Seq("__h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum(col("__d")), lit(0L)).as("n_dup"))
      .withColumn("flagged",
        when(col("n_dup") * 5 >= col("n_windows"), 1).otherwise(0))
  }

  /** Edit-distance (Levenshtein) fuzzy join with q-gram candidate
    * pruning — the record-linkage companion to [[minhashLsh]]: emit
    * every id pair whose strings are within `maxDist` edits, without
    * ever forming the id×id cross product. Candidates come from a
    * positional-gram equi-join (pigeonhole: two strings of length ≥
    * L within d edits share at least L−q+1−d·q common q-grams, > 0 at
    * the defaults for L ≥ 23 — so the prefilter admits every true
    * pair), then codegen `levenshtein` verifies exactly.
    *
    * Scale shape: explode→equi-join→distinct, the LSH-band pattern —
    * the join key is the gram, so work is proportional to collisions,
    * not pairs of rows. Grams touching more than `hotGramCap` distinct
    * ids are dropped on BOTH sides before the join (an anti-join
    * against the few hot keys, broadcast by construction): a stop-gram
    * guard so one degenerate shared substring cannot quadratically
    * explode a single join key. A length prefilter runs before the
    * O(n·m) distance kernel.
    */
  def editDistanceJoin(df: DataFrame, idCol: Column, strCol: Column,
                       q: Int = 8, maxDist: Int = 2,
                       hotGramCap: Int = 64): DataFrame = {
    // fanOut (r16): a split-starved scan otherwise runs the whole gram
    // derivation below in ONE task (6.6 s of a 7.7 s sf0.1 run) — the
    // q-gram explode is the operator's expensive map work and must ride
    // the session's full parallelism. Identity at production split
    // counts (see Tables.fanOut).
    val base = graft.model.Tables.fanOut(
      df.select(idCol.cast("long").as("id"), strCol.as("s")), col("id"))
    // gram rows carry (id, len, gram) — the string BODY never rides the
    // candidate stream: the gram join, the length prefilter and the
    // pair-dedup all run on ids + a 4-byte length, so the wide shuffle
    // moves ~16-byte rows no matter how long the strings are (titles,
    // URLs, fingerprints). Bodies come back in two id-keyed joins only
    // for the surviving pairs' distance verify.
    // distinct grams via the codegen CharGrams expression (r17): the
    // interpreted transform+substring+array_distinct chain spent 29% of
    // the gram stage in GC at sf0.1 and was the stage most sensitive to
    // a dirty shared heap (the in-suite-vs-isolated divergence
    // BASELINE.md documents for this gate). Value-identical output.
    val grams = base.filter(length(col("s")) >= q)
      .select(col("id"), length(col("s")).as("len"),
        explode(graft.functions.TextFunctions.charGrams(col("s"), q))
          .as("gram"))
    // ONE gram-keyed shuffle generates the candidates: group the gram's
    // members and expand pairs inside the group. A self equi-join would
    // shuffle-and-sort the gram stream TWICE; the aggregate form moves
    // it once, and `hotGramCap` — enforced on the collected group
    // before expansion — is simultaneously the skew guard and the
    // memory bound (≤ cap members per group, ≤ cap²/2 pairs), so no
    // single degenerate substring can quadratically own a task.
    val cand = grams.groupBy(col("gram"))
      .agg(collect_list(struct(col("id"), col("len"))).as("members"))
      .filter(size(col("members")) <= hotGramCap)
      .select(posexplode(col("members")).as(Seq("i", "a")),
        col("members"))
      .select(col("a"),
        explode(expr("slice(members, i + 2, size(members))")).as("b"))
      .filter(abs(col("a.len") - col("b.len")) <= maxDist)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(base.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("s_a"), col("s_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
