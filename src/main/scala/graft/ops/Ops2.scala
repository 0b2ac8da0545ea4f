package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** filter_throttle_size (reference
  * `plugins/filter_throttle_size/throttle_size.c:360-433`): like throttle
  * but limits total BYTES per window per key. Faithful admit-only
  * accumulation: a DROPPED record's size is NOT added to the window
  * total, so a later smaller record can still be admitted (a cumulative
  * running sum over-drops — round-2 divergence flagged in review).
  *
  * Scale shape: repartition on (key, pane) + sortWithinPartitions + one
  * streaming pass per partition holding a single (group, runningTotal)
  * pair — bounded state, no global sort, no per-group buffering. The
  * sequential fold is inherently order-dependent, so this is one of the
  * few operators where mapPartitions is the honest primitive (like the
  * reference's per-window byte ledger).
  */
object ThrottleSize {
  def apply(df: DataFrame, keyCols: Seq[Column], tsSecCol: Column,
            orderCols: Seq[Column], sizeCol: Column, paneSeconds: Long,
            maxBytes: Long): DataFrame = {
    val withCols = df
      .withColumn("__size", coalesce(sizeCol.cast("long"), lit(0L)))
      // NULL keys form their own group (concat_ws would silently SKIP a
      // null component, merging distinct groups), so coalesce each key
      // to a sentinel no real cast-string produces
      .withColumn("__gkey", concat_ws("\u0001",
        (keyCols.map(c => coalesce(c.cast("string"), lit("\u0002NULL"))) :+
          (tsSecCol / paneSeconds).cast("long").cast("string")): _*))
    val parted = withCols
      .repartition(col("__gkey"))
      .sortWithinPartitions(col("__gkey") +: orderCols: _*)
    val enc = org.apache.spark.sql.Encoders.row(parted.schema)
    parted.mapPartitions { rows =>
      var cur: String = null
      var tot = 0L
      rows.filter { r =>
        val g = r.getAs[String]("__gkey")
        val sz = r.getAs[Long]("__size")
        if (g != cur) { cur = g; tot = 0L }
        val admit = tot + sz <= maxBytes
        if (admit) tot += sz
        admit
      }
    }(enc).drop("__size", "__gkey")
  }
}

/** filter_alter_size (reference `plugins/filter_alter_size/alter_size.c:91`):
  * keep or drop the first N records of each chunk. Batch analogue: chunk ≙
  * key group with a total order.
  */
object AlterSize {
  private def ranked(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column]) =
    df.withColumn("__rn",
      row_number().over(Window.partitionBy(keyCols: _*).orderBy(orderCols: _*)))

  /** `operation head`: keep the first `n` per key. */
  def head(df: DataFrame, keyCols: Seq[Column], orderCols: Seq[Column], n: Int): DataFrame =
    ranked(df, keyCols, orderCols).filter(col("__rn") <= n).drop("__rn")
}

/** filter_expect (reference `plugins/filter_expect/expect.c:398`): assertion
  * operator — rules like key_exists / key_val_eq with action warn/exit.
  * Batch form: one row per rule with its violation count (action=result_key
  * annotate form is `withColumn(when(...))` in the caller). Doubles as the
  * engine's data-quality gate.
  */
object Expect {
  /** rules: (rule_name, condition that every record must satisfy).
    * NULL condition results count as violations (fluent-bit's key_exists
    * on a missing key fails the expectation).
    */
  def violations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame =
    rules.map { case (name, cond) =>
      df.agg(sum(when(!coalesce(cond, lit(false)), 1L).otherwise(0L)).as("violations"))
        .select(lit(name).as("rule"), col("violations"))
    }.reduce(_ unionAll _)
}

/** filter_parser (reference `plugins/filter_parser/filter_parser.c:174`):
  * re-parse one string field with a named parser; `reserve_data` keeps the
  * other fields of the original record, `preserve_key` keeps the parsed
  * source field itself.
  */
object ParserFilter {
  /** Apply a named-group regex parser to `sourceName`. Returns the merged
    * record per reserve/preserve flags; parsed group columns always win
    * over same-named originals (flb_parser merge semantics).
    */
  def regex(df: DataFrame, sourceName: String, pattern: String,
            reserveData: Boolean, preserveKey: Boolean,
            types: Map[String, String] = Map.empty): DataFrame = {
    val parsed = graft.parse.Parsers.regex(df, col(sourceName), pattern, types)
    val groupCols = graft.parse.Parsers.groupNames(pattern)
    val kept =
      if (reserveData) parsed
      else parsed.select((sourceName +: groupCols).distinct.map(col): _*)
    if (preserveKey || groupCols.contains(sourceName)) kept
    else kept.drop(sourceName)
  }
}

/** processor_labels (reference `plugins/processor_labels/labels.c`): insert /
  * update / upsert / delete / hash operations over a metrics label map.
  * Pure map-column expressions — no shuffle, no UDF.
  */
object Labels {
  /** insert: add k=v only when the key is absent. */
  def insert(labels: Column, k: String, v: Column): Column =
    when(map_contains_key(labels, lit(k)), labels)
      .otherwise(map_concat(labels, map(lit(k), v)))

  /** update: set k=v only when the key exists. */
  def update(labels: Column, k: String, v: Column): Column =
    when(map_contains_key(labels, lit(k)),
      map_concat(delete(labels, k), map(lit(k), v))).otherwise(labels)

  /** upsert: set k=v unconditionally. */
  def upsert(labels: Column, k: String, v: Column): Column =
    map_concat(delete(labels, k), map(lit(k), v))

  /** delete: remove key k. */
  def delete(labels: Column, k: String): Column =
    map_filter(labels, (key, _) => key =!= k)

  /** hash: SHA-256 the value of key k (labels.c hash op). */
  def hash(labels: Column, k: String): Column =
    transform_values(labels, (key, v) => when(key === k, sha2(v, 256)).otherwise(v))

  /** Long-format view for oracle checks: one (label_key, label_value) row
    * per entry, deterministic order via sort on key.
    */
  def explodeSorted(df: DataFrame, labels: Column, idCols: Seq[Column]): DataFrame =
    df.select(idCols :+ posexplode(map_entries_sorted(labels)).as(Seq("__p", "kv")): _*)
      .select(idCols ++ Seq(col("kv.key").as("label_key"), col("kv.value").as("label_value")): _*)

  private def map_entries_sorted(m: Column): Column =
    array_sort(map_entries(m))
}

/** processor_sampling, tail mode (reference
  * `plugins/processor_sampling/sampling.h:27-31`, conditions
  * `sampling_cond_*.c`): buffer whole traces, keep a trace when any span
  * matches the policy (latency threshold, status codes, attribute match).
  * Batch analogue: per-trace aggregate + semi-join — the streaming twin
  * (span registry in flatMapGroupsWithState) lives in graft.streaming.
  */
object TailSampling {
  /** Keep all spans of traces where ANY span satisfies `spanCond`. */
  def keepMatchingTraces(df: DataFrame, traceId: Column, spanCond: Column): DataFrame = {
    val keep = df.filter(spanCond).select(traceId.as("__keep_tid")).distinct()
    df.join(broadcast(keep), traceId === col("__keep_tid"), "left_semi")
  }

  /** latency policy (sampling_cond_latency.c): trace duration over
    * threshold — span latency stands in per-span.
    */
  def latencyPolicy(latencyCol: Column, thresholdMs: Double): Column =
    latencyCol >= thresholdMs

  /** string_attribute policy (sampling_cond_string_attribute.c):
    * match_type strict (value ∈ list) / exists / regex (any pattern).
    */
  def stringAttributePolicy(attr: Column, values: Seq[String],
                            matchType: String = "strict"): Column =
    matchType.toLowerCase match {
      case "strict" => attr.isin(values: _*)
      case "exists" => attr.isNotNull
      case "regex" => values.map(v => coalesce(attr.rlike(v), lit(false)))
        .reduceOption(_ || _).getOrElse(lit(false))
      case other => throw new IllegalArgumentException(s"match_type $other")
    }

  /** numeric_attribute policy (sampling_cond_numeric_attribute.c):
    * min_value <= attr <= max_value.
    */
  def numericAttributePolicy(attr: Column, minValue: Long, maxValue: Long): Column =
    attr >= minValue && attr <= maxValue

  /** boolean_attribute policy (sampling_cond_boolean_attribute.c). */
  def booleanAttributePolicy(attr: Column, expected: Boolean): Column =
    attr === expected

  /** trace_state policy (sampling_cond_trace_state.c): any configured
    * value appears in the W3C tracestate list.
    */
  def traceStatePolicy(traceState: Column, values: Seq[String]): Column =
    values.map(v => coalesce(traceState.contains(v), lit(false)))
      .reduceOption(_ || _).getOrElse(lit(false))

  /** span_count policy (sampling_cond_span_count.c): keep whole traces
    * whose span count lies in [minSpans, maxSpans] — a per-trace
    * aggregate, so it composes as a semi-join rather than a span-level
    * predicate.
    */
  def keepTracesBySpanCount(df: DataFrame, traceId: Column,
                            minSpans: Long, maxSpans: Long): DataFrame = {
    val keep = df.groupBy(traceId.as("__keep_tid"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minSpans && col("__n") <= maxSpans)
      .select("__keep_tid")
    df.join(broadcast(keep), traceId === col("__keep_tid"), "left_semi")
  }
}

/** processor_opentelemetry_envelope (reference
  * `plugins/processor_opentelemetry_envelope/otel_envelope.c`): wrap flat
  * log records into OTLP resource/scope grouping and unwrap back.
  */
object OtelEnvelope {
  /** Wrap: nest body columns under `record`, attach resource attributes
    * and scope name — one struct column, ready for to_json/OTLP export.
    */
  def wrap(df: DataFrame, resourceAttrs: Seq[(String, Column)], scopeName: String,
           bodyCols: Seq[String]): DataFrame =
    df.withColumn("envelope", struct(
      struct(resourceAttrs.map { case (k, v) => v.as(k) }: _*).as("resource"),
      struct(lit(scopeName).as("name")).as("scope"),
      struct(bodyCols.map(col): _*).as("record")))

  /** Unwrap: splat envelope.record back to top level, resource attrs
    * prefixed `resource_`.
    */
  def unwrap(df: DataFrame, envelopeCol: String): DataFrame = {
    val env = col(envelopeCol)
    val recordFields = df.select(s"$envelopeCol.record.*").columns
    val resFields = df.select(s"$envelopeCol.resource.*").columns
    df.select(
      resFields.map(f => env.getField("resource").getField(f).as(s"resource_$f")) ++
        recordFields.map(f => env.getField("record").getField(f).as(f)): _*)
  }
}

/** CREATE SNAPSHOT / FLUSH SNAPSHOT batch analogue (reference
  * `src/stream_processor/flb_sp_snapshot.c:25-180`, flush at
  * `flb_sp.c:1692-1700`): a ring buffer of the last N records per key,
  * re-emitted when a flush condition fires. Streaming twin:
  * graft.streaming.Stateful.snapshotFlush.
  */
object Snapshot {
  /** Last `n` records per key by `orderCol` (the ring buffer content). */
  def lastN(df: DataFrame, keyCols: Seq[Column], orderCol: Column, n: Int): DataFrame =
    df.withColumn("__rnk",
      row_number().over(Window.partitionBy(keyCols: _*).orderBy(orderCol.desc)))
      .filter(col("__rnk") <= n).drop("__rnk")

  /** FLUSH ... WHERE cond: emit the ≤n buffered records preceding (and
    * including) each key's latest record matching `cond`; keys that never
    * match emit nothing.
    */
  def flush(df: DataFrame, keyCols: Seq[Column], orderCol: Column, n: Int,
            cond: Column): DataFrame = {
    val wk = Window.partitionBy(keyCols: _*)
    val flushAt = max(when(coalesce(cond, lit(false)), orderCol)).over(wk)
    val buffered = df.withColumn("__flush_at", flushAt)
      .filter(col("__flush_at").isNotNull && orderCol <= col("__flush_at"))
    lastN(buffered, keyCols, orderCol, n).drop("__flush_at")
  }
}
