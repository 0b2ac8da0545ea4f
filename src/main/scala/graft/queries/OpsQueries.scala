package graft.queries

import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.ops._

/** Filter/processor operators (SURVEY.md §2.3/§2.4) exercised through the
  * graft.ops library over the driver testdata, each with a DuckDB oracle.
  */
object OpsQueries {

  val all: Seq[GraftQuery] = Seq(
    // filter_grep: keep regex + exclude regex, legacy logic (grep.c:286).
    GraftQuery(
      "f_grep",
      (s, dir) =>
        // legacy evaluation is sequential, so the exclude must precede
        // the regex (a regex rule decides outright and ends the chain)
        Grep(
          Tables.documents(s, dir),
          Seq(
            Grep.Rule(col("text"), "slow", exclude = true),
            Grep.Rule(col("text"), "spark", exclude = false)
          )
        ).select(col("doc_id"), col("lang")),
      Some("""SELECT doc_id, lang FROM documents
             WHERE regexp_matches(text, 'spark') AND NOT regexp_matches(text, 'slow')""")
    ),

    // filter_modify: RENAME + ADD + conditional SET + REMOVE (modify.h:28-53).
    GraftQuery(
      "f_modify",
      (s, dir) =>
        Modify(
          Tables.orders(s, dir),
          Seq(
            Modify.Rename("o_orderpriority", "priority"),
            Modify.Add("source", lit("orders")),
            Modify.Set("o_orderstatus", lit("OPEN")),
            Modify.Remove("o_orderdate")
          ),
          conditions = Seq(Modify.KeyValueEquals("o_orderstatus", "O"))
        ).select(col("o_orderkey"), col("priority"), col("source"), col("o_orderstatus")),
      Some("""SELECT o_orderkey, o_orderpriority AS priority,
             CASE WHEN o_orderstatus = 'O' THEN 'orders' ELSE NULL END AS source,
             CASE WHEN o_orderstatus = 'O' THEN 'OPEN' ELSE o_orderstatus END AS o_orderstatus
             FROM orders""")
    ),

    // filter_record_modifier: allowlist projection + static append
    // (filter_modifier.h:44-57) — prunes the parquet scan to 2 columns.
    GraftQuery(
      "f_record_modifier",
      (s, dir) =>
        RecordModifier.appendRecords(
          RecordModifier.allowlistKeys(Tables.part(s, dir), Seq("p_partkey", "p_brand")),
          Seq("pipeline" -> lit("graft"))
        ),
      Some("""SELECT p_partkey, p_brand, 'graft' AS pipeline FROM part""")
    ),

    // filter_nest: NEST wildcard keys under a struct, then LIFT back with
    // prefix (nest.h:26-31); JSON form checks struct field order.
    GraftQuery(
      "f_nest_lift",
      (s, dir) => {
        val nested = Nest.nest(Tables.part(s, dir), "p_b*", "grouped")
        Nest.lift(nested, "grouped", addPrefix = "g_")
          .select(col("p_partkey"), col("g_p_brand"),
            to_json(struct(col("g_p_brand").as("brand"))).as("njson"))
      },
      Some("""SELECT p_partkey, p_brand AS g_p_brand,
             to_json(struct_pack(brand := p_brand)) AS njson FROM part""")
    ),

    // filter_type_converter: str/int/float/hex casts with try_cast
    // tolerance (type_converter.c:182).
    GraftQuery(
      "f_type_converter",
      (s, dir) =>
        TypeConverter(
          Tables.part(s, dir).withColumn("hexstr", lower(hex(col("p_partkey")))),
          Seq(
            TypeConverter.Cast("p_size", "size_str", "string"),
            TypeConverter.Cast("p_name", "name_num", "long"), // unparseable => NULL
            TypeConverter.Cast("hexstr", "from_hex", "hex")
          )
        ).select(col("p_partkey"), col("size_str"), col("name_num"), col("from_hex")),
      Some("""SELECT p_partkey, CAST(p_size AS VARCHAR) AS size_str,
             CAST(trunc(TRY_CAST(regexp_extract(p_name,
               '^[-+]?[0-9]*\.?[0-9]+([eE][-+]?[0-9]+)?', 0) AS DOUBLE)) AS BIGINT)
               AS name_num,
             p_partkey AS from_hex FROM part""")
    ),

    // filter_rewrite_tag: regex match → re-emit under templated tag with
    // capture group, keep=true (rewrite_tag.c:425).
    GraftQuery(
      "f_rewrite_tag",
      (s, dir) =>
        RewriteTag(
          Tables.logEvents(s, dir),
          "tag",
          RewriteTag.Rule(
            col("event_type"), "^(err)or$",
            concat(lit("alert."), RewriteTag.capture(col("event_type"), "^(err)or$", 1)),
            keep = true
          )
        ).select(col("event_id"), col("tag")),
      Some("""SELECT event_id, 'app.' || event_type AS tag FROM events
             UNION ALL
             SELECT event_id, 'alert.err' AS tag FROM events
             WHERE regexp_matches(event_type, '^(err)or$')""")
    ),

    // filter_throttle (batch): ≤5 records per (event_type, hour-pane)
    // (throttle.c:190, pane table window.c:58-105).
    GraftQuery(
      "f_throttle",
      (s, dir) =>
        Throttle(
          Tables.events(s, dir),
          keyCols = Seq(col("event_type")),
          tsSecCol = col("ts_sec"),
          orderCols = Seq(col("ts_ns"), col("event_id")),
          paneSeconds = 3600L,
          rate = 5
        ).select(col("event_id"), col("event_type")),
      Some("""SELECT event_id, event_type FROM (
               SELECT event_id, event_type,
                      row_number() OVER (
                        PARTITION BY event_type, (epoch_ns(ts) // 1000000000) // 3600
                        ORDER BY epoch_ns(ts), event_id) AS rn
               FROM events) WHERE rn <= 5""")
    ),

    // filter_log_to_metrics, counter mode: matched records → counter rows
    // with labels (log_to_metrics.c:970).
    GraftQuery(
      "f_log_to_metrics",
      (s, dir) =>
        LogToMetrics.counter(
          Tables.events(s, dir),
          matchCond = col("value") > 100.0,
          labels = Seq(col("event_type")),
          name = "high_value_events"
        ),
      Some("""SELECT event_type, count(*) AS value,
             'high_value_events' AS metric_name, 'counter' AS metric_type
             FROM events WHERE value > 100.0 GROUP BY event_type""")
    ),

    // filter_log_to_metrics, histogram mode: cmetrics-style cumulative
    // buckets (log_to_metrics.h:44-46).
    GraftQuery(
      "f_log_to_metrics_hist",
      (s, dir) =>
        LogToMetrics.histogram(
          Tables.events(s, dir),
          matchCond = col("event_type") === "error",
          valueCol = col("value"),
          labels = Seq(col("user_id")),
          name = "error_value",
          buckets = Seq(50.0, 100.0, 200.0)
        ),
      Some("""SELECT user_id,
             CAST(sum(CASE WHEN value <= 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS "le_50.0",
             CAST(sum(CASE WHEN value <= 100.0 THEN 1 ELSE 0 END) AS BIGINT) AS "le_100.0",
             CAST(sum(CASE WHEN value <= 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS "le_200.0",
             count(*) AS le_inf,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
             'error_value' AS metric_name, 'histogram' AS metric_type
             FROM events WHERE event_type = 'error' GROUP BY user_id""")
    ),

    // filter_kubernetes-style metadata enrichment: two chained broadcast
    // joins (kubernetes.c:646 ≙ TTL-cached metadata lookups).
    GraftQuery(
      "f_kubernetes_enrich",
      (s, dir) => {
        val cust = Tables.customer(s, dir)
          .withColumnRenamed("c_nationkey", "n_nationkey")
        val withNation = Enrich.metadataJoin(
          cust, Tables.nation(s, dir), Seq("n_nationkey"),
          select = Seq("n_name" -> "nation_name"))
          .withColumnRenamed("n_regionkey", "r_regionkey")
        Enrich.metadataJoin(
          withNation, Tables.region(s, dir), Seq("r_regionkey"),
          select = Seq("r_name" -> "region_name"))
          .select(col("c_custkey"), col("nation_name"), col("region_name"))
      },
      Some("""SELECT c_custkey, n_name AS nation_name, r_name AS region_name
             FROM customer
             LEFT JOIN nation ON c_nationkey = n_nationkey
             LEFT JOIN region ON n_regionkey = r_regionkey""")
    ),

    // filter_geoip2-style lookup join (geoip2.c:380): broadcast dim.
    GraftQuery(
      "f_geoip_enrich",
      (s, dir) => {
        val sup = Tables.supplier(s, dir).withColumnRenamed("s_nationkey", "n_nationkey")
        Enrich.metadataJoin(sup, Tables.nation(s, dir), Seq("n_nationkey"),
          select = Seq("n_name" -> "geo_name"))
          .select(col("s_suppkey"), col("geo_name"))
      },
      Some("""SELECT s_suppkey, n_name AS geo_name FROM supplier
             LEFT JOIN nation ON s_nationkey = n_nationkey""")
    ),

    // filter_checklist: annotate records whose key is in a checklist
    // (checklist.c:416) — constant-folded isin for a literal list.
    GraftQuery(
      "f_checklist",
      (s, dir) =>
        Checklist.annotateLiteral(
          Tables.orders(s, dir), col("o_custkey"),
          values = Seq(1L, 7L, 42L, 99L), outCol = "vip", flagValue = lit("vip")
        ).select(col("o_orderkey"), col("vip")),
      Some("""SELECT o_orderkey,
             CASE WHEN o_custkey IN (1, 7, 42, 99) THEN 'vip' ELSE NULL END AS vip
             FROM orders""")
    ),

    // processor_content_modifier: hash + extract + convert (cm.h:34-41).
    GraftQuery(
      "p_content_modifier",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .withColumn("text_sha", col("text")).withColumn("n_chars_str", col("n_chars"))
        val hashed = ContentModifier.hash(Fields.of(docs), "text_sha")
        val extracted = ContentModifier.extract(
          hashed, col("text"), "^(\\w+)", Seq(1 -> "first_word"))
        ContentModifier.convert(extracted, "n_chars_str", "string").frame(docs)
          .select(col("doc_id"), col("text_sha"), col("first_word"), col("n_chars_str"))
      },
      Some("""SELECT doc_id, sha256(text) AS text_sha,
             regexp_extract(text, '^(\w+)', 1) AS first_word,
             CAST(n_chars AS VARCHAR) AS n_chars_str FROM documents""")
    ),

    // processor_cumulative_to_delta: per-series lag with reset detection
    // (cumulative_to_delta.c:109-170).
    GraftQuery(
      "p_cumulative_to_delta",
      (s, dir) =>
        CumulativeToDelta(
          Tables.events(s, dir),
          seriesCols = Seq(col("user_id")),
          orderCols = Seq(col("ts_ns"), col("event_id")),
          valueCol = col("value"),
          outName = "delta"
        ).select(col("event_id"), col("user_id"), col("delta")),
      Some("""SELECT event_id, user_id,
             CASE WHEN prev IS NULL THEN NULL
                  WHEN value - prev < 0 THEN value
                  ELSE value - prev END AS delta
             FROM (SELECT event_id, user_id, value,
                          lag(value) OVER (PARTITION BY user_id
                                           ORDER BY epoch_ns(ts), event_id) AS prev
                   FROM events)""")
    ),

    // processor_metrics_selector: prefix include (selector.c:80-126).
    GraftQuery(
      "p_metrics_selector",
      (s, dir) =>
        MetricsSelector(
          Tables.logEvents(s, dir), col("tag"), "app.err",
          MetricsSelector.Include, opType = "prefix"
        ).select(col("event_id")),
      Some("""SELECT event_id FROM events
             WHERE starts_with('app.' || event_type, 'app.err')""")
    ),

    // filter_multiline, batch form (SURVEY §2.6; flb_ml.c rule machine):
    // start-marker cumulative sum assigns record groups per stream key,
    // then one aggregation assembles the message — shuffle only on the
    // stream key, never a global sort.
    GraftQuery(
      "f_multiline_batch",
      (s, dir) => {
        val lines = Tables.events(s, dir).select(
          col("user_id"), col("event_id"),
          when(col("value") > 100,
            concat(lit("ERROR "), col("event_id")))
            .otherwise(concat(lit("  at frame "), col("event_id"))).as("line"))
        graft.streaming.Multiline.assembleBatch(
          lines, Seq("user_id"), "event_id", "line",
          Seq(graft.streaming.Multiline.Rule(Set("start", "cont"), "^\\s+at ", "cont")))
      },
      Some("""WITH lines AS (
               SELECT user_id, event_id,
                      CASE WHEN value > 100 THEN 'ERROR ' || CAST(event_id AS VARCHAR)
                           ELSE '  at frame ' || CAST(event_id AS VARCHAR) END AS line
               FROM events),
             g AS (
               SELECT *, sum(CASE WHEN NOT regexp_matches(line, '^\s+at ')
                                  THEN 1 ELSE 0 END)
                      OVER (PARTITION BY user_id ORDER BY event_id) AS grp
               FROM lines)
             SELECT user_id, min(event_id) AS first_event_id, count(*) AS n_lines,
                    string_agg(line, chr(10) ORDER BY event_id) AS message
             FROM g GROUP BY user_id, grp""")
    ),

    // processor_sampling, probabilistic mode (sampling.h:27-31) —
    // deterministic md5-bucket variant so reruns and the oracle agree.
    GraftQuery(
      "p_sampling_prob",
      (s, dir) =>
        Sampling.probabilistic(Tables.events(s, dir), col("event_id"), 10.0)
          .select(col("event_id")),
      Some("""SELECT event_id FROM events
             WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 4) < '1999'""")
    )
  )
}
