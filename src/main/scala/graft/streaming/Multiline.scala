package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Multiline engine (SURVEY §2.6; reference `src/multiline/flb_ml.c`,
  * rule DSL flb_ml_rule.c): assemble logically-split records (stack
  * traces, CRI partials) with state-machine rules
  * `(fromStates, regex, toState)`.
  *
  * Two executions of the same rule set:
  *   - streaming: flatMapGroupsWithState keyed by (tag, streamId) with a
  *     processing-time timeout ≙ flush_ms (flb_ml.c:100-120);
  *   - batch: a start-marker cumulative sum assigns group ids, then one
  *     aggregation concatenates — fully shuffled-parallel by key, and
  *     DuckDB-checkable.
  */
object Multiline {

  /** Rule: in any of `fromStates`, a line matching `regex` moves the
    * machine to `toState` and (if `toState != "start"`) continues the
    * current group. Mirrors flb_ml_rule.c's (from_states, regex,
    * to_state) triples.
    */
  final case class Rule(fromStates: Set[String], regex: String, toState: String)

  /** A mode = named rule set + whether the first line must match `start`.
    * Built-in modes mirror flb_ml_mode.c:28-42 / flb_ml_parser_*.c
    * (re-expressed, not copied: start = new-record detector,
    * continuation = indented/caused-by/partial lines).
    */
  object Modes {
    /** java stack traces: new record starts unindented; `at ...`,
      * `Caused by:`, `... N more`, indented lines continue.
      */
    val java: Seq[Rule] = Seq(
      Rule(Set("start", "cont"), "^(\\s+at\\s|\\s+\\.\\.\\.\\s|Caused by:|\\s+)", "cont")
    )
    /** python tracebacks: `Traceback ...` opens, indented/`  File` lines
      * continue until an unindented line.
      */
    val python: Seq[Rule] = Seq(
      Rule(Set("start"), "^Traceback \\(most recent call last\\):", "cont"),
      Rule(Set("cont"), "^(\\s+|[A-Za-z_.]*(Error|Exception))", "cont")
    )
    /** go panics. */
    val go: Seq[Rule] = Seq(
      Rule(Set("start"), "^panic:", "cont"),
      Rule(Set("cont"), "^(goroutine |\\s+|\\S+\\.go:)", "cont")
    )
    /** ruby exception traces (flb_ml_parser_ruby.c rules re-expressed):
      * `path:NN:in method` opens a trace; `  from path:NN:in ...` frames
      * continue it.
      */
    val ruby: Seq[Rule] = Seq(
      Rule(Set("cont"), "^\\s+from\\s+.*:\\d+:in\\s+", "cont")
    )  }

  /** Is this line a continuation under the rule set? Only rules firing
    * FROM the cont state continue a record — a start-state opener
    * (python's `Traceback …`, go's `panic:`) BEGINS one, so it must
    * not glue itself to the previous record (flb_ml_rule.c fires rules
    * by from_state; collapsing all regexes together would misfile the
    * openers).
    */
  private def isContinuation(rules: Seq[Rule], line: String): Boolean =
    rules.exists(r => r.fromStates.contains("cont") && line != null &&
      java.util.regex.Pattern.compile(r.regex).matcher(line).find())

  // ------------------------------------------------------------- batch

  /** Batch assembly: lines ordered by `orderCol` within each `keyCol`
    * group; a line that is NOT a continuation starts a new record; the
    * record is the ordered concat of its lines.
    *
    * Distribution note: the window partitions by stream key (file/pod) —
    * the natural key at scale; no global ordering is ever required.
    */
  def assembleBatch(df: DataFrame, keyCols: Seq[String], orderCol: String,
                    lineCol: String, rules: Seq[Rule]): DataFrame = {
    // cont-state rules only — start-state openers begin a record, they
    // never continue one (see isContinuation)
    val contRules = rules.filter(_.fromStates.contains("cont"))
    val contPattern = contRules.map(r => s"(?:${r.regex})").mkString("|")
    val isStart =
      if (contRules.isEmpty) lit(true)
      else !coalesce(col(lineCol).rlike(contPattern), lit(false))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    val grouped = df
      .withColumn("__start", isStart.cast("long"))
      .withColumn("__grp", sum(col("__start")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    grouped
      .groupBy((keyCols.map(col) :+ col("__grp")): _*)
      .agg(
        min(col(orderCol)).as("first_" + orderCol),
        count(lit(1)).as("n_lines"),
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col(orderCol), col(lineCol)))),
          s => s.getField(lineCol))).as("message"))
      .drop("__grp")
  }

  /** CRI partial-line assembly (flb_ml_parser_cri.c concept): a record is
    * a run of `P`(artial) lines closed by an `F`(inal) line; contents
    * concatenate WITHOUT separators (the runtime split the line, not the
    * program). Group id = count of F lines strictly before this one in
    * the per-key order; `complete` marks groups that saw their F.
    */
  def assembleCriBatch(df: DataFrame, keyCols: Seq[String], orderCol: String,
                       flagCol: String, contentCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(orderCol))
    val grouped = df.withColumn("__grp",
      coalesce(sum(when(col(flagCol) === "F", 1L).otherwise(0L))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    grouped
      .groupBy((keyCols.map(col) :+ col("__grp")): _*)
      .agg(
        min(col(orderCol)).as("first_" + orderCol),
        count(lit(1)).as("n_parts"),
        concat_ws("", transform(
          array_sort(collect_list(struct(col(orderCol), col(contentCol)))),
          s => s.getField(contentCol))).as("message"),
        max(when(col(flagCol) === "F", 1L).otherwise(0L)).as("complete"))
      .drop("__grp")
  }

  /** Docker JSON-log partial assembly (flb_ml_parser_docker.c): each
    * line is `{"log": "...", "stream": "stdout", ...}`; by the Docker
    * log spec a `log` value ending in `\n` completes a record, anything
    * else is a 16KB-split partial to be concatenated with what follows
    * (ENDSWITH rule in the reference). Groups by (keyCols..., stream) —
    * `stream` is the reference's key_group — and concatenates raw `log`
    * contents without separators.
    */
  def assembleDockerBatch(df: DataFrame, keyCols: Seq[String], orderCol: String,
                          jsonCol: String): DataFrame = {
    // one JSON parse per line (two get_json_object calls would parse the
    // document twice per row)
    val parsed = df
      .withColumn("__j", from_json(col(jsonCol),
        org.apache.spark.sql.types.StructType.fromDDL("log STRING, stream STRING")))
      .withColumn("__log", col("__j.log"))
      .withColumn("stream", col("__j.stream"))
      .drop("__j")
      .withColumn("__fin",
        when(coalesce(col("__log"), lit("")).endsWith("\n"), 1L).otherwise(0L))
    val groupKeys = keyCols :+ "stream"
    val w = Window.partitionBy(groupKeys.map(col): _*).orderBy(col(orderCol))
    val grouped = parsed.withColumn("__grp",
      coalesce(sum(col("__fin")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    grouped
      .groupBy((groupKeys.map(col) :+ col("__grp")): _*)
      .agg(
        min(col(orderCol)).as("first_" + orderCol),
        count(lit(1)).as("n_parts"),
        concat_ws("", transform(
          array_sort(collect_list(struct(col(orderCol), col("__log")))),
          s => s.getField("__log"))).as("message"),
        max(col("__fin")).as("complete"))
      .drop("__grp")
  }

  // ---------------------------------------------------------- streaming

  final case class Line(key: String, seq: Long, line: String)
  final case class MlState(buffer: List[String], firstSeq: Long)
  final case class Assembled(key: String, firstSeq: Long, nLines: Int, message: String)

  /** Streaming assembly via flatMapGroupsWithState: groups flush when a
    * new start-line arrives or on processing-time timeout (≙ flush_ms).
    */
  def assembleStream(spark: SparkSession, lines: Dataset[Line], rules: Seq[Rule],
                     flushMs: Long = 2000): Dataset[Assembled] = {
    import spark.implicits._
    lines
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        (key: String, it: Iterator[Line], state: GroupState[MlState]) => {
          val out = scala.collection.mutable.ArrayBuffer[Assembled]()
          if (state.hasTimedOut) {
            state.getOption.foreach { s =>
              out += Assembled(key, s.firstSeq, s.buffer.size,
                s.buffer.reverse.mkString("\n"))
            }
            state.remove()
          } else {
            var cur = state.getOption
            it.toSeq.sortBy(_.seq).foreach { l =>
              if (isContinuation(rules, l.line) && cur.nonEmpty) {
                cur = cur.map(s => s.copy(buffer = l.line :: s.buffer))
              } else {
                cur.foreach { s =>
                  out += Assembled(key, s.firstSeq, s.buffer.size,
                    s.buffer.reverse.mkString("\n"))
                }
                cur = Some(MlState(List(l.line), l.seq))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutDuration(flushMs)
              case None => state.remove()
            }
          }
          out.iterator
        })
  }
}
