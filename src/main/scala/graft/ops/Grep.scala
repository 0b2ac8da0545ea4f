package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** filter_grep (reference `plugins/filter_grep/grep.c:286`, logical op
  * config :220-236): keep records whose field matches `regex` rules, drop
  * those matching `exclude` rules, combined with AND/OR.
  *
  * Spark-first: each rule compiles to a codegen'd `RLike` predicate, or
  * to `StartsWith`/`Contains` when the regex is a plain literal; the
  * whole filter is one Catalyst `Filter` node, so it pushes down/fuses
  * with adjacent operators — no per-row interpreter.
  */
object Grep {

  /** One rule; `exclude=true` means "drop on match" (fluent-bit Exclude). */
  final case class Rule(field: Column, pattern: String, exclude: Boolean = false) {
    /** Missing key (NULL) never matches — matches fluent-bit, where an
      * absent record-accessor path fails the rule.
      */
    def satisfied: Column =
      if (exclude) !coalesce(matches, lit(false))
      else coalesce(matches, lit(false))

    /** `field RLIKE pattern`, or the string test it amounts to: `^` and a
      * literal is a `StartsWith`, a bare literal a `Contains`.
      */
    private def matches: Column = {
      val anchored = pattern.startsWith("^")
      val text = if (anchored) pattern.substring(1) else pattern
      if (!text.forall(Grep.literal)) field.rlike(pattern)
      else if (anchored) field.startsWith(text)
      else field.contains(text)
    }
  }

  /** A character that matches only itself in a regex, and in the UTF-8
    * bytes of any line as in its decoding (not U+FFFD, which stands for a
    * malformed byte, nor a lone surrogate).
    */
  private def literal(c: Char): Boolean =
    if (c < 128) c >= ' ' && c != 127 && !"\\^$.|?*+()[]{}".contains(c)
    else c != '\uFFFD' && !Character.isSurrogate(c)

  sealed trait LogicalOp
  case object And extends LogicalOp
  case object Or extends LogicalOp
  /** fluent-bit `legacy` mode (grep.c grep_filter_data): SEQUENTIAL
    * first-decision in rule order — an Exclude rule drops on match and
    * passes on otherwise; the FIRST Regex rule decides keep/drop
    * outright (rules after it are unreachable); no rules ⇒ keep. Rule
    * ORDER therefore matters, exactly as in the reference.
    */
  case object Legacy extends LogicalOp

  def predicate(rules: Seq[Rule], op: LogicalOp): Column = op match {
    case And => rules.map(_.satisfied).reduce(_ && _)
    case Or => rules.map(_.satisfied).reduce(_ || _)
    case Legacy =>
      def chain(rs: List[Rule]): Column = rs match {
        case Nil => lit(true)
        case r :: rest if r.exclude =>
          // exclude: drop on match, otherwise evaluate the next rule
          when(!r.satisfied, lit(false)).otherwise(chain(rest))
        case r :: _ =>
          // first regex rule decides either way; later rules unreachable
          r.satisfied
      }
      chain(rules.toList)
  }

  def apply(df: DataFrame, rules: Seq[Rule], op: LogicalOp = Legacy): DataFrame =
    df.filter(predicate(rules, op))
}
