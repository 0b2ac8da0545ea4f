package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Tag-based routing (SURVEY.md §2.8).
  *
  * fluent-bit matches chunk tags against output `Match` patterns with `*`
  * wildcards (recursive matcher, `src/flb_router.c:38-137`) or full regex
  * when the pattern is wrapped in slashes. A wildcard pattern becomes, at
  * plan build time, the string test it amounts to: `*` a null check,
  * `prefix*` a `StartsWith`, `*suffix` an `EndsWith`, `*infix*` a
  * `Contains`, a pattern without `*` an equality, and any other an
  * escaped `LIKE`. None runs java.util.regex, and like the reference's
  * matcher, `*` matches line terminators too.
  */
object Router {

  /** Compile a fluent-bit wildcard pattern (`*` = any run of chars) to an
    * anchored Java/RE2-safe regex. All other chars are quoted.
    */
  def wildcardToRegex(pattern: String): String = {
    val sb = new StringBuilder("^")
    pattern.foreach {
      case '*' => sb.append(".*")
      case c if "\\.[]{}()<>+-=!?^$|".indexOf(c) >= 0 => sb.append("\\").append(c)
      case c => sb.append(c)
    }
    sb.append("$").toString
  }

  /** `tag_match(tag, 'a.*.b')` — SURVEY §4.3. Regex patterns are written
    * `/regex/` like fluent-bit's (`flb_router.c:65-77`).
    */
  def tagMatch(tag: Column, pattern: String): Column =
    if (pattern.length > 1 && pattern.startsWith("/") && pattern.endsWith("/"))
      tag.rlike(pattern.substring(1, pattern.length - 1))
    else pattern.split("\\*+", -1) match {
      case Array(exact) => tag === exact
      case Array("", "") => tag.isNotNull
      case Array(prefix, "") => tag.startsWith(prefix)
      case Array("", suffix) => tag.endsWith(suffix)
      case Array("", infix, "") => tag.contains(infix)
      case _ => tag.like(wildcardToLike(pattern))
    }

  /** A wildcard pattern as a `LIKE` pattern: `*` is `%`, and `%`, `_` and
    * the escape character `\` match themselves.
    */
  private def wildcardToLike(pattern: String): String = pattern.flatMap {
    case '*' => "%"
    case c @ ('%' | '_' | '\\') => "\\" + c
    case c => c.toString
  }

  /** `$TAG[n]` — nth dot-separated tag part (record accessor §2.7). */
  def tagPart(tag: Column, n: Int): Column =
    split(tag, "\\.").getItem(n)

  /** Route one source to the subset matching `pattern` — the per-sink
    * filter of fluent-bit's precomputed route table (`flb_router.c:247`).
    */
  def route(df: DataFrame, tagCol: String, pattern: String): DataFrame =
    df.filter(tagMatch(col(tagCol), pattern))

  /** Fan-out: one filtered view per sink pattern (each would be its own
    * writeStream in streaming mode).
    */
  def fanOut(df: DataFrame, tagCol: String, patterns: Seq[String]): Map[String, DataFrame] =
    patterns.map(p => p -> route(df, tagCol, p)).toMap
}
