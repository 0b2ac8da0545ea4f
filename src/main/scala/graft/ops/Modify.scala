package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** filter_modify (reference `plugins/filter_modify/modify.h:28-53`, exec
  * modify.c:1486): RENAME / HARD_RENAME / ADD / SET / REMOVE /
  * REMOVE_WILDCARD / REMOVE_REGEX / COPY / HARD_COPY, gated by
  * KEY_EXISTS / KEY_VALUE_EQUALS / ... conditions.
  *
  * Spark mapping: fluent-bit records are schemaless, Spark schemas are
  * fixed — so *structural* rules (rename/remove/copy) act on columns
  * (whole-DataFrame), while *value* rules (SET) are per-row `when(...)`
  * expressions gated by the condition. All rules fold into one
  * projection ([[Fields]]). Wildcard/regex key rules target
  * either column names or a MAP<STRING,STRING> residue column via
  * `map_filter` (codegen'd higher-order function, no UDF).
  */
object Modify {

  sealed trait Rule
  /** RENAME: no-op if `to` already exists (HARD_RENAME overwrites). */
  final case class Rename(from: String, to: String, hard: Boolean = false) extends Rule
  /** ADD: only if key absent; SET overwrites. */
  final case class Add(key: String, value: Column) extends Rule
  final case class Set(key: String, value: Column) extends Rule
  final case class Remove(key: String) extends Rule
  final case class RemoveWildcard(prefix: String) extends Rule
  final case class RemoveRegex(pattern: String) extends Rule
  final case class Copy(from: String, to: String, hard: Boolean = false) extends Rule
  /** MOVE_TO_START / MOVE_TO_END (modify.h:38-39): reorder keys matching
    * a prefix wildcard to the front/back of the record.
    */
  final case class MoveToStart(prefix: String) extends Rule
  final case class MoveToEnd(prefix: String) extends Rule

  /** A condition reads the record as it enters the filter. */
  sealed trait Condition { def toColumn(in: Fields): Column }
  final case class KeyExists(key: String) extends Condition {
    def toColumn(in: Fields): Column =
      if (in.has(key)) in(key).isNotNull else lit(false)
  }
  final case class KeyValueEquals(key: String, value: String) extends Condition {
    def toColumn(in: Fields): Column =
      if (in.has(key)) in(key).cast("string") === value else lit(false)
  }
  final case class KeyValueMatches(key: String, pattern: String) extends Condition {
    def toColumn(in: Fields): Column =
      if (in.has(key)) coalesce(in(key).cast("string").rlike(pattern), lit(false))
      else lit(false)
  }

  def apply(df: DataFrame, rules: Seq[Rule], conditions: Seq[Condition] = Nil): DataFrame =
    fields(Fields.of(df), rules, conditions).frame(df)

  /** The rules' result over the record `in`. The conditions are read
    * once, on `in` (modify.c evaluates them before any rule runs).
    */
  def fields(in: Fields, rules: Seq[Rule], conditions: Seq[Condition] = Nil): Fields = {
    val gate: Option[Column] =
      if (conditions.isEmpty) None else Some(conditions.map(_.toColumn(in)).reduce(_ && _))
    rules.foldLeft(in) { (f, rule) =>
      rule match {
        case Rename(from, to, hard) =>
          if (!f.has(from) || (f.has(to) && !hard)) f
          else f.drop(to).rename(from, to)
        case Add(key, value) =>
          if (f.has(key)) f
          else f.set(key, gated(gate, value, lit(null)))
        case Set(key, value) =>
          val orig = if (f.has(key)) f(key) else lit(null)
          f.set(key, gated(gate, value, orig))
        case Remove(key) => f.drop(key)
        case RemoveWildcard(prefix) => f.drop(f.names.filter(_.startsWith(prefix)): _*)
        case RemoveRegex(pattern) => f.drop(f.names.filter(_.matches(pattern)): _*)
        case Copy(from, to, hard) =>
          if (!f.has(from) || (f.has(to) && !hard)) f
          else f.set(to, gated(gate, f(from), lit(null)))
        case MoveToStart(prefix) =>
          val (m, rest) = f.names.partition(_.startsWith(prefix))
          f.select(m ++ rest)
        case MoveToEnd(prefix) =>
          val (m, rest) = f.names.partition(_.startsWith(prefix))
          f.select(rest ++ m)
      }
    }
  }

  private def gated(gate: Option[Column], value: Column, orElse: Column): Column =
    gate.map(g => when(g, value).otherwise(orElse)).getOrElse(value)
}
