package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** A record's keys as ordered (name, expression) pairs over one input
  * frame. Ops that only rewrite, add, drop or reorder keys build one of
  * these instead of chaining `withColumn`/`drop`, so the whole op is one
  * projection, and the config frontend can decide per row whether it
  * applies ([[graft.config.ClassicConfig]]'s Match gating).
  *
  * Each step mirrors the DataFrame call it stands for: `set` is
  * `withColumn` (replaced in place, else appended), `rename` is
  * `withColumnRenamed` (in place), `drop` and `select` are theirs. Every
  * expression reads the input frame's columns, so a key read after an
  * earlier step rewrote it must be read through `apply`.
  */
final case class Fields(entries: Vector[(String, Column)]) {
  def names: Seq[String] = entries.map(_._1)

  def has(k: String): Boolean = entries.exists(_._1 == k)

  /** The current expression of `k`; an absent key reads the input. */
  def apply(k: String): Column =
    entries.collectFirst { case (`k`, e) => e }.getOrElse(col(k))

  def set(k: String, v: Column): Fields =
    if (has(k)) Fields(entries.map { case (`k`, _) => k -> v; case e => e })
    else Fields(entries :+ (k -> v))

  def rename(from: String, to: String): Fields =
    Fields(entries.map { case (`from`, e) => to -> e; case e => e })

  def drop(ks: String*): Fields = Fields(entries.filterNot(e => ks.contains(e._1)))

  def select(ks: Seq[String]): Fields = Fields(ks.map(k => k -> apply(k)).toVector)

  /** The record as one projection of `df`, the frame it was built over. */
  def frame(df: DataFrame): DataFrame =
    df.select(entries.map { case (n, e) => e.as(n) }: _*)
}

object Fields {
  /** `df`'s columns, in order, each reading itself. */
  def of(df: DataFrame): Fields = Fields(df.columns.toVector.map(c => c -> col(c)))
}
