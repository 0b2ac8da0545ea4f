package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** processor_content_modifier (reference
  * `plugins/processor_content_modifier/cm.h:34-41`, dispatch
  * cm_config.c:27-60): insert / upsert / delete / rename / hash (SHA-256)
  * / extract (regex groups → new keys) / convert, on body or metadata.
  * The reference's optional per-record condition (flb_conditionals.h:55-64)
  * is not modelled; the config frontend gates by Match only.
  *
  * All actions are single Catalyst expressions (sha2, regexp_extract,
  * cast) over a record's [[Fields]] — whole-stage-codegen friendly, and
  * one projection however many actions run.
  */
object ContentModifier {

  def insert(f: Fields, key: String, value: Column): Fields =
    if (f.has(key)) f else f.set(key, value)

  def upsert(f: Fields, key: String, value: Column): Fields = f.set(key, value)

  def delete(f: Fields, key: String): Fields = f.drop(key)

  def rename(f: Fields, from: String, to: String): Fields = f.rename(from, to)

  /** SHA-256 of the field's string form, hex-encoded — cm.h action hash. */
  def hash(f: Fields, key: String): Fields =
    f.set(key, sha2(f(key).cast("string"), 256))

  /** Extract regex groups into new columns. The reference uses named
    * groups (`?<name>`); Spark's regexp_extract is positional, so the
    * caller supplies group-index→column-name.
    */
  def extract(f: Fields, source: Column, pattern: String,
              groups: Seq[(Int, String)]): Fields =
    groups.foldLeft(f) { case (g, (idx, name)) =>
      g.set(name, regexp_extract(source, pattern, idx))
    }

  def convert(f: Fields, key: String, to: String): Fields =
    f.set(key, f(key).try_cast(to))
}

/** processor_metrics_selector (reference
  * `plugins/processor_metrics_selector/selector.c:80-126`): keep/delete
  * metrics by name — exact, regex (`/.../`), prefix, or substring.
  */
object MetricsSelector {
  sealed trait Mode
  case object Include extends Mode
  case object Exclude extends Mode

  def apply(df: DataFrame, nameCol: Column, pattern: String, mode: Mode,
            opType: String = "exact"): DataFrame = {
    val m: Column = opType match {
      case _ if pattern.length > 1 && pattern.startsWith("/") && pattern.endsWith("/") =>
        nameCol.rlike(pattern.substring(1, pattern.length - 1))
      case "prefix" => nameCol.startsWith(pattern)
      case "substring" => nameCol.contains(pattern)
      case _ => nameCol === pattern
    }
    df.filter(if (mode == Include) m else !m)
  }
}
