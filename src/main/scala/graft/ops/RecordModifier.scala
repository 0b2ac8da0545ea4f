package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** filter_record_modifier (reference
  * `plugins/filter_record_modifier/filter_modifier.h:44-57`, exec
  * filter_modifier.c:298): project-keep (`allowlist_key`) and append
  * static k/v (`record`); `remove_key` is a plain `drop`.
  *
  * Pure column pruning — Catalyst pushes the projection into the scan
  * (ReadSchema shrinks), which is exactly what you want at 100 TB.
  */
object RecordModifier {
  def allowlistKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.select(keys.filter(df.columns.contains).map(col).toIndexedSeq: _*)

  def appendRecords(df: DataFrame, kvs: Seq[(String, Column)]): DataFrame =
    kvs.foldLeft(df) { case (d, (k, v)) => d.withColumn(k, v) }
}

/** filter_nest (reference `plugins/filter_nest/nest.h:26-31`, exec
  * nest.c:631): NEST folds keys matching a wildcard under a new struct
  * key; LIFT splats a nested struct up with an optional prefix.
  */
object Nest {
  def nest(df: DataFrame, wildcard: String, nestUnder: String): DataFrame = {
    val re = graft.route.Router.wildcardToRegex(wildcard)
    val nested = df.columns.filter(_.matches(re))
    if (nested.isEmpty) df
    else {
      val keep = df.columns.filterNot(nested.contains).map(col)
      df.select((keep :+ struct(nested.map(col).toIndexedSeq: _*).as(nestUnder)).toIndexedSeq: _*)
    }
  }

  def lift(df: DataFrame, nestedUnder: String, addPrefix: String = ""): DataFrame = {
    val sub = df.schema(nestedUnder).dataType match {
      case s: org.apache.spark.sql.types.StructType => s.fieldNames
      case other => throw new IllegalArgumentException(
        s"lift: $nestedUnder is ${other.simpleString}, expected struct")
    }
    val keep = df.columns.filterNot(_ == nestedUnder).map(col)
    val lifted = sub.map(f => col(s"$nestedUnder.$f").as(s"$addPrefix$f"))
    df.select((keep ++ lifted).toIndexedSeq: _*)
  }
}

/** filter_type_converter (reference
  * `plugins/filter_type_converter/type_converter.c:182`, types
  * include/fluent-bit/flb_typecast.h:29-37): cast fields between
  * int/uint/float/bool/string/hex. `try_cast` semantics: unparseable
  * values become NULL instead of failing the job (matches the
  * reference's per-record tolerance).
  */
object TypeConverter {
  final case class Cast(from: String, to: String, dataType: String)

  /** flb_typecast uses strtol/strtod: a numeric *prefix* parses ("3.5x"
    * → int 3), a non-numeric string yields no value. We mirror that with
    * a leading-number extract + try_cast (all codegen'd expressions).
    */
  private def numericPrefix(src: Column): Column =
    regexp_extract(src, "^[-+]?[0-9]*\\.?[0-9]+([eE][-+]?[0-9]+)?", 0).try_cast("double")

  def apply(df: DataFrame, rules: Seq[Cast]): DataFrame =
    rules.foldLeft(df) { (d, r) =>
      val src = col(r.from).cast("string")
      val converted = r.dataType match {
        case "hex" => conv(src, 16, 10).cast("long")
        case "int" | "long" | "uint" => numericPrefix(src).cast("long")
        case "float" | "double" => numericPrefix(src)
        case "bool" | "boolean" => src.try_cast("boolean")
        case t => src.try_cast(t)
      }
      d.withColumn(r.to, converted)
    }
}
