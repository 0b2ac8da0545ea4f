package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** filter_rewrite_tag (reference `plugins/filter_rewrite_tag/
  * rewrite_tag.c:425`, rule struct rewrite_tag.h:32-48): rule =
  * `$key regex new_tag keep?`. On match, the record is re-emitted under
  * the new tag (templated from record-accessor refs and regex capture
  * groups); `keep` controls whether the original also survives.
  *
  * Spark mapping: the new tag is a codegen'd `regexp_replace`-style
  * template; re-emission is a bounded run of per-row re-tagging
  * projections ending in one `explode` (no recursion, no union —
  * SURVEY §7.4(4)).
  */
object RewriteTag {

  /** One rule: `$key regex new_tag keep`. `gate` restricts which records
    * the rule may match at all — the filter instance's Match pattern on
    * the record's tag (a rule in a `Match app.*` filter never touches a
    * `db.*` record, and a record it re-tags out of the pattern is not
    * re-matched on later passes).
    */
  final case class Rule(field: Column, pattern: String, newTagTemplate: Column,
                        keep: Boolean, gate: Column = lit(true))

  /** Apply one rule. Returns the full routed DataFrame: rewritten records
    * (new tag) plus originals (all if keep, else only non-matching).
    */
  def apply(df: DataFrame, tagCol: String, rule: Rule): DataFrame =
    reinjectLoop(df, tagCol, Seq(rule), maxHops = 1)

  /** `$1`-style capture-group reference for tag templates. */
  def capture(field: Column, pattern: String, group: Int): Column =
    regexp_extract(field, pattern, group)

  /** Re-injection loop (rewrite_tag.c:425 + in_emitter): rewritten
    * records re-enter routing and may match other rules under their new
    * tag. The reference bounds this by emitter capacity; here it is
    * `maxHops` deep, in one pass over `df`: each hop is a projection that
    * re-tags the records a rule matches, and one `explode` at the end
    * emits every record's kept originals plus its final form.
    *
    * Faithful to the reference's per-pass loop (rewrite_tag.c:380-390):
    * the FIRST matching rule wins — it fixes the new tag and its `keep`
    * flag, and later rules never see the record that pass. A matched
    * record's rewritten copy re-enters the next hop (the emitter path);
    * the original either settles into the output (`keep=true`) or is
    * dropped. Unmatched records settle unchanged. No distinct() anywhere:
    * legitimately identical input records keep their multiplicity, and
    * re-emission never manufactures duplicates (one copy per match).
    * Records still matching after `maxHops` are emitted as-is — the
    * bounded analogue of the reference's emitter backlog.
    *
    * Only the records the previous hop re-tagged are tested again, as
    * only re-emitted records re-enter the reference's flow: a record no
    * rule matched keeps its tag and fields, so it would not match the
    * next hop either.
    *
    * The `explode` also keeps an output's route filter on the tag above
    * the hops: pushed through them, Catalyst would inline every hop's tag
    * expression into the filter, doubling the rule regexes per hop.
    */
  def reinjectLoop(df: DataFrame, tagCol: String, rules: Seq[Rule],
                   maxHops: Int = 4): DataFrame = {
    require(rules.nonEmpty, "reinjectLoop needs at least one rule")
    val matches = rules.map(r =>
      coalesce(r.gate, lit(false)) && coalesce(r.field.rlike(r.pattern), lit(false)))
    // the tags a record's kept originals settle under, hop by hop, and
    // whether the last hop re-tagged it
    val kept = "__rewrite_tag_kept"
    val live = "__rewrite_tag_live"
    val hit = col(live) && matches.reduce(_ || _)
    // First-match-wins when-chains, read only where `hit` holds: rule i
    // applies iff no earlier matched, so the last needs no test.
    def firstMatch(of: Rule => Column): Column =
      rules.zip(matches).init.foldRight(of(rules.last)) {
        case ((r, m), els) => when(m, of(r)).otherwise(els)
      }
    val start = df
      .withColumn(kept, array().cast(ArrayType(df.schema(tagCol).dataType)))
      .withColumn(live, lit(true))
    val hopped = (1 to maxHops).foldLeft(start) { (d, _) =>
      d.select(d.columns.toSeq.map {
        case `tagCol` => when(hit, firstMatch(_.newTagTemplate)).otherwise(col(tagCol)).as(tagCol)
        case `kept` => when(hit && firstMatch(r => lit(r.keep)),
          concat(col(kept), array(col(tagCol)))).otherwise(col(kept)).as(kept)
        case `live` => hit.as(live)
        case c => col(c)
      }: _*)
    }
    hopped.withColumn(tagCol, explode(concat(col(kept), array(col(tagCol)))))
      .drop(kept, live)
  }
}
