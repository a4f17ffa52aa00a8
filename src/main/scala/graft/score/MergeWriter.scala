package graft.score

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.features.FeatureTable

/** Schema-evolving keyed MERGE for the pivoted propensity table
  * (SURVEY.md S7; Delta MERGE + `schema.autoMerge` at `04c:156,189-202`).
  *
  * Each commodity's scores arrive as (household_key, day, prediction) and
  * must land as a COLUMN named after the commodity: matched households get
  * the new score, unmatched keep their row (other columns untouched), new
  * households are inserted, and a first-seen commodity adds its column to
  * the schema. Relationally: FULL OUTER join on the key + per-column
  * `coalesce(src, target)` — the join/update shape Delta's merge executes,
  * minus the transaction log (see `mergeWide` for the NULL-update nuance);
  * atomicity comes from FeatureTable's staged directory swap.
  *
  * Scale: all commodities of a scoring day arrive as one wide source
  * (`pivotScores`), so `mergeWide` shuffles on the key and rewrites the
  * table once per day, not once per commodity.
  */
object MergeWriter {

  /** `groupBy().pivot()` — the idiomatic Spark form of the reference's
    * per-commodity merge loop; `values` pins the column set so the plan
    * needs no extra distinct pass and the output schema is deterministic.
    */
  def pivotScores(scores: DataFrame, commodities: Seq[String]): DataFrame =
    scores.groupBy("household_key", "day")
      .pivot("commodity_desc", commodities)
      .agg(first(col("prediction")))

  /** Merge a WIDE (already-pivoted) score batch into the table: one
    * full-outer join + one rewrite per scoring day for ALL commodities.
    * Matched keys take the incoming score per overlapping column via
    * `coalesce(src, target)` — a MERGE-PATCH: an incoming NULL means
    * "no score this run, keep the previous one", matching the reference's
    * per-commodity loop (each pass only touches its own column,
    * `04c:189-202`). Note this is narrower than a literal Delta
    * `UPDATE SET col = src.col`, which would overwrite with NULL; a
    * revocation semantic would need an explicit sentinel, not NULL.
    * Columns absent from the batch are kept, and first-seen columns
    * evolve the schema (`schema.autoMerge`, `04c:156`).
    */
  def mergeWide(spark: SparkSession, table: FeatureTable, src: DataFrame): Unit = {
    if (!table.exists) { table.overwrite(src); return }
    val target = table.read(spark)
    val joined = target.as("t").join(src.as("s"), table.keys, "full_outer")
    val tCols = target.columns.toSeq.filterNot(table.keys.contains)
    val sCols = src.columns.toSeq.filterNot(table.keys.contains)
    val merged = joined.select(
      table.keys.map(col) ++
        tCols.map(c => (if (sCols.contains(c)) coalesce(col(s"s.$c"), col(s"t.$c"))
                        else col(s"t.$c")).as(c)) ++
        sCols.filterNot(tCols.contains).map(c => col(s"s.$c").as(c)): _*)
    table.overwrite(merged)
  }

}
