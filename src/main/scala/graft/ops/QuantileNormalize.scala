package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quantile normalization — map every group's distribution onto the
  * GLOBAL distribution (the reference's only scaling is
  * cast-all-to-double, `04a_Task__Feature_Engineering.py:556-558` /
  * SURVEY.md P11 — shape normalization is absent from it entirely):
  * each value is replaced by the global value at
  * its group-relative rank. The cross-cohort feature-scaling transform
  * (microarray-famous, equally at home normalizing per-source quality
  * scores before a corpus-wide cutoff) that z-scoring cannot replicate
  * when shapes differ, not just moments.
  *
  * Exactness: there is NO float arithmetic — the output values are the
  * input's own doubles, relocated. The group rank r ∈ [0, gn) maps to
  * global index `round(r/(gn−1)·(N−1))` computed as the exact integer
  * half-up identity `(2r(N−1) + (gn−1)) div (2(gn−1))` (singleton
  * groups land mid-distribution), so the whole transform hash-matches
  * the oracle bit for bit.
  *
  * Scale shape: per-group ranks are windows bounded by group size; the
  * GLOBAL rank is [[RangePrefix.prefixSums]] with unit weights (the
  * shared range-partitioned prefix machinery — no single-task global
  * window); the relocation is one equi-join on an 8-byte index. Ties
  * order by (value, id) — total, engine-identical.
  */
object QuantileNormalize {

  /** df + `__gidx` (0-based global rank by `orderBy`) + `__N` (total),
    * expressed through [[RangePrefix.prefixSums]] with unit weights
    * (rank = inclusive cumulative count − 1) so the subtle distributed
    * prefix/boundary invariants live in ONE place.
    */
  private def globalIndexed(df: DataFrame, orderBy: Seq[Column]): DataFrame =
    RangePrefix.prefixSums(df.withColumn("__w", lit(1L)), orderBy, Seq("__w"))
      .withColumn("__gidx", col("__w_cum") - 1L)
      .withColumn("__N", col("__w_tot"))
      .drop("__w", "__w_cum", "__w_tot")

  /** Append `normalized_value`: the global value at each row's
    * group-relative rank. `idCol` breaks ties (must make the order
    * total). Output: groupCols, idCol, valueCol, normalized_value.
    */
  def perGroup(df: DataFrame, groupCols: Seq[String], valueCol: String,
      idCol: String): DataFrame = {
    val g = groupCols.map(col)
    val order = Seq(col(valueCol), col(idCol))
    // per-group rank + size via the grouped range-partitioned prefix — a
    // bare Window.partitionBy(group) caps parallelism at |groups| (the
    // few-large-groups trap, RangePrefix scaladoc); (value, id) makes
    // the in-group order total
    val ranked = RangePrefix.groupedPrefixSums(
        df.withColumn("__one", lit(1L)), groupCols, order, Seq("__one"))
      .withColumn("__gr", col("__one_cum") - 1L)
      .withColumn("__gn", col("__one_tot"))
      .drop("__one", "__one_cum", "__one_tot")
    val gi = globalIndexed(df.select(col(valueCol), col(idCol)), order)
    val nFrame = gi.agg(max(col("__N")).as("__N"))
    val lookup = gi.select(col("__gidx").as("__idx"),
      col(valueCol).as("normalized_value"))
    ranked.crossJoin(broadcast(nFrame))
      .withColumn("__idx", when(col("__gn") === 1L,
          expr("(__N - 1L) div 2L"))
        .otherwise(expr(
          "(2L * __gr * (__N - 1L) + (__gn - 1L)) div (2L * (__gn - 1L))")))
      .join(lookup, Seq("__idx"))
      .select(g ++ Seq(col(idCol), col(valueCol), col("normalized_value")): _*)
  }
}
