package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated per-group percentiles, sort-based.
  *
  * Spark's built-in exact `percentile` aggregate is a
  * TypedImperativeAggregate that accumulates a value→count hash map PER
  * GROUP PER PARTIAL, serializes the maps across the exchange and merges
  * them single-threaded per group — memory grows with distinct values,
  * nothing is codegen'd, and the allocation burst makes its wall time
  * GC-sensitive (observed 1.2s↔8.4s swings for the same plan in bench
  * context). This operator computes the same numbers from ONE sort:
  *
  *   shuffle on the group key → in-partition sort by value
  *     → `row_number` + group count (window over the sorted run)
  *     → pick the floor/ceil ranks per requested percentile (hash agg)
  *     → linear interpolation `lo + (hi − lo)·frac`
  *
  * Sort-shuffle + hash-agg spill gracefully at any scale (no per-group
  * value maps), and every stage after the window is whole-stage codegen.
  * The interpolation matches Spark's `percentile` and DuckDB's
  * `quantile_cont`: rank position `(n−1)·p`, linear between the
  * surrounding order statistics (verified value-identical by
  * ExactPercentilesSpec against the built-in on random data).
  *
  * Null handling matches the aggregate for non-degenerate groups (nulls
  * are ignored); a group whose values are ALL null is dropped here rather
  * than emitted with null percentiles — callers needing those groups
  * should left-join this output back to the group universe.
  */
object ExactPercentiles {

  /** `percentiles`: output column name → fraction in [0, 1].
    *
    * Regime switch (`manyTinyGroups`): the default path ranks through
    * [[RangePrefix.groupedPrefixSums]], built for FEW LARGE groups —
    * its broadcast offsets frame is O(|partitions| + |groups|) rows, so
    * at millions of groups it becomes an oversized broadcast while a
    * plain `Window.partitionBy(group)` parallelizes fine (tiny groups
    * never drag a task). Callers in the many-tiny-groups regime pass
    * `manyTinyGroups = true` to take the plain per-group window instead;
    * both paths compute identical values (spec-pinned).
    */
  def perGroup(df: DataFrame, groupCols: Seq[String], valueCol: String,
      percentiles: Seq[(String, Double)],
      manyTinyGroups: Boolean = false): DataFrame = {
    require(groupCols.nonEmpty, "perGroup: at least one group column")
    require(percentiles.nonEmpty, "perGroup: at least one percentile")
    percentiles.foreach { case (nm, p) =>
      require(p >= 0.0 && p <= 1.0, s"perGroup: $nm fraction $p outside [0,1]")
    }
    val gs = groupCols.map(col)
    val base = df.filter(col(valueCol).isNotNull)
      .select(gs :+ col(valueCol).cast("double").as("__v"): _*)
    // per-group rank + size: grouped range-partitioned prefix for few
    // large groups (a bare Window.partitionBy(group) caps parallelism at
    // |groups| — the few-large-groups trap, RangePrefix scaladoc), plain
    // per-group window when the caller declares many tiny groups; ties
    // share __v so rank permutation among them cannot change any picked
    // value
    val ranked =
      if (manyTinyGroups) {
        val byGroup = Window.partitionBy(gs: _*).orderBy(col("__v"))
        val whole = Window.partitionBy(gs: _*).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        base.withColumn("__rn", row_number().over(byGroup).cast("long") - 1L)
          .withColumn("__n", count(lit(1)).over(whole))
      } else RangePrefix.groupedPrefixSums(
          base.withColumn("__one", lit(1L)),
          groupCols, Seq(col("__v")), Seq("__one"))
        .withColumn("__rn", col("__one_cum") - 1L)
        .withColumn("__n", col("__one_tot"))

    def pos(p: Double): Column = (col("__n") - 1L).cast("double") * lit(p)

    // per percentile: the two order statistics surrounding rank (n−1)·p,
    // picked with conditional aggregates (exactly one row matches each)
    val picks = percentiles.flatMap { case (nm, p) =>
      Seq(
        max(when(col("__rn") === floor(pos(p)).cast("long"), col("__v")))
          .as(s"__lo_$nm"),
        max(when(col("__rn") === ceil(pos(p)).cast("long"), col("__v")))
          .as(s"__hi_$nm"))
    } :+ max(col("__n")).as("__n")
    val agg = ranked.groupBy(gs: _*).agg(picks.head, picks.tail: _*)

    val outCols = gs ++ percentiles.map { case (nm, p) =>
      val frac = pos(p) - floor(pos(p))
      (col(s"__lo_$nm") + (col(s"__hi_$nm") - col(s"__lo_$nm")) * frac).as(nm)
    }
    agg.select(outCols: _*)
  }

  /** Weighted percentiles over a PRE-AGGREGATED per-group value domain:
    * `df` carries (group, value) rows with `weightCol` = how many
    * original rows hold that value. For BOUNDED value domains (integer
    * day gaps, fixed price grids) this is the scale-right shape: the
    * caller collapses the fact to its value domain with one map-side-
    * combinable aggregation, and the ranking window here only ever sees
    * a calendar/grid-bounded frame per group — no range partitioning, no
    * boundary sampling, and the expensive upstream lineage executes once
    * (both consumers of the domain table share its exchange via reuse)
    * instead of once per prefix branch.
    *
    * Identical values to [[perGroup]] over the expanded rows (spec-
    * pinned): a domain row covers the 0-based rank interval
    * [cum − w, cum − 1] under the value order, so the floor/ceil order
    * statistics at rank (n−1)·p are the same doubles, and the
    * interpolation arithmetic is unchanged. A (group, value) pair may
    * repeat: the tied rows' intervals tile one contiguous range whatever
    * their order, so they rank as one row with the summed weight. Groups
    * whose values are all null (i.e. absent from the domain table) or
    * whose weights are all zero or null hold no original row and are
    * dropped, as in [[perGroup]].
    */
  def perGroupWeighted(df: DataFrame, groupCols: Seq[String],
      valueCol: String, weightCol: String,
      percentiles: Seq[(String, Double)]): DataFrame = {
    require(groupCols.nonEmpty, "perGroupWeighted: at least one group column")
    require(percentiles.nonEmpty, "perGroupWeighted: at least one percentile")
    percentiles.foreach { case (nm, p) =>
      require(p >= 0.0 && p <= 1.0,
        s"perGroupWeighted: $nm fraction $p outside [0,1]")
    }
    val gs = groupCols.map(col)
    val base = df
      .filter(col(valueCol).isNotNull && col(weightCol).cast("long") > 0L)
      .select(gs ++ Seq(col(valueCol).cast("double").as("__v"),
        col(weightCol).cast("long").as("__w")): _*)
    val byGroup = Window.partitionBy(gs: _*).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy(gs: _*).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = base
      .withColumn("__cum", sum(col("__w")).over(byGroup))
      .withColumn("__n", sum(col("__w")).over(whole))

    def pos(p: Double): Column = (col("__n") - 1L).cast("double") * lit(p)

    // the domain rows whose rank interval [cum − w, cum − 1] contains the
    // floor/ceil target rank — one row, or tied rows sharing one value
    val picks = percentiles.flatMap { case (nm, p) =>
      def covers(target: Column): Column =
        col("__cum") - col("__w") <= target && target <= col("__cum") - 1L
      Seq(
        max(when(covers(floor(pos(p)).cast("long")), col("__v")))
          .as(s"__lo_$nm"),
        max(when(covers(ceil(pos(p)).cast("long")), col("__v")))
          .as(s"__hi_$nm"))
    } :+ max(col("__n")).as("__n")
    val agg = ranked.groupBy(gs: _*).agg(picks.head, picks.tail: _*)

    val outCols = gs ++ percentiles.map { case (nm, p) =>
      val frac = pos(p) - floor(pos(p))
      (col(s"__lo_$nm") + (col(s"__hi_$nm") - col(s"__lo_$nm")) * frac).as(nm)
    }
    agg.select(outCols: _*)
  }
}
