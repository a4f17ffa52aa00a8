package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SharedExecution

/** Distributed global prefix sums under a total order — the shared
  * machinery behind [[Ntile.global]] (global row ranks), [[Drift.exactKs]]
  * (two-sample cumulative counts), and [[Conformal.splitConformal]]
  * (order-statistic location), extracted so the subtle distributed-prefix
  * shape lives in ONE place.
  *
  * A global running sum requires a total order, and the naive window
  * (`SUM(w) OVER (ORDER BY …)`) plans to a SINGLE task. This computes the
  * same values distributed:
  *
  *   repartitionByRange(order) → per-partition running sums (window
  *     PARTITIONED by `spark_partition_id()`, each task scans only its
  *     slice) → add the broadcast-joined exclusive total of the
  *     partitions before it.
  *
  * The offset frame is |shuffle partitions| rows — control-sized, its own
  * cumulative window free. Both branches (offsets and the windowed
  * join-back) scan ONE execution of the range repartition
  * ([[pinnedRangePartition]]), so they agree on every pid. Range
  * partitioning keeps equal keys on one side of each boundary, so
  * slice-local sums + offsets compose to exactly the single-task result;
  * each consumer's spec pins equality against the naive window on
  * randomized data.
  *
  * Callers must pass a TOTAL order (break ties — e.g. append a key
  * column), or boundary duplicates would make the prefix
  * partitioning-dependent.
  */
object RangePrefix {

  /** The range-partitioned frame with its `__pid`, as a frame over ONE
    * execution's RDD ([[org.apache.spark.sql.graftbridge.SharedExecution]]).
    * This is a correctness requirement, not a cache: the two consumers
    * (the offsets aggregate and the windowed join-back) meet in a
    * self-join, whose attribute dedup re-ids one side, so exchange reuse
    * is NOT reliable — and two independent executions of a range
    * repartition can assign pids DIFFERENTLY (RangePartitioner samples
    * its input, and upstream AQE-coalesced joins make row order
    * non-deterministic between executions). The branches would then
    * disagree on pid→offset and silently corrupt prefixes — caught live
    * by theil_sen_trend going 32%-wrong (NULL medians included) the
    * moment its input came from the bucketed silver
    * (`RangePrefixRegressionSpec`).
    *
    * Scanning one RDD instance, both branches share one
    * `ShuffleDependency` and one RangePartitioner, whose bounds are fixed
    * once sampled. If a map output is lost (executor loss), Spark
    * recomputes it through that same partitioner, and pid is a function
    * of the row's key against those bounds, so no row changes pid. No
    * block needs to survive: nothing is checkpointed or cached.
    *
    * Building the frame plans the repartition and, under AQE, runs its
    * sampling and shuffle map jobs, so a consumer that builds a prefix
    * frame and never executes it still pays one pass. Plans show the
    * `__pid`-partitioned window over a `Scan ExistingRDD` rather than the
    * rangepartitioning exchange itself.
    */
  private def pinnedRangePartition(df: DataFrame,
      keys: Seq[Column]): DataFrame =
    SharedExecution.of(df.repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id()))

  /** The slice-local window below needs ClusteredDistribution(__pid) —
    * the shared frame does not report clustering on the computed `__pid`,
    * so an exchange is planned, and AQE's byte-based coalescing collapses
    * it to ONE task whenever the frame is KB-sized (aggregated domains,
    * pair frames) even though the window pass is the consumer's CPU. A
    * numbered repartition on __pid (REPARTITION_BY_NUM, exempt from
    * coalescing) pins the window stage at the session's
    * shuffle-partitions parallelism; every __pid group still lands whole
    * in one partition, so the per-slice sums are unchanged. Fact-scale
    * consumers see the same single exchange they already paid, just with
    * a pinned partition count.
    */
  private def pinParallel(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
      col("__pid"))

  /** For each weight column `w` in `weights` (integral type), append
    * `<w>_cum` = the inclusive global running sum of `w` under `orderBy`,
    * and `<w>_tot` = its grand total. Row order and all input columns are
    * preserved (plus the appended ones).
    */
  def prefixSums(df: DataFrame, orderBy: Seq[Column],
      weights: Seq[String]): DataFrame = {
    require(orderBy.nonEmpty, "RangePrefix: at least one sort column")
    require(weights.nonEmpty, "RangePrefix: at least one weight column")
    val parted = pinnedRangePartition(df, orderBy)
    // control-sized frame: per-partition totals → exclusive offsets + grand totals
    val perPart = parted.groupBy("__pid").agg(
      sum(col(weights.head)).as(s"__c_${weights.head}"),
      weights.tail.map(w => sum(col(w)).as(s"__c_$w")): _*)
    val offsets = weights.foldLeft(perPart) { (d, w) =>
      d.withColumn(s"__off_$w", coalesce(
          sum(col(s"__c_$w")).over(Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn(s"__tot_$w", sum(col(s"__c_$w")).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
    }.select(col("__pid") +:
      weights.flatMap(w => Seq(col(s"__off_$w"), col(s"__tot_$w"))): _*)
    val local = Window.partitionBy(col("__pid")).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, 0)
    val joined = pinParallel(parted).join(broadcast(offsets), Seq("__pid"))
    weights.foldLeft(joined) { (d, w) =>
      d.withColumn(s"${w}_cum", col(s"__off_$w") + sum(col(w)).over(local))
        .withColumn(s"${w}_tot", col(s"__tot_$w"))
    }.drop("__pid" +:
      weights.flatMap(w => Seq(s"__off_$w", s"__tot_$w")): _*)
  }

  /** Per-GROUP global running sums — the FEW-LARGE-GROUPS regime where a
    * plain `Window.partitionBy(group)` caps parallelism at |groups| (one
    * task drags the whole group: measured 18.7× growth on the per-type
    * anomaly baseline at events×50). Ranges partition on
    * (groupCols, orderBy) so each group splits across many tasks; the
    * per-(partition, group) slice sums form the control frame, whose
    * per-group exclusive running offset rebuilds the exact single-task
    * result. Appends `<w>_cum` (inclusive, within the row's group) per
    * weight. The offsets frame is O(|partitions| + |groups|) rows and is
    * broadcast — for MILLIONS of tiny groups use the plain per-group
    * window instead (it parallelizes fine there; this operator is for
    * the opposite regime). The (groupCols, orderBy) order must be total
    * within each group (ties that share all weight-relevant values are
    * harmless: ranks permute among equal rows only).
    * Appends `<w>_cum` (inclusive, within the row's group) and
    * `<w>_tot` (the group's grand total) per weight.
    */
  def groupedPrefixSums(df: DataFrame, groupCols: Seq[String],
      orderBy: Seq[Column], weights: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty, "RangePrefix: at least one group column")
    require(orderBy.nonEmpty, "RangePrefix: at least one sort column")
    require(weights.nonEmpty, "RangePrefix: at least one weight column")
    val g = groupCols.map(col)
    val parted = pinnedRangePartition(df, g ++ orderBy)
    val perSlice = parted.groupBy(col("__pid") +: g: _*).agg(
      sum(col(weights.head)).as(s"__c_${weights.head}"),
      weights.tail.map(w => sum(col(w)).as(s"__c_$w")): _*)
    val offsets = weights.foldLeft(perSlice) { (d, w) =>
      d.withColumn(s"__off_$w", coalesce(
          sum(col(s"__c_$w")).over(Window.partitionBy(g: _*)
            .orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .withColumn(s"__tot_$w",
          sum(col(s"__c_$w")).over(Window.partitionBy(g: _*).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
    }.select(col("__pid").as("__opid") +:
      groupCols.map(c => col(c).as(s"__gk_$c")) ++:
      weights.flatMap(w => Seq(col(s"__off_$w"), col(s"__tot_$w"))): _*)
    val local = Window.partitionBy(col("__pid") +: g: _*)
      .orderBy(orderBy: _*).rowsBetween(Window.unboundedPreceding, 0)
    // group keys join back NULL-SAFELY under fresh names (a USING join's
    // plain equality would silently drop every null-keyed group — a null
    // group is a group, the module convention)
    val cond = (col("__pid") === col("__opid")) &&
      groupCols.map(c => col(c) <=> col(s"__gk_$c")).reduce(_ && _)
    // hash(__pid) is a subset of the window's (__pid, groups) clustering,
    // so the pinned repartition serves the window with no extra exchange
    val joined = pinParallel(parted).join(broadcast(offsets), cond)
    weights.foldLeft(joined) { (d, w) =>
      d.withColumn(s"${w}_cum", col(s"__off_$w") + sum(col(w)).over(local))
        .withColumn(s"${w}_tot", col(s"__tot_$w"))
    }.drop("__pid" +: "__opid" +: groupCols.map(c => s"__gk_$c") ++:
      weights.flatMap(w => Seq(s"__off_$w", s"__tot_$w")): _*)
  }
}
