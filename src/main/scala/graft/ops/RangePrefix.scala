package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * cumulative window free. The partitioned frame is materialized ONCE
  * before the two branches split ([[pinnedRangePartition]] — exchange
  * reuse is NOT reliable across the self-join, and two executions of a
  * range repartition may assign pids differently). Range partitioning
  * keeps equal keys on one side of each boundary, so slice-local sums +
  * offsets compose to exactly the single-task result; each consumer's
  * spec pins equality against the naive window on randomized data.
  *
  * Callers must pass a TOTAL order (break ties — e.g. append a key
  * column), or boundary duplicates would make the prefix
  * partitioning-dependent.
  */
object RangePrefix {

  /** The partitioned-with-pid frame is MATERIALIZED once
    * (`localCheckpoint(true)`) before its two consumers (the offsets
    * aggregate and the windowed join-back) branch off. This is a
    * correctness requirement, not a cache: the branch point is a
    * self-join, whose attribute dedup re-ids one side so the range
    * exchange is NOT reliably reused — and two independent executions of
    * a range repartition can assign pids DIFFERENTLY (RangePartitioner
    * samples its input, and upstream AQE-coalesced joins make row order
    * non-deterministic between executions). The two branches then
    * disagree on pid→offset and silently corrupt prefixes — caught live
    * by theil_sen_trend going 32%-wrong (NULL medians included) the
    * moment its input came from the bucketed silver. A checkpoint pins
    * ONE execution, one pid assignment, for every consumer — the
    * PageRank/Clusters iterative-materialization rule applied to a
    * DAG that merely LOOKS tree-shaped. (Consequence for plan audits:
    * the range exchange sits above the checkpoint scan, so consumer
    * plans show the `__pid`-partitioned window over a checkpoint scan
    * rather than the rangepartitioning exchange itself.)
    *
    * Cluster-deployment notes: (1) the eager checkpoint runs a Spark job
    * at DataFrame-CONSTRUCTION time — consumers that build a prefix frame
    * and never execute it still pay one pass; (2) `localCheckpoint`
    * blocks live on executor block managers, NOT reliable storage, so
    * after executor loss downstream actions FAIL (fast, visibly) rather
    * than silently recompute — which on this operator is the correct
    * trade, because a silent recompute could re-draw pid assignments and
    * reintroduce the exact corruption this pin exists to kill. A
    * deployment needing executor-loss survival should set a reliable
    * `spark.checkpoint.dir` and swap `.localCheckpoint(true)` for
    * `.checkpoint(true)` — or pass
    * `--conf spark.graft.rangePrefix.deterministic=true` and take the
    * [[deterministicBucketed]] path below, which removes the pin entirely.
    */
  private def pinnedRangePartition(df: DataFrame,
      keys: Seq[Column]): DataFrame =
    if (df.sparkSession.conf
        .getOption("spark.graft.rangePrefix.deterministic")
        .exists(_.toBoolean)) deterministicBucketed(df, keys)
    else df.repartitionByRange(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)

  /** The executor-loss-safe alternative to the checkpoint pin: `__pid`
    * becomes a PURE FUNCTION of the row's sort key against LITERAL bucket
    * boundaries frozen at DataFrame-construction time, so any number of
    * independent re-executions (self-join branches, AQE re-plans, task
    * retries after executor loss) agree on pid by construction — nothing
    * needs pinning, and the frame recomputes safely where the checkpoint
    * path fails hard.
    *
    * Boundaries come from ONE construction-time job: Spark's own
    * RangePartitioner balances the buckets (`repartitionByRange`), and the
    * LAST key of each partition in sort order — `row_number() = 1` under
    * the reversed ordering — is collected (≤ |shuffle partitions| rows)
    * and embedded as literals. The job's own sampling nondeterminism is
    * harmless: ANY frozen boundary set yields correct prefixes, only the
    * balance varies. pid = count of boundaries the row's key is strictly
    * AFTER (direction- and null-ordering-aware lexicographic compare), so
    * equal keys always share a bucket — the range-partitioning invariant
    * the offset composition needs. Trade vs the pin: one extra source
    * scan (boundary job) and no materialization, so the two downstream
    * consumers may rescan the input; flip the flag per deployment.
    */
  private def deterministicBucketed(df: DataFrame,
      keys: Seq[Column]): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val sks = keys.map(ColumnBridge.sortKey)
    val kCols = sks.zipWithIndex.map { case (sk, i) => sk.child.as(s"__k$i") }
    val keyed = df.select(kCols: _*)
    val kTypes = keyed.schema.fields.map(_.dataType)
    val ordK = sks.zipWithIndex.map { case (sk, i) =>
      sk.copy(child = col(s"__k$i")) }
    val lastPerPart = keyed
      .repartitionByRange(ordK.map(_.asOrder): _*)
      .withColumn("__bp", spark_partition_id())
      .withColumn("__rn", row_number().over(Window.partitionBy(col("__bp"))
        .orderBy(ordK.map(_.flipped): _*)))
      .filter(col("__rn") === 1)
      .select(col("__bp") +: sks.indices.map(i => col(s"__k$i")): _*)
    // ≤ |shuffle partitions| boundary rows; drop the global max (rows
    // after the second-to-last boundary form the last bucket)
    val bounds = lastPerPart.collect().sortBy(_.getInt(0)).dropRight(1)
    // strictly-after-in-sort-sequence vs one literal boundary component;
    // the boundary's nullness is a DRIVER value, so branch in Scala
    def after(sk: org.apache.spark.sql.graftbridge.ColumnBridge.SortKey,
        bv: Any, i: Int): Column =
      if (bv == null) { if (sk.nullsLast) lit(false) else sk.child.isNotNull }
      else {
        val b = lit(bv).cast(kTypes(i))
        val cmp = if (sk.descending) sk.child < b else sk.child > b
        if (sk.nullsLast) sk.child.isNull || cmp else coalesce(cmp, lit(false))
      }
    def same(sk: org.apache.spark.sql.graftbridge.ColumnBridge.SortKey,
        bv: Any, i: Int): Column =
      if (bv == null) sk.child.isNull else sk.child <=> lit(bv).cast(kTypes(i))
    def lexAfter(b: org.apache.spark.sql.Row): Column =
      sks.zipWithIndex.map { case (sk, i) => (sk, b.get(i + 1), i) }
        .foldRight(lit(false)) { case ((sk, bv, i), rest) =>
          after(sk, bv, i) || (same(sk, bv, i) && rest) }
    val pid = bounds.map(b => when(lexAfter(b), 1).otherwise(0))
      .reduceOption(_ + _).getOrElse(lit(0))
    df.withColumn("__pid", pid)
  }

  /** The slice-local window below needs ClusteredDistribution(__pid) —
    * the checkpointed frame comes back with unknown partitioning, so an
    * exchange is planned, and AQE's byte-based coalescing collapses it to
    * ONE task whenever the frame is KB-sized (aggregated domains, pair
    * frames) even though the window pass is the consumer's CPU. A
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
