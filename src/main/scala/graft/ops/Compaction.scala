package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Small-file compaction planner — the table-maintenance operator every
  * 100 TB lake needs and the reference's daily-append pipeline would hit
  * first (`04c:205-217` appends unpivoted scores daily: a year of daily
  * appends is 365 small files per partition unless somebody plans a
  * compaction). Given a file/partition manifest (one row per input file
  * with its byte size), assign each input to an output file such that
  * consecutive inputs in layout order pack to ~`targetBytes` — the
  * next-fit bin packing a `coalesce`-style rewrite then executes.
  *
  * Assignment is pure arithmetic on the EXACT exclusive running total of
  * bytes in layout order: `out_file = cum_before div targetBytes`. That
  * makes the plan deterministic (no first-fit heap whose result depends
  * on traversal order), keeps layout locality (an output file covers a
  * contiguous key range — range predicates still prune), and bounds
  * every output at < target + max_input bytes.
  *
  * Scale shape: the input is METADATA — one row per file, millions of
  * rows for a petabyte lake, never the data itself. The running total
  * still avoids the one-task global window: like [[TokenBudget]], the
  * manifest is sharded by an order-aligned coarse column (e.g. month for
  * daily files — any monotone coarsening of the layout order works),
  * local exclusive sums run per shard in parallel, and a tiny per-shard
  * total frame (|shards| rows, broadcast) supplies the offsets.
  * `CompactionSpec` pins shard-count invariance; the `compaction_plan`
  * oracle is the single-window definition in DuckDB.
  */
object Compaction {

  /** Plan: input manifest + `out_file` assignment. Output columns: all
    * manifest columns + `cum_before` (exclusive running bytes) +
    * `out_file`. `shardCol` must order-align with `orderCol` (be a
    * monotone non-decreasing function of it).
    */
  def plan(manifest: DataFrame, orderCol: String, bytesCol: String,
      shardCol: String, targetBytes: Long): DataFrame = {
    require(targetBytes >= 1,
      s"Compaction.plan: targetBytes ($targetBytes) must be >= 1")
    val local = Window.partitionBy(col(shardCol))
      .orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = manifest.withColumn("__local_before",
      coalesce(sum(col(bytesCol)).over(local), lit(0L)))
    // tiny control frame: per-shard byte totals → exclusive offsets; one
    // row per shard (|shards| rows, a coarsening of the layout order), so
    // its offsets window needs no partitionBy
    val offsets = manifest.groupBy(col(shardCol))
      .agg(sum(col(bytesCol)).as("__shard_bytes"))
      .withColumn("__offset", coalesce(
        sum(col("__shard_bytes")).over(
          Window.orderBy(col(shardCol))
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(shardCol), col("__offset"))
    withLocal
      .join(broadcast(offsets), Seq(shardCol))
      .withColumn("cum_before", col("__offset") + col("__local_before"))
      .withColumn("out_file", expr(s"cum_before div $targetBytes"))
      .select(manifest.columns.map(col) ++
        Seq(col("cum_before"), col("out_file")): _*)
  }
}
