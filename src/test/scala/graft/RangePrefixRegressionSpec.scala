package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Regression guard for the round-7 RangePrefix correctness fix: with the
  * bucketed silver enabled, theil_sen's slopes frame (an AQE-planned
  * self-join of a grouped aggregate) made the TWO consumptions of the
  * range exchange execute independently — self-join attribute dedup
  * defeats exchange reuse, and RangePartitioner's sampled bounds are
  * row-order-sensitive, so the offsets branch and the windowed branch
  * disagreed on pid assignment and 32% of the medians went wrong (NULLs
  * included). Both branches now scan ONE execution's RDD
  * (`RangePrefix.pinnedRangePartition`); this spec replays the exact
  * triggering shape against the naive single-task window, checks every
  * sort shape the consumers use, and checks that a frame's prefixes
  * survive a simulated executor loss between two executions.
  */
class RangePrefixRegressionSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("grouped percentiles on the silver-derived slopes frame are exact") {
    val was = graft.core.SilverStore.isEnabled
    graft.core.SilverStore.enable()
    try {
      val dir = "/root/testdata/sf0.01"
      val (lo, _) = graft.core.Retail.dayBounds(spark, dir)
      val weekly = graft.features.FeatureBuilder.txWithCommodity(spark, dir)
        .withColumn("week_idx",
          expr(s"datediff(day, DATE '${lo}') div 7").cast("long"))
        .groupBy(col("commodity_desc"), col("week_idx"))
        .agg(sum(col("amount_paid").cast("decimal(18,4)"))
          .cast("double").as("y"))
      val a = weekly.select(col("commodity_desc"),
        col("week_idx").as("w1"), col("y").as("y1"))
      val b = weekly.select(col("commodity_desc"),
        col("week_idx").as("w2"), col("y").as("y2"))
      val slopes = a.join(b, Seq("commodity_desc"))
        .filter(col("w2") > col("w1"))
        .select(col("commodity_desc"),
          round((col("y2") - col("y1"))
            / (col("w2") - col("w1")).cast("double"), 9).as("slope"))
      val got = graft.ops.ExactPercentiles.perGroup(slopes,
        Seq("commodity_desc"), "slope", Seq("m" -> 0.5))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val byVal = Window.partitionBy("commodity_desc").orderBy(col("__v"))
      val whole = Window.partitionBy("commodity_desc")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ranked = slopes.select(col("commodity_desc"),
          col("slope").cast("double").as("__v"))
        .withColumn("__rn", row_number().over(byVal).cast("long") - 1L)
        .withColumn("__n", count(lit(1)).over(whole))
      val pos = (col("__n") - 1L).cast("double") * lit(0.5)
      val exp = ranked.groupBy("commodity_desc").agg(
        max(when(col("__rn") === floor(pos).cast("long"), col("__v"))).as("lo"),
        max(when(col("__rn") === ceil(pos).cast("long"), col("__v"))).as("hi"),
        max(col("__n")).as("n"))
        .select(col("commodity_desc"),
          (col("lo") + (col("hi") - col("lo")) *
            (((col("n") - 1L).cast("double") * lit(0.5)) -
              floor((col("n") - 1L).cast("double") * lit(0.5)))).as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val diff = exp.keys.filter(k => got.get(k) != exp.get(k))
      assert(diff.isEmpty,
        s"mismatched medians: ${diff.take(5).map(k => (k, got.get(k), exp.get(k)))}")
    } finally if (!was) graft.core.SilverStore.disable()
  }

  /** Every sort shape the consumers use must give the EXACT naive-window
    * prefixes: plain asc, desc (ModelEval's score ranking), nulls in the
    * key, composite keys, and the grouped variant — each compared against
    * a single-task `SUM OVER (ORDER BY)`.
    */
  test("deterministic path: asc/desc/null keys match the naive window") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 4000).map { i =>
      (if (i % 97 == 0) null else rng.nextInt(300).toString,
        rng.nextInt(1000).toLong, i.toLong, rng.nextInt(5).toLong)
    }
    val df = rows.toDF("s", "v", "id", "w").repartition(13)
    for (order <- Seq(
        Seq(col("v").asc, col("id").asc),
        Seq(col("v").desc, col("id").asc),
        Seq(col("s").asc, col("id").asc),       // nulls first
        Seq(col("s").desc, col("id").desc))) {  // nulls last
      val got = graft.ops.RangePrefix.prefixSums(df, order, Seq("w"))
        .select(col("id"), col("w_cum"), col("w_tot"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val naive = Window.orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, 0)
      val whole = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val exp = df.select(col("id"), sum(col("w")).over(naive).as("c"),
          sum(col("w")).over(whole).as("t"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val bad = exp.keys.filter(k => got(k) != exp(k))
      assert(bad.isEmpty,
        s"order=$order: ${bad.take(3).map(k => (k, got(k), exp(k)))}")
    }
  }

  test("deterministic path: grouped prefixes (incl. null group) match") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 3000).map { i =>
      (if (i % 53 == 0) null else ("g" + rng.nextInt(3)),
        rng.nextInt(500).toLong, i.toLong, rng.nextInt(7).toLong)
    }
    val df = rows.toDF("g", "v", "id", "w").repartition(9)
    val got = graft.ops.RangePrefix.groupedPrefixSums(df, Seq("g"),
        Seq(col("v"), col("id")), Seq("w"))
      .select(col("id"), col("w_cum"), col("w_tot"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val naive = Window.partitionBy(col("g")).orderBy(col("v"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.partitionBy(col("g")).rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val exp = df.select(col("id"), sum(col("w")).over(naive).as("c"),
        sum(col("w")).over(whole).as("t"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val bad = exp.keys.filter(k => got(k) != exp(k))
    assert(bad.isEmpty, s"${bad.take(3).map(k => (k, got(k), exp(k)))}")
  }

  test("deterministic pid is identical across independent executions") {
    // re-executions of ONE frame agree on pid: construct it once,
    // execute it twice, compare (the branches of its self-join scan the
    // same execution, so this also holds inside one query)
    val df = (1 to 2000).map(i => (i % 613, i.toLong))
      .toDF("v", "id").repartition(11)
    val pinned = graft.ops.RangePrefix.prefixSums(
      df, Seq(col("v").asc, col("id").asc), Seq("id"))
    val a = pinned.select("id", "id_cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = pinned.select("id", "id_cum").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("prefixes survive executor loss between two executions") {
    // The frame is built once and collected twice; between the collects
    // the executor's map outputs and the blocks this case persisted are
    // lost. Lost map outputs are recomputed through the frame's one
    // RangePartitioner, so the second collect must still equal the naive
    // window (a checkpoint pin fails here: its blocks have no lineage).
    import org.apache.spark.graftbridge.ExecutorLoss
    val rng = new scala.util.Random(5)
    val df = (1 to 3000).map { i =>
      ("g" + rng.nextInt(3), rng.nextInt(400).toLong, i.toLong,
        rng.nextInt(4).toLong)
    }.toDF("g", "v", "id", "w").repartition(7)
    val order = Seq(col("v"), col("id"))
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.select(col("id"), col("w_cum"), col("w_tot")).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def naive(by: Seq[String]) = {
      val g = Window.partitionBy(by.map(col): _*)
      asMap(df
        .withColumn("w_cum", sum(col("w")).over(g.orderBy(order: _*)
          .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("w_tot", sum(col("w")).over(g.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing))))
    }
    val sc = spark.sparkContext
    for ((what, by, build) <- Seq(
        ("prefixSums", Seq.empty[String],
          () => graft.ops.RangePrefix.prefixSums(df, order, Seq("w"))),
        ("groupedPrefixSums", Seq("g"),
          () => graft.ops.RangePrefix.groupedPrefixSums(df, Seq("g"),
            order, Seq("w"))))) {
      val exp = naive(by)
      val before = ExecutorLoss.persistedRddIds(sc)
      val frame = build()
      assert(asMap(frame) == exp, s"$what before the loss")
      ExecutorLoss.lose(sc, before)
      assert(asMap(frame) == exp, s"$what after the loss")
    }
  }
}
