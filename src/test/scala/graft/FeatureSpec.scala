package graft

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.features.{FeatureBuilder, MetricDefs, WindowSpec}

class FeatureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  // fact: household 1 buys on cur and cur-40; household 2 only on cur-40.
  private val cur = LocalDate.parse("2024-12-31")
  private val fact = Seq(
    (1L, 10L, d("2024-12-31"), 100L, 1L, 2, 50.0, 5.0, 0.0, 0.0, 5.0, 45.0),
    (1L, 11L, d("2024-11-21"), 101L, 1L, 1, 30.0, 0.0, 3.0, 0.0, 3.0, 27.0),
    (2L, 12L, d("2024-11-21"), 102L, 1L, 1, 20.0, 0.0, 0.0, 0.0, 0.0, 20.0)
  ).toDF("household_key", "basket_id", "day", "product_id", "store_id", "units",
    "amount_list", "instore_discount", "campaign_coupon_discount",
    "manuf_coupon_discount", "total_coupon_discount", "amount_paid")

  test("window bounds: 30/60/90 trailing, 1yr = same-season slice (04a:164-167)") {
    val w = WindowSpec.windows(cur)
    assert(w.map(_.name) == Seq("30d", "60d", "90d", "1yr"))
    assert(w(0).start == cur.minusDays(29) && w(0).end == cur)
    // min_day = max_day - 364; max_day = min_day + 29
    assert(w(3).start == cur.minusDays(364) && w(3).end == cur.minusDays(335))
    assert(w.map(_.days) == Seq(30L, 60L, 90L, 30L))
  }

  test("single-pass windows: 30d excludes, 60d includes the older basket") {
    val out = FeatureBuilder.build(fact, FeatureBuilder.household)
      .collect().map(r => r.getAs[Long]("household_key") -> r).toMap
    val h1 = out(1L)
    assert(h1.getAs[Double]("baskets_30d") == 1.0)
    assert(h1.getAs[Double]("baskets_60d") == 2.0)
    assert(h1.getAs[Double]("amount_paid_30d") == 45.0)
    assert(h1.getAs[Double]("amount_paid_60d") == 72.0)
    val h2 = out(2L)
    assert(h2.getAs[Double]("baskets_30d") == 0.0) // fillna after no rows in window
    assert(h2.getAs[Double]("baskets_60d") == 1.0)
  }

  test("days-since: reference semantics (anchor = window end, activity floor)") {
    val out = FeatureBuilder.build(fact, FeatureBuilder.household)
      .collect().map(r => r.getAs[Long]("household_key") -> r).toMap
    // h1 bought with instore discount on cur → 0 days since, in every window
    assert(out(1L).getAs[Double]("days_since_instore_discount_30d") == 0.0)
    // h2 never had instore discount but HAS activity ≤ cur → the
    // activity floor = days_in_window - 1 (04a:534-544 else-branch)
    assert(out(2L).getAs[Double]("days_since_instore_discount_30d") == 29.0)
    assert(out(2L).getAs[Double]("days_since_instore_discount_90d") == 89.0)
    // h2's only purchase is 40 days back → days_since_60d = 40
    assert(out(2L).getAs[Double]("days_since_60d") == 40.0)
    // nobody has rows at or before the 1yr window's end (cur-335) → the
    // reference's day <= max_day scan is empty → fillna 0.0, not a floor
    assert(out(1L).getAs[Double]("days_since_1yr") == 0.0)
    assert(out(1L).getAs[Double]("days_since_instore_discount_1yr") == 0.0)
  }

  test("days-since: flagged-only staleness beyond the window is NOT floored") {
    // household 9 has a single instore-flagged purchase 45 days back and
    // nothing else: the reference reports true staleness 45, not the
    // 30d floor 29 — there is no un-flagged activity to supply the floor
    val extra = fact.union(Seq(
      (9L, 90L, d("2024-11-16"), 900L, 1L, 1, 10.0, 1.0, 0.0, 0.0, 1.0, 9.0)
    ).toDF(fact.columns: _*))
    val out = FeatureBuilder.build(extra, FeatureBuilder.household)
      .collect().map(r => r.getAs[Long]("household_key") -> r).toMap
    assert(out(9L).getAs[Double]("days_since_instore_discount_30d") == 45.0)
    // but a flag the household never triggered still floors on activity
    assert(out(9L).getAs[Double]("days_since_campaign_coupon_discount_30d") == 29.0)
  }

  test("ratio guard: zero denominator yields 0.0, not null/error") {
    val out = FeatureBuilder.build(fact, FeatureBuilder.household)
      .collect().map(r => r.getAs[Long]("household_key") -> r).toMap
    // h2 has no baskets in 30d → amount_paid_per_basket_30d = 0.0
    assert(out(2L).getAs[Double]("amount_paid_per_basket_30d") == 0.0)
    assert(out(1L).getAs[Double]("amount_paid_per_basket_30d") == 45.0)
  }

  test("reference-width catalog: 4 flag families, days_in_set ratios, quirk name") {
    val names = FeatureBuilder.metricNames
    // double-suffix quirk replicated (04a:263-266 + 04a:555-559)
    assert(names.contains("products_per_day_30d_30d"))
    // 4th flag metric present across families (04a:201-255)
    assert(names.contains("baskets_with_total_coupon_discount_60d"))
    assert(names.contains("line_items_with_total_coupon_discount_90d"))
    assert(names.contains("days_since_total_coupon_discount_1yr"))
    // constant-denominator family (04a:308-368)
    assert(names.contains("days_to_days_in_set_30d"))
    assert(names.contains("baskets_per_days_in_set_1yr"))
    // six ratio families at reference width
    assert(names.contains("amount_paid_to_amount_list_30d"))
    assert(names.contains("products_with_manuf_coupon_discount_per_line_item_60d"))
  }

  test("per-days-in-set uses the window's constant day count") {
    val out = FeatureBuilder.build(fact, FeatureBuilder.household)
      .collect().map(r => r.getAs[Long]("household_key") -> r).toMap
    // h1: 2 distinct days in 60d → days_to_days_in_set_60d = 2/60,
    // 9-dp-quantized (the r9 suite-wide ratio convention, MetricDefs.ratio)
    assert(out(1L).getAs[Double]("days_to_days_in_set_60d")
      == graft.ops.Round9.round9d(2.0 / 60.0).doubleValue())
  }

  test("exact path computes distinct counts without an Expand") {
    val df = FeatureBuilder.build(fact, FeatureBuilder.household)
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Expand"),
      s"split-distinct build must not trigger RewriteDistinctAggregates:\n$plan")
  }

  test("split-distinct path is value-identical to the naive single-pass") {
    // randomized facts (seeded): days spread across all four windows
    // (incl. the 1yr same-season slice), flags randomly zero/positive,
    // null product_ids to exercise COUNT(DISTINCT)'s null-skipping; both
    // `products` renderings (distinct default, plain referenceExact), so
    // every engine form is pinned to its aggsFor reference
    for (referenceExact <- Seq(false, true); seed <- Seq(11, 42, 99)) {
      val rnd = new scala.util.Random(seed)
      val dayPool = (0 to 95).map(cur.minusDays(_)) ++ (330 to 400).map(cur.minusDays(_))
      val rows = (0 until 60).map { i =>
        def m() = if (rnd.nextBoolean()) 0.0 else math.rint(rnd.nextDouble() * 500) / 100.0
        val (in, ca, mf) = (m(), m(), m())
        (rnd.nextInt(4).toLong + 1, rnd.nextInt(8).toLong, // hk, basket
          java.sql.Date.valueOf(dayPool(rnd.nextInt(dayPool.size))),
          if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(6).toLong),
          1L, 1 + rnd.nextInt(3), // store, units
          math.rint(rnd.nextDouble() * 10000) / 100.0, in, ca, mf, ca + mf,
          math.rint(rnd.nextDouble() * 9000) / 100.0)
      }
      val f = rows.toDF("household_key", "basket_id", "day", "product_id",
        "store_id", "units", "amount_list", "instore_discount",
        "campaign_coupon_discount", "manuf_coupon_discount",
        "total_coupon_discount", "amount_paid")
      // pin cur so both sides derive identical windows regardless of the
      // random max day
      val split = FeatureBuilder.build(f, FeatureBuilder.household,
        knownBounds = Some((cur.minusDays(400), cur)),
        referenceExact = referenceExact)
      // naive: ONE groupBy carrying the exact countDistinct aggregates
      // (Catalyst's Expand path), then the same clean + ratio projections
      val wins = WindowSpec.windows(cur)
      val aggs = wins.flatMap(w => MetricDefs.aggsFor(w, referenceExact))
      val posts = wins.flatMap(MetricDefs.ratiosFor)
      // same union-of-windows prefilter the builder applies
      val fPref = f.filter(col("day").between(
        lit(java.sql.Date.valueOf(cur.minusDays(364))), lit(java.sql.Date.valueOf(cur))))
      val naiveAgged = fPref.groupBy(col("household_key"))
        .agg(aggs.head.reference.as(aggs.head.name),
          aggs.tail.map(a => a.reference.as(a.name)): _*)
      val naiveClean = naiveAgged.select(
        col("household_key") +:
          aggs.map(a => coalesce(col(a.name).cast("double"), lit(0.0)).as(a.name)): _*)
      val naive = naiveClean.select(
        (col("household_key") +: aggs.map(a => col(a.name))) ++
          posts.map(p => p.col.as(p.name)): _*)
      assert(split.columns.toSeq == naive.columns.toSeq)
      def dump(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getAs[Long]("household_key") ->
          (1 until r.length).map(r.getDouble)).toMap
      assert(dump(split) == withoutWholeStageCodegen(dump(naive)),
        s"seed $seed (referenceExact=$referenceExact) diverged")
    }
  }

  /** Runs `body` with whole-stage codegen off. The naive reference's
    * Expand feeding one HashAggregate over ~128 fields generates Java that
    * janino cannot compile; Spark would log the failure and fall back to
    * the interpreted path anyway, so plan it interpreted from the start.
    */
  private def withoutWholeStageCodegen[T](body: => T): T = {
    val key = "spark.sql.codegen.wholeStage"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("referenceExact: products is the reference's plain count (04a:194)") {
    // same product bought twice in the 30d window: distinct=1, plain=2
    val repeat = Seq(
      (1L, 10L, d("2024-12-31"), 100L, 1L, 1, 10.0, 1.0, 0.0, 0.0, 1.0, 9.0),
      (1L, 11L, d("2024-12-30"), 100L, 1L, 1, 10.0, 1.0, 0.0, 0.0, 1.0, 9.0)
    ).toDF("household_key", "basket_id", "day", "product_id", "store_id", "units",
      "amount_list", "instore_discount", "campaign_coupon_discount",
      "manuf_coupon_discount", "total_coupon_discount", "amount_paid")
    def one(referenceExact: Boolean) =
      FeatureBuilder.build(repeat, FeatureBuilder.household,
        knownBounds = Some((LocalDate.parse("2024-12-30"), cur)),
        referenceExact = referenceExact).collect().head
    val dflt = one(false)
    val refx = one(true)
    assert(dflt.getAs[Double]("products_30d") == 1.0)
    assert(refx.getAs[Double]("products_30d") == 2.0)
    // ONLY the base products metric flips: conditional product distincts
    // stay countDistinct in the reference too (04a:229-241)
    assert(dflt.getAs[Double]("products_with_instore_discount_30d") == 1.0)
    assert(refx.getAs[Double]("products_with_instore_discount_30d") == 1.0)
    // the rest of the catalog is untouched
    assert(dflt.getAs[Double]("baskets_30d") == refx.getAs[Double]("baskets_30d"))
    assert(dflt.getAs[Double]("amount_paid_30d") == refx.getAs[Double]("amount_paid_30d"))
  }

  test("all metric columns are DOUBLE and null-free") {
    val df = FeatureBuilder.build(fact, FeatureBuilder.household)
    val metricCols = df.columns.filterNot(_ == "household_key")
    assert(metricCols.forall(c =>
      df.schema(c).dataType == org.apache.spark.sql.types.DoubleType))
    val anyNull = metricCols.map(c => sum(when(col(c).isNull, 1).otherwise(0)))
      .reduce(_ + _)
    assert(df.agg(anyNull).head().getLong(0) == 0L)
  }
}
