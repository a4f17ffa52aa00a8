package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.silver.TransactionsAdj

/** Silver discount decomposition (01_Data_Prep.py:121-166 semantics):
  * every CASE branch + the recomposition invariant.
  */
class SilverSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // (sales_value, retail_disc_rate, coupon_disc_rate)
  private def mk(rows: Seq[(Double, Double, Double)]) = {
    val base = rows.zipWithIndex.map { case ((sv, rd, cd), i) =>
      (i.toLong, i.toLong, java.sql.Date.valueOf("2024-01-01"), i.toLong, i.toLong,
        1.0, sv, rd, cd)
    }.toDF("household_key", "basket_id", "day", "product_id", "store_id",
      "quantity", "sales_value", "retail_disc_rate", "coupon_disc_rate")
    val cols = TransactionsAdj.keyColumns.map(col) ++
      Seq(weekofyear(col("day")).as("week_no"), col("quantity").cast("int").as("units")) ++
      TransactionsAdj.derivedColumns.map { case (n, c) => c.as(n) }
    base.select(cols: _*)
  }

  test("discount branches: none / instore / campaign / manuf") {
    val out = mk(Seq(
      (100.0, 0.0, 0.0),   // no discounts
      (100.0, 0.10, 0.0),  // instore only
      (100.0, 0.0, 0.06),  // campaign coupon (rate >= 0.05)
      (100.0, 0.0, 0.04),  // manufacturer coupon (0 < rate < 0.05)
      (100.0, 0.10, 0.06)  // instore + campaign
    )).collect().sortBy(_.getAs[Long]("household_key"))
    def d(i: Int, c: String) = out(i).getAs[Double](c)
    assert(d(0, "instore_discount") == 0.0 && d(0, "total_coupon_discount") == 0.0)
    assert(d(0, "amount_paid") == 100.0)
    assert(d(1, "instore_discount") == 10.0 && d(1, "amount_paid") == 90.0)
    assert(d(2, "campaign_coupon_discount") == 6.0 && d(2, "manuf_coupon_discount") == 0.0)
    assert(d(3, "manuf_coupon_discount") == 4.0 && d(3, "campaign_coupon_discount") == 0.0)
    assert(d(4, "amount_paid") == 100.0 - 10.0 - 6.0)
  }

  test("invariant: amount_list = amount_paid + instore + total_coupon") {
    val out = mk(Seq((57.3, 0.07, 0.03), (12.0, 0.0, 0.08), (99.99, 0.2, 0.0)))
    val bad = out.filter(
      abs(col("amount_list") -
        (col("amount_paid") + col("instore_discount") + col("total_coupon_discount")))
        > 1e-9).count()
    assert(bad == 0)
  }

  test("control memo: same values as direct build, pinned as local relation") {
    val sf = "/root/testdata/sf0.001"
    def asPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1).toSeq
    // un-memoized reference values first (flag off)
    assert(!graft.core.SilverStore.isEnabled)
    val plain = asPairs(graft.ops.Commodities.commoditiesToScore(spark, sf))
    graft.core.SilverStore.enable()
    try {
      val c1 = graft.ops.Commodities.commoditiesToScore(spark, sf)
      // the memoized control table is a collected local relation — no
      // lineage back to the top-k aggregation
      assert(c1.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
        c1.queryExecution.optimizedPlan.toString)
      assert(asPairs(c1) == plain)
      // second request returns the SAME pinned frame (no re-aggregation)
      val c2 = graft.ops.Commodities.commoditiesToScore(spark, sf)
      assert(c1 eq c2)
    } finally graft.core.SilverStore.disable()
  }

  test("release drops the ending session's silver tables, not another's") {
    import graft.core.SilverStore
    val sf = "silver-release-" + System.nanoTime()
    val (mine, other) = (spark.newSession(), spark.newSession())
    def build(s: org.apache.spark.sql.SparkSession) =
      s.range(10).select(col("id").as("household_key"))
    def dir(name: String) = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"),
      name.toLowerCase)
    def exists(name: String) = spark.catalog.tableExists(name)
    val (mt, ot) = (SilverStore.tableName(mine, sf),
      SilverStore.tableName(other, sf))
    val was = SilverStore.isEnabled
    SilverStore.enable()
    try {
      SilverStore.silver(mine, sf)(build(mine))
      SilverStore.silver(other, sf)(build(other))
      assert(exists(mt) && java.nio.file.Files.exists(dir(mt)))
      SilverStore.release(mine)
      assert(!exists(mt), s"$mt still in the catalog")
      assert(!java.nio.file.Files.exists(dir(mt)), s"${dir(mt)} survives")
      assert(exists(ot) && java.nio.file.Files.exists(dir(ot)))
      assert(SilverStore.silver(other, sf)(build(other)).count() == 10L)
    } finally {
      SilverStore.release(other)
      if (!was) SilverStore.disable()
    }
    assert(!exists(ot) && !java.nio.file.Files.exists(dir(ot)))
  }

  test("silver buckets follow the session's shuffle partitions") {
    import graft.core.SilverStore
    import org.apache.spark.sql.catalyst.TableIdentifier
    val sf = "silver-buckets-" + System.nanoTime()
    val sessions = Seq(4, 3).map { n =>
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      n -> s
    }
    val was = SilverStore.isEnabled
    SilverStore.enable()
    try sessions.foreach { case (n, s) =>
      SilverStore.silver(s, sf)(s.range(10).select(col("id").as("household_key")))
      val name = SilverStore.tableName(s, sf)
      val spec = s.sessionState.catalog
        .getTableMetadata(TableIdentifier(name)).bucketSpec
      assert(spec.map(_.numBuckets).contains(n), s"$name: $spec, want $n buckets")
    } finally {
      sessions.foreach { case (_, s) => SilverStore.release(s) }
      if (!was) SilverStore.disable()
    }
  }
}
