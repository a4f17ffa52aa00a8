package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.core.BucketedTable

class BucketedTableSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = "/root/testdata/sf0.001"

  test("bucketed-bucketed equi-join plans without a shuffle exchange") {
    val n = 5000
    val a = (1 to n).map(i => (i.toLong, i * 1.0)).toDF("k", "va")
    val b = (1 to n).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    BucketedTable.write(a, "graft_bucket_a", "k", 4)
    BucketedTable.write(b, "graft_bucket_b", "k", 4)
    // hint the INPUTS (a hint on the join result is a no-op) so the plan
    // is sort-merge and the exchange question is real
    val smj = BucketedTable.read(spark, "graft_bucket_a").hint("merge")
      .join(BucketedTable.read(spark, "graft_bucket_b").hint("merge"), Seq("k"))
    val plan = smj.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$plan")
    assert(smj.count() == n)
  }

  /** Hash(household_key) from the silver buckets (one per shuffle
    * partition of `s`) satisfies every clustering the split-distinct
    * builder needs — groupBy(hk), groupBy(hk, entity), the per-entity
    * second stages, and the joins back on hk — so the whole feature table
    * derives without ONE shuffle.
    */
  private def assertFeatureBuildsDoNotShuffle(s: SparkSession): Unit = {
    val tx = graft.silver.TransactionsAdj(s, sf)
    val df = graft.features.FeatureBuilder.build(
      tx, graft.features.FeatureBuilder.household)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed household feature build must not shuffle:\n${plan.take(4000)}")
    assert(df.count() > 0)
    assert(df.rdd.getNumPartitions == s.sessionState.conf.numShufflePartitions,
      "one feature task per silver bucket, one bucket per shuffle partition")
    // the household×commodity grain rides the same buckets: with
    // subset-key co-partitioning enabled (GraftSession conf), its joins on
    // (household_key, commodity_desc) reuse Hash(household_key) too
    val txc = graft.features.FeatureBuilder.txWithCommodity(s, sf)
    val hc = graft.features.FeatureBuilder.build(
      txc, graft.features.FeatureBuilder.householdCommodity)
    val hcPlan = hc.queryExecution.executedPlan.toString
    assert(!hcPlan.contains("Exchange hashpartitioning"),
      s"bucketed hh-commodity feature build must not shuffle:\n${hcPlan.take(4000)}")
  }

  test("household feature build over bucketed silver plans with ZERO exchanges") {
    graft.core.SilverStore.enable()
    try assertFeatureBuildsDoNotShuffle(spark)
    finally graft.core.SilverStore.disable()
  }

  test("ZERO exchanges also when the session has 3 shuffle partitions") {
    val three = spark.newSession()
    three.conf.set("spark.sql.shuffle.partitions", "3")
    graft.core.SilverStore.enable()
    try assertFeatureBuildsDoNotShuffle(three)
    finally {
      graft.core.SilverStore.release(three)
      graft.core.SilverStore.disable()
    }
  }

  test("bucketed vs plain: plain join does shuffle (control)") {
    val n = 5000
    val a = (1 to n).map(i => (i.toLong, i * 1.0)).toDF("k", "va")
    val b = (1 to n).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    val plan = a.hint("merge").join(b.hint("merge"), Seq("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning"))
  }
}
