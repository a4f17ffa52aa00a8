package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.QuantileNormalize

class QuantileNormalizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("group ranks map onto global order ends and midpoints") {
    // group a: 1,2,3 ; group b: 100,200,300 → global sorted:
    // 1,2,3,100,200,300 (N=6). Rank 0 → idx 0, rank 1 → idx 2.5 → 3
    // (half-up), rank 2 → idx 5.
    val df = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0),
      (4L, "b", 100.0), (5L, "b", 200.0), (6L, "b", 300.0)
    ).toDF("id", "grp", "v")
    val out = QuantileNormalize.perGroup(df, Seq("grp"), "v", "id")
      .select("id", "normalized_value").as[(Long, Double)].collect().toMap
    assert(out(1L) == 1.0 && out(4L) == 1.0)     // both group minima → global min
    assert(out(3L) == 300.0 && out(6L) == 300.0) // both maxima → global max
    assert(out(2L) == 100.0 && out(5L) == 100.0) // mid rank → idx 3
  }

  test("identical groups are unchanged (identity on equal shapes)") {
    val df = Seq(
      (1L, "a", 5.0), (2L, "a", 7.0),
      (3L, "b", 5.0), (4L, "b", 7.0)
    ).toDF("id", "grp", "v")
    val out = QuantileNormalize.perGroup(df, Seq("grp"), "v", "id")
      .select("id", "v", "normalized_value")
      .as[(Long, Double, Double)].collect()
    // N=4: rank 0 → idx 0 (5.0), rank 1 → idx 3 (7.0): both groups map
    // min→global-min value, max→global-max value = their own values
    out.foreach { case (_, v, nv) => assert(nv == v) }
  }

  test("singleton group lands mid-distribution") {
    val df = Seq(
      (1L, "a", 1.0), (2L, "a", 2.0), (3L, "a", 3.0), (4L, "a", 4.0),
      (5L, "s", 999.0)
    ).toDF("id", "grp", "v")
    val out = QuantileNormalize.perGroup(df, Seq("grp"), "v", "id")
      .filter(col("id") === 5L).select("normalized_value")
      .as[Double].head()
    // N=5 → idx (5-1) div 2 = 2 → third smallest = 3.0
    assert(out == 3.0)
  }

  test("output multiset per group preserves group size") {
    val df = (1L to 100L).map(i => (i, if (i % 3 == 0) "x" else "y", i * 1.5))
      .toDF("id", "grp", "v")
    val out = QuantileNormalize.perGroup(df, Seq("grp"), "v", "id")
    assert(out.count() == 100)
    assert(out.groupBy("grp").count().as[(String, Long)].collect().toMap
      == Map("x" -> 33L, "y" -> 67L))
  }
}
