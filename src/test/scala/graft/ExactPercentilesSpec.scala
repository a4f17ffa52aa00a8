package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.ExactPercentiles

class ExactPercentilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("matches the built-in exact percentile on random data") {
    val rnd = new scala.util.Random(7)
    // uneven group sizes (1, 2, odd, even) exercise every interpolation
    // shape: exact-rank hits and fractional positions
    val rows = (1 to 4).flatMap { g =>
      (1 to (g * g * 3 + g)).map(_ => (s"g$g", rnd.nextDouble() * 100.0))
    }
    val df = rows.toDF("grp", "v").repartition(5)
    val ours = ExactPercentiles.perGroup(df, Seq("grp"), "v",
      Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val builtin = df.groupBy("grp").agg(
      expr("percentile(v, 0.25)").as("p25"),
      expr("percentile(v, 0.5)").as("p50"),
      expr("percentile(v, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(ours.keySet == builtin.keySet)
    ours.foreach { case (g, (a25, a50, a90)) =>
      val (b25, b50, b90) = builtin(g)
      assert(math.abs(a25 - b25) < 1e-9, s"$g p25: $a25 vs $b25")
      assert(math.abs(a50 - b50) < 1e-9, s"$g p50: $a50 vs $b50")
      assert(math.abs(a90 - b90) < 1e-9, s"$g p90: $a90 vs $b90")
    }
  }

  test("extremes are the min and max order statistics; nulls are ignored") {
    val df = Seq(("a", Some(3.0)), ("a", Some(1.0)), ("a", None),
      ("a", Some(2.0)), ("b", None)).toDF("grp", "v")
    val out = ExactPercentiles.perGroup(df, Seq("grp"), "v",
      Seq("p0" -> 0.0, "p100" -> 1.0)).collect()
    // group b has only nulls → dropped (documented)
    assert(out.length == 1)
    assert(out.head.getString(0) == "a")
    assert(out.head.getDouble(1) == 1.0 && out.head.getDouble(2) == 3.0)
  }

  test("single-row group returns the value at every fraction") {
    val df = Seq(("solo", 42.0)).toDF("grp", "v")
    val r = ExactPercentiles.perGroup(df, Seq("grp"), "v",
      Seq("p10" -> 0.1, "p50" -> 0.5, "p99" -> 0.99)).head()
    assert((1 to 3).forall(i => r.getDouble(i) == 42.0))
  }

  test("perGroupWeighted over the collapsed value domain computes " +
      "identical values to perGroup over the expanded rows") {
    val rnd = new scala.util.Random(13)
    // integer-grid values with heavy ties — the bounded-domain regime the
    // weighted path exists for; group sizes hit every interpolation shape
    val rows = (1 to 6).flatMap { g =>
      (1 to (g * 7 + 1)).map(_ => (s"g$g", (rnd.nextInt(12) + 1).toDouble))
    }
    val df = rows.toDF("grp", "v").repartition(5)
    val ps = Seq("p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9)
    val expanded = ExactPercentiles.perGroup(df, Seq("grp"), "v", ps)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val domain = df.groupBy("grp", "v").agg(count(lit(1)).as("w"))
    val weighted = ExactPercentiles.perGroupWeighted(
      domain, Seq("grp"), "v", "w", ps)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(weighted == expanded)
  }

  test("perGroupWeighted: single-value domain and null values") {
    // b (all-null values) and z (all-zero weights) hold no ranked row:
    // both drop, as they would from perGroup over the expanded rows
    val domain = Seq(("a", Some(5.0), 9L), ("b", None, 3L), ("z", Some(3.0), 0L))
      .toDF("grp", "v", "w")
    val out = ExactPercentiles.perGroupWeighted(domain, Seq("grp"), "v", "w",
      Seq("p0" -> 0.0, "p50" -> 0.5, "p100" -> 1.0)).collect()
    assert(out.length == 1 && out.head.getString(0) == "a")
    assert((1 to 3).forall(i => out.head.getDouble(i) == 5.0))
  }

  test("manyTinyGroups window path computes identical values") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 40).flatMap { g =>
      (1 to (g % 5 + 1)).map(_ => (s"g$g", rnd.nextDouble() * 100.0))
    }
    val df = rows.toDF("grp", "v").repartition(7)
    val ps = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9)
    def m(tiny: Boolean) =
      ExactPercentiles.perGroup(df, Seq("grp"), "v", ps, manyTinyGroups = tiny)
        .collect().map(r => r.getString(0) ->
          (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(m(true) == m(false))
  }
}
