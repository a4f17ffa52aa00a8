package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Clusters
import graft.ops.SkewAgg

class ClustersAndSkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connected components: chain merges transitively, singleton stays") {
    val docs = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id")
    // chain 0-1, 1-2 (one component) + 3-4; nothing links them
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val cc = Clusters.connectedComponents(docs, pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(cc(0L) == 0L && cc(1L) == 0L && cc(2L) == 0L)
    assert(cc(3L) == 3L && cc(4L) == 3L)
    assert(cc.size == 5)
  }

  test("distributed label-propagation path agrees with union-find path") {
    val docs = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val pairs = Seq((0L, 1L), (1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val viaLoop = Clusters.connectedComponents(docs, pairs, driverLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaUf = Clusters.connectedComponents(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaLoop == viaUf)
    assert(viaLoop(2L) == 0L && viaLoop(5L) == 5L)
    // memory-derived default never regresses below the proven floor
    assert(Clusters.defaultDriverPairLimit >= Clusters.driverPairLimit)
  }

  test("deep path converges logarithmically (pointer doubling)") {
    // a 300-node path has diameter 299: plain per-round propagation
    // would need 299 rounds and trip maxIter = 20; the pointer-doubling
    // shortcut closes it within the default budget
    val n = 300L
    val docs = (0L until n).toDF("doc_id")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val cc = Clusters.connectedComponents(docs, pairs, driverLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == n)
    assert(cc.values.forall(_ == 0L))
  }

  test("resolve: identical docs cluster together, canonical flagged") {
    val docs = Seq(
      (0L, "a b c d e f g h"), (1L, "a b c d e f g h"),
      (2L, "totally different words here now ok fine yes")
    ).toDF("doc_id", "text")
    val out = Clusters.resolve(docs, threshold = 0.5, n = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_id"), r.getAs[Boolean]("is_canonical"))).toMap
    assert(out(0L) == ((0L, true)))
    assert(out(1L) == ((0L, false)))
    assert(out(2L) == ((2L, true)))
  }

  test("survivors: best score kept, ties to min doc_id, null score loses") {
    val docs = Seq(0L, 1L, 2L, 3L, 4L, 5L).toDF("doc_id")
      .withColumn("q", when(col("doc_id") === 1L, 9L)
        .when(col("doc_id") === 4L, lit(null).cast("long"))
        .otherwise(lit(5L)))
    // clusters {0,1,2} (1 has top score), {3,4} (4's null loses → 3), {5}
    val assignment = Seq(
      (0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 3L), (5L, 5L)
    ).toDF("doc_id", "cluster_id")
    val out = Clusters.survivorsFrom(docs, assignment, "q").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("survivor_id"), r.getAs[Boolean]("kept"))).toMap
    assert(out.size == 6)
    assert(out(0L) == ((1L, false)) && out(1L) == ((1L, true)) &&
      out(2L) == ((1L, false)))
    assert(out(3L) == ((3L, true)) && out(4L) == ((3L, false)))
    assert(out(5L) == ((5L, true)))
    // tie on score → smallest doc_id survives
    val tied = Clusters.survivorsFrom(
      Seq(7L, 8L).toDF("doc_id").withColumn("q", lit(5L)),
      Seq((7L, 7L), (8L, 7L)).toDF("doc_id", "cluster_id"), "q")
      .filter(col("kept")).collect()
    assert(tied.map(_.getAs[Long]("doc_id")).toSeq == Seq(7L))
  }

  test("salted sums equal direct sums bit-for-bit") {
    val df = (1 to 1000).map(i => ("hot", i * 0.37)).toDF("k", "v")
      .unionByName(Seq(("cold", 1.5), ("cold", 2.5)).toDF("k", "v"))
    val direct = df.groupBy("k")
      .agg(sum(col("v").cast("decimal(18,4)")).cast("double").as("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val salted = SkewAgg.saltedSums(df, Seq("k"),
      Seq(SkewAgg.SumSpec("v", "s")), salt = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == direct)
  }
}
