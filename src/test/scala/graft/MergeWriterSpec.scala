package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.features.FeatureTable
import graft.score.MergeWriter

class MergeWriterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)
  // one commodity's scores as the one-column wide batch mergeWide takes
  private def asColumn(scores: org.apache.spark.sql.DataFrame, name: String) =
    scores.select(col("household_key"), col("day"), col("prediction").as(name))

  test("mergeWide: first commodity creates table, second adds a column") {
    val t = FeatureTable(
      Files.createTempDirectory("mw").toString + "/piv", Seq("household_key", "day"))
    val s1 = Seq((1L, d("2024-01-01"), 0.9), (2L, d("2024-01-01"), 0.2))
      .toDF("household_key", "day", "prediction")
    MergeWriter.mergeWide(spark, t, asColumn(s1, "soda"))
    val s2 = Seq((1L, d("2024-01-01"), 0.5), (3L, d("2024-01-01"), 0.7))
      .toDF("household_key", "day", "prediction")
    MergeWriter.mergeWide(spark, t, asColumn(s2, "chips"))
    val got = t.read(spark)
    assert(got.columns.toSet == Set("household_key", "day", "soda", "chips"))
    val rows = got.collect().map(r => r.getAs[Long]("household_key") ->
      (Option(r.getAs[java.lang.Double]("soda")), Option(r.getAs[java.lang.Double]("chips")))).toMap
    assert(rows(1L) == ((Some(0.9), Some(0.5))))
    assert(rows(2L) == ((Some(0.2), None)))   // untouched by chips batch
    assert(rows(3L) == ((None, Some(0.7))))   // inserted by chips batch
  }

  test("mergeWide: re-scoring updates matched rows, keeps unmatched") {
    val t = FeatureTable(
      Files.createTempDirectory("mw2").toString + "/piv", Seq("household_key", "day"))
    val s1 = Seq((1L, d("2024-01-01"), 0.1), (2L, d("2024-01-01"), 0.2))
      .toDF("household_key", "day", "prediction")
    MergeWriter.mergeWide(spark, t, asColumn(s1, "soda"))
    val s2 = Seq((1L, d("2024-01-01"), 0.99)).toDF("household_key", "day", "prediction")
    MergeWriter.mergeWide(spark, t, asColumn(s2, "soda"))
    val rows = t.read(spark).collect().map(r =>
      r.getAs[Long]("household_key") -> r.getAs[Double]("soda")).toMap
    assert(rows == Map(1L -> 0.99, 2L -> 0.2))
  }

  test("pivotScores: one column per commodity, missing → null") {
    val scores = Seq(
      (1L, d("2024-01-01"), "soda", 0.9),
      (1L, d("2024-01-01"), "chips", 0.1),
      (2L, d("2024-01-01"), "soda", 0.4)
    ).toDF("household_key", "day", "commodity_desc", "prediction")
    val got = MergeWriter.pivotScores(scores, Seq("soda", "chips"))
    assert(got.columns.toSet == Set("household_key", "day", "soda", "chips"))
    val r2 = got.filter(col("household_key") === 2).head()
    assert(r2.getAs[Double]("soda") == 0.4 && r2.isNullAt(r2.fieldIndex("chips")))
  }
}
