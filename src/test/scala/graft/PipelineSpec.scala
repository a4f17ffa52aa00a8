package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.SilverStore
import graft.pipeline.{PipelineConfig, PropensityPipeline}
import graft.score.Scorer
import graft.train.{PropensityTrainer, TrainingSetBuilder}

/** End-to-end pipeline integration on sf0.001: init (feature snapshots at
  * two days) → weekly train → daily score → pivoted + unpivoted sinks.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val p = {
    val cfg = PipelineConfig(
      sfDir = "/root/testdata/sf0.001",
      workRoot = Files.createTempDirectory("pipe-spec").toString,
      nCommodities = 1,
      trainer = PropensityTrainer.Config(algo = "lr", regParams = Seq(0.0, 0.01), maxIter = 5, parallelism = 2))
    val pp = new PropensityPipeline(spark, cfg)
    pp.init()
    pp
  }
  private lazy val trained = p.trainAll()

  test("init writes three keyed feature tables with two day snapshots each") {
    Seq(p.householdFeatures, p.commodityFeatures, p.householdCommodityFeatures)
      .foreach { t =>
        assert(t.exists)
        val days = t.read(spark).select("day").distinct().count()
        assert(days == 2, s"${t.root} should hold snapshots for 2 days, got $days")
      }
  }

  test("train → score produces bounded propensities and both sinks") {
    val metrics = trained
    assert(metrics.size == 1)
    val scored = p.scoreAll()
    val stats = scored.agg(
      count(lit(1)), min(col("prediction")), max(col("prediction"))).head()
    assert(stats.getLong(0) > 0)
    assert(stats.getDouble(1) >= 0.0 && stats.getDouble(2) <= 1.0)
    // pivoted sink has one column per scored commodity + PK
    val piv = p.pivoted.read(spark)
    assert(piv.columns.length == 3) // household_key, day, one commodity col
    assert(piv.count() == scored.select("household_key").distinct().count())
  }

  /** Every Production model scored over the spine `scoreAll` used to
    * build: all households × all top commodities at full feature width.
    * Keyed (household_key, commodity_desc) → the prediction's raw bits.
    */
  private def fullWidthScores(pp: PropensityPipeline): Map[(Long, String), Long] = {
    val spine = pp.tx.select("household_key").distinct()
      .crossJoin(broadcast(pp.commodities.select("commodity_desc", "commodity_clean")))
      .withColumn("day", lit(java.sql.Date.valueOf(pp.currentDay)))
    val full = TrainingSetBuilder.build(spine, pp.lookups)
    assert(full.columns.count(_.contains("__")) > 1000, "the reference spine is full width")
    pp.productionModels().map { case (desc, _, model) =>
      bits(Scorer.score(model, full.filter(col("commodity_desc") === desc)), "prediction")
    }.reduce(_ ++ _)
  }

  private def bits(df: DataFrame, score: String): Map[(Long, String), Long] =
    df.select(col("household_key").cast("long"), col("commodity_desc"), col(score))
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        java.lang.Double.doubleToRawLongBits(r.getDouble(2))).toMap

  /** Both sinks at the pipeline's current day, keyed like [[fullWidthScores]]. */
  private def sinks(pp: PropensityPipeline, cleanToDesc: Map[String, String])
      : (Map[(Long, String), Long], Map[(Long, String), Long]) = {
    val today = col("day") === lit(java.sql.Date.valueOf(pp.currentDay))
    val unpivoted = spark.read
      .parquet(Paths.get(pp.pivoted.root).resolveSibling("propensities_unpivoted").toString)
      .filter(today)
    val piv = pp.pivoted.read(spark).filter(today)
    val pivoted = cleanToDesc.toSeq.map { case (clean, desc) =>
      bits(piv.filter(col(clean).isNotNull).withColumn("commodity_desc", lit(desc)), clean)
    }.reduce(_ ++ _)
    (bits(unpivoted, "prediction"), pivoted)
  }

  private def assertScoresEqualFullWidth(pp: PropensityPipeline): Unit = {
    val production = pp.productionModels()
    val want = fullWidthScores(pp)
    val (unpivoted, pivoted) = sinks(pp, production.map(c => c._2 -> c._1).toMap)
    assert(want.nonEmpty)
    assert(unpivoted == want, "unpivoted sink differs from full-width scoring")
    assert(pivoted == want, "pivoted sink differs from full-width scoring")
    // 150 households × k rows fill less than one column batch; the
    // bucketed silver table's partitions (one per shuffle partition)
    // must not carry over
    val wasBucketed = SilverStore.isEnabled
    SilverStore.enable()
    try {
      val spine = pp.scoringSpine(pp.currentDay, production)
      assert(spine.rdd.getNumPartitions == 1)
      assert(spine.columns.filter(_.contains("__")).toSet ==
        production.flatMap(c => Scorer.inputColumns(c._3)).toSet)
    } finally if (!wasBucketed) SilverStore.disable()
  }

  test("scoreAll equals full-width scoring: trainAll's full-width model") {
    trained
    p.scoreAll()
    assertScoresEqualFullWidth(p)
  }

  /** A second pipeline over two commodities whose models each read a few
    * feature columns (different ones), fitted on a toy frame.
    */
  private lazy val narrow = {
    val pp = new PropensityPipeline(spark, PipelineConfig(
      sfDir = "/root/testdata/sf0.001",
      workRoot = Files.createTempDirectory("pipe-spec-narrow").toString,
      nCommodities = 2))
    pp.computeFeatures(pp.currentDay)
    val names = pp.lookups.map(lk => lk.metricCols(joinDay = true).sorted.map(lk.prefix + _))
    val cs = pp.commodities.select("commodity_clean").collect().map(_.getString(0)).sorted
    assert(cs.length == 2)
    cs.zipWithIndex.foreach { case (clean, i) =>
      val cols = names.map(_(i)) :+ names.head(i + 2)
      val toy = spark.range(40).select(
        cols.zipWithIndex.map { case (c, j) => ((col("id") * (j + 3)) % 7).cast("double").as(c) } :+
          (col("id") % 2).cast("double").as("label"): _*)
      val model = new Pipeline().setStages(Array(
        new VectorAssembler().setInputCols(cols.toArray).setOutputCol("features")
          .setHandleInvalid("keep"),
        new LogisticRegression().setMaxIter(5))).fit(toy)
      pp.models.promote(clean, pp.models.save(clean, model))
    }
    pp
  }

  test("scoreAll equals full-width scoring: models fitted on a few columns") {
    narrow.scoreAll()
    assertScoresEqualFullWidth(narrow)
  }

  test("re-scoring without one commodity's model keeps its earlier pivoted score") {
    val pp = narrow
    pp.scoreAll()
    val production = pp.productionModels()
    val cleanToDesc = production.map(c => c._2 -> c._1).toMap
    val (_, before) = sinks(pp, cleanToDesc)
    val dropped = production.last._2
    Files.delete(Paths.get(pp.models.root, dropped, "PRODUCTION"))
    pp.scoreAll()
    val (unpivoted, after) = sinks(pp, cleanToDesc)
    assert(unpivoted.keySet.map(_._2) == Set(production.head._1))
    assert(after == before, s"pivoted scores changed after re-scoring without '$dropped'")
    assert(pp.pivoted.read(spark).count() == pp.pivoted.read(spark).select("household_key", "day")
      .distinct().count())
  }
}
