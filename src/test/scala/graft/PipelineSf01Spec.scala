package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.labels.LabelBuilder
import graft.ops.ModelEval
import graft.pipeline.{PipelineConfig, PropensityPipeline}
import graft.train.{PropensityTrainer, TrainingSetBuilder}

/** Weekly train e2e at sf0.01 — the smallest fixture with REAL signal.
  *
  * What "real signal" means HERE, measured (verify dump at sf0.01):
  * the synthetic fixture's per-(household, commodity) purchases are
  * near-random — the basket-share affinity heuristic scores AUC 0.486
  * (`feature_auc_screen`) — and the one genuine signal is household
  * ACTIVITY (`total_baskets` AUC 0.609: busier households buy more of
  * everything). A top commodity carries only ~25 positives, so held-out
  * average precision is a ~4-positive noise draw (measured 0.003-0.03
  * across seeds). The honest non-degeneracy assertion is therefore:
  * the trained, promoted model RANKS the labeled universe of its own
  * commodity well above chance (full-slice exact AUC via ModelEval) —
  * proving the feature → PIT-join → weight → fit → promote path learns
  * the signal that exists, rather than asserting a metric the fixture
  * cannot support.
  */
class PipelineSf01Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("weekly train at sf0.01: promoted model ranks well above chance") {
    val cfg = PipelineConfig(
      sfDir = "/root/testdata/sf0.01",
      workRoot = Files.createTempDirectory("pipe-sf01").toString,
      nCommodities = 1,
      trainer = PropensityTrainer.Config(algo = "lr",
        regParams = Seq(0.0, 0.01), maxIter = 10, parallelism = 2))
    val p = new PropensityPipeline(spark, cfg)
    p.init()
    val metrics = p.trainAll()
    assert(metrics.size == 1)

    // rebuild the SAME training slice trainAll used (public builders over
    // the pipeline's own feature tables) and score it with the PROMOTED
    // production model — the full train+val+test slice: with ~25
    // positives total, sliced-holdout ranking metrics are noise, and the
    // claim under test is that the path LEARNS, not a generalization
    // bound on a noise fixture
    val fed = p.currentDay.minusDays(LabelBuilder.horizonDays)
    val labels = LabelBuilder.labels(p.txc, p.commodities, fed)
    val ts = TrainingSetBuilder.build(labels, p.lookups)
    val desc = metrics.head._1
    val clean = p.commodities
      .filter(col("commodity_desc") === desc)
      .select("commodity_clean").head().getString(0)
    val model = p.models.loadProduction(clean)
    val scored = model.transform(ts.filter(col("commodity_desc") === desc))
      .select(col("purchased"),
        round(org.apache.spark.ml.functions
          .vector_to_array(col("probability")).getItem(1), 9).as("score"))
    val row = ModelEval.auc(scored).head()
    val auc = row.getDouble(0)
    assert(row.getAs[Long]("pos") > 0L, "slice has no positives")
    assert(auc > 0.6, s"model AUC $auc not above chance — training path " +
      "failed to learn the household-activity signal")
  }
}
