package graft.train

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression}
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.tuning.{ParamGridBuilder, TrainValidationSplit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-commodity propensity model training (SURVEY.md U2/U4).
  *
  * The reference trains XGBoost via hyperopt `SparkTrials`
  * (`04b:228-311`, `:370-411`); this environment has MLlib only, so the
  * mapping is: XGBClassifier → `GBTClassifier` (or `LogisticRegression`
  * for a fast linear baseline), TPE search → `ParamGridBuilder` +
  * `TrainValidationSplit(parallelism=n)` (trials run as parallel Spark
  * jobs, like SparkTrials), `scale_pos_weight` → a `weightCol` derived
  * from the positive-class ratio (`04b:385-388`), loss = −average
  * precision → `BinaryClassificationEvaluator("areaUnderPR")`
  * (`04b:254,266`). Splits are seeded `randomSplit(.7/.15/.15)`
  * (`04b:366-367`) for determinism.
  *
  * Unlike the reference — which `toPandas()`es the whole feature matrix to
  * the driver (`04b:361`) — the training set never leaves the cluster:
  * VectorAssembler and the estimator run distributed, which is the entire
  * point at 100 TB.
  */
object PropensityTrainer {

  /** Defaults mirror the reference's tuning budget (`04b:378-395`):
    * hyperopt explores `max_depth` ∈ [5, 20] (quniform) and
    * `learning_rate` ∈ [0.01, 0.40] (uniform) with
    * `max_evals = max(50, parallelism·5)` TPE trials. The engine spends
    * the SAME `maxEvals` budget over the SAME ranges in TWO seeded
    * stages — explore half uniform-random, then refine half in a
    * neighborhood of the stage-1 top [[refineTopK]] trials
    * ([[refineMaps]]) — the deterministic stand-in for TPE's adaptive
    * proposals (explore/exploit, reproducible bit-for-bit). Trials run
    * as parallel Spark jobs (`parallelism` = local cores, like
    * `SparkTrials`). For exact reference parity on a cluster pass
    * `maxEvals = math.max(50, cores * 5)`.
    * XGBoost→GBT delta: MLlib's GBT has no `scale_pos_weight` /
    * `min_child_weight` / histogram tricks — imbalance is handled by the
    * `weightCol` instead (`withWeights`). Cost caveat: MLlib GBT slows
    * disproportionately beyond depth ~12 (no histogram binning), and the
    * sampled space reaches the reference's depth 20 — a full 50-eval GBT
    * search is a cluster-scale job, exactly as the reference's 50 XGBoost
    * trials are; local/test callers should pass explicit
    * `maxDepths`/`stepSizes` (or `algo = "lr"`), as every harness caller
    * does.
    *
    * `maxDepths`/`stepSizes` (GBT) and `regParams` (LR) are explicit grid
    * OVERRIDES — when non-empty they replace the sampled search (tests
    * and quick baselines); when empty the `maxEvals` random search runs.
    */
  final case class Config(
      algo: String = "gbt", // "gbt" | "lr"
      maxDepths: Seq[Int] = Nil,
      stepSizes: Seq[Double] = Nil,
      regParams: Seq[Double] = Nil,
      maxIter: Int = 20,
      maxEvals: Int = 50,
      parallelism: Int = Runtime.getRuntime.availableProcessors(),
      seed: Long = 42L)

  /** Stage split of the `maxEvals` budget: explore half, refine half —
    * the cheap deterministic stand-in for hyperopt's TPE adaptivity
    * (`04b:398-411`): TPE proposes new points from a density fit to the
    * best trials so far; here stage 2 samples a seeded neighborhood of
    * the stage-1 top [[refineTopK]] performers. Same total budget, same
    * ranges, fully deterministic.
    */
  def stageOneBudget(cfg: Config): Int = (cfg.maxEvals + 1) / 2
  val refineTopK: Int = 5

  /** Seeded distinct samples from the reference search space
    * (`04b:379-383`): depth quniform [5, 20], rate uniform [0.01, 0.40].
    */
  private def sampledSpace(n: Int, seed: Long): Seq[(Int, Double)] = {
    val rnd = new scala.util.Random(seed)
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Int, Double)]
    var attempts = 0
    while (seen.size < n && attempts < n * 100) {
      seen += ((5 + rnd.nextInt(16), 0.01 + rnd.nextDouble() * 0.39))
      attempts += 1
    }
    seen.toSeq
  }

  private def clamp(x: Double, lo: Double, hi: Double): Double =
    math.min(hi, math.max(lo, x))

  /** Seeded neighborhood samples around the stage-1 anchors (round-robin):
    * depth jitters ±2 (clamped to [5, 20]), rate multiplies by
    * e^U[−0.3, 0.3] (clamped to [0.01, 0.40]) — TPE's exploitation step
    * without its density machinery, still engine-deterministic.
    */
  private def neighborhoodSpace(anchors: Seq[(Int, Double)], n: Int,
      seed: Long): Seq[(Int, Double)] = {
    require(anchors.nonEmpty, "neighborhoodSpace: at least one anchor")
    val rnd = new scala.util.Random(seed ^ 0x9e3779b97f4a7c15L)
    val seen = scala.collection.mutable.LinkedHashSet.empty[(Int, Double)]
    var i = 0; var attempts = 0
    while (seen.size < n && attempts < n * 100) {
      val (d, r) = anchors(i % anchors.size)
      seen += ((
        math.min(20, math.max(5, d + rnd.nextInt(5) - 2)),
        clamp(r * math.exp((rnd.nextDouble() * 2 - 1) * 0.3), 0.01, 0.40)))
      i += 1; attempts += 1
    }
    seen.toSeq
  }

  /** Stage-1 hyperparameter search points — pure, no fitting (TrainerSpec
    * asserts the budget and ranges without training). Grid overrides win
    * (and consume the WHOLE budget — no refinement stage runs for them);
    * otherwise the seeded [[stageOneBudget]]-point random search over the
    * reference ranges, refined by [[refineMaps]] after fitting.
    */
  def searchMaps(estimator: Any, cfg: Config): Array[org.apache.spark.ml.param.ParamMap] = {
    import org.apache.spark.ml.param.ParamMap
    estimator match {
      case lr: LogisticRegression =>
        val regs =
          if (cfg.regParams.nonEmpty) cfg.regParams
          else {
            // log-uniform reg strength: LR's analog of the reference's
            // continuous rate range, same sampled budget
            val rnd = new scala.util.Random(cfg.seed)
            Seq.fill(stageOneBudget(cfg))(
              math.pow(10.0, -4.0 + 3.7 * rnd.nextDouble())).distinct
          }
        regs.map(r => ParamMap(lr.regParam -> r)).toArray
      case gbt: GBTClassifier =>
        // a PARTIAL grid override would be silently discarded and the
        // sampled search run instead — fail loud on the ambiguity
        require(cfg.maxDepths.isEmpty == cfg.stepSizes.isEmpty,
          "GBT grid override needs BOTH maxDepths and stepSizes (or neither)")
        if (cfg.maxDepths.nonEmpty)
          new ParamGridBuilder()
            .addGrid(gbt.maxDepth, cfg.maxDepths.toArray)
            .addGrid(gbt.stepSize, cfg.stepSizes.toArray).build()
        else
          sampledSpace(stageOneBudget(cfg), cfg.seed).map { case (d, s) =>
            ParamMap(gbt.maxDepth -> d, gbt.stepSize -> s)
          }.toArray
      case other =>
        throw new IllegalArgumentException(s"unsupported estimator: $other")
    }
  }

  /** Stage-2 (refinement) points from the ranked stage-1 trials — pure,
    * no fitting: a seeded neighborhood of the top [[refineTopK]]
    * performers, sized to spend the REMAINING `maxEvals − stageOne`
    * budget. `ranked` pairs each stage-1 ParamMap with its validation
    * metric (higher better).
    */
  def refineMaps(estimator: Any, cfg: Config,
      ranked: Seq[(org.apache.spark.ml.param.ParamMap, Double)])
      : Array[org.apache.spark.ml.param.ParamMap] = {
    import org.apache.spark.ml.param.ParamMap
    val n2 = cfg.maxEvals - stageOneBudget(cfg)
    if (n2 <= 0 || ranked.isEmpty) return Array.empty
    // stable top-k: metric DESC, then original trial order
    val top = ranked.zipWithIndex
      .sortBy { case ((_, m), i) => (-m, i) }
      .take(refineTopK).map(_._1._1)
    estimator match {
      case lr: LogisticRegression =>
        val anchors = top.map(m => m(lr.regParam))
        val rnd = new scala.util.Random(cfg.seed ^ 0x9e3779b97f4a7c15L)
        val seen = scala.collection.mutable.LinkedHashSet.empty[Double]
        var i = 0; var attempts = 0
        while (seen.size < n2 && attempts < n2 * 100) {
          val r = anchors(i % anchors.size)
          seen += clamp(r * math.pow(10.0, (rnd.nextDouble() * 2 - 1) * 0.3),
            1e-4, math.pow(10.0, -0.3))
          i += 1; attempts += 1
        }
        seen.toSeq.map(r => ParamMap(lr.regParam -> r)).toArray
      case gbt: GBTClassifier =>
        val anchors = top.map(m => (m(gbt.maxDepth), m(gbt.stepSize)))
        neighborhoodSpace(anchors, n2, cfg.seed).map { case (d, s) =>
          ParamMap(gbt.maxDepth -> d, gbt.stepSize -> s)
        }.toArray
      case other =>
        throw new IllegalArgumentException(s"unsupported estimator: $other")
    }
  }

  /** Train/validate/test split mirroring `04b:366-367`. */
  def split(df: DataFrame, seed: Long): (DataFrame, DataFrame, DataFrame) = {
    val Array(tr, va, te) = df.randomSplit(Array(0.7, 0.15, 0.15), seed)
    (tr, va, te)
  }

  /** Class-imbalance weight column from the positive ratio (`04b:385-388`):
    * positives weigh 1/posRatio (capped), negatives 1.0.
    */
  def withWeights(df: DataFrame, posRatio: Double): DataFrame = {
    val w = math.min(1.0 / math.max(posRatio, 1e-6), 100.0)
    df.withColumn("weight",
      when(col("purchased") === 1, lit(w)).otherwise(lit(1.0)))
  }

  def train(trainingSet: DataFrame, featureCols: Seq[String],
      cfg: Config = Config()): PipelineModel = {
    val assembler = new VectorAssembler()
      .setInputCols(featureCols.toArray).setOutputCol("features")
      .setHandleInvalid("keep")
    // two classes fixed by the label's metadata: a fitted part without a
    // positive (a rare commodity's validation split) would otherwise fit a
    // one-class model whose evaluation throws
    val binary = NominalAttribute.defaultAttr.withName("label").withNumValues(2).toMetadata()
    val labeled = trainingSet
      .withColumn("label", col("purchased").cast("double").as("label", binary))

    val estimator = cfg.algo match {
      case "lr" =>
        new LogisticRegression().setWeightCol("weight").setMaxIter(cfg.maxIter)
      case "gbt" =>
        new GBTClassifier()
          .setWeightCol("weight").setMaxIter(cfg.maxIter).setSeed(cfg.seed)
      case other =>
        throw new IllegalArgumentException(
          s"PropensityTrainer: unknown algo '$other' (allowed: gbt, lr)")
    }
    val evaluator = new BinaryClassificationEvaluator()
      .setMetricName("areaUnderPR")
    def fitWith(maps: Array[org.apache.spark.ml.param.ParamMap])
        : (PipelineModel, Array[Double]) = {
      val tvs = new TrainValidationSplit()
        .setEstimator(estimator).setEstimatorParamMaps(maps)
        .setEvaluator(evaluator).setTrainRatio(0.8)
        .setParallelism(cfg.parallelism).setSeed(cfg.seed)
      val pm = new Pipeline().setStages(Array(assembler, tvs)).fit(labeled)
      val metrics = pm.stages(1)
        .asInstanceOf[org.apache.spark.ml.tuning.TrainValidationSplitModel]
        .validationMetrics
      (pm, metrics)
    }
    val stage1 = searchMaps(estimator, cfg)
    val (pm1, m1) = fitWith(stage1)
    val explicitGrid = cfg.regParams.nonEmpty || cfg.maxDepths.nonEmpty
    if (explicitGrid) pm1
    else {
      // TPE-ish refinement (04b:398-411): spend the remaining budget in a
      // seeded neighborhood of the stage-1 top performers; keep whichever
      // stage's best validation metric wins (ties → stage 1)
      val stage2 = refineMaps(estimator, cfg, stage1.toSeq.zip(m1.toSeq))
      if (stage2.isEmpty) pm1
      else {
        val (pm2, m2) = fitWith(stage2)
        if (m2.max > m1.max) pm2 else pm1
      }
    }
  }

  /** The reference's three tracked model-quality metrics (`04b:254-256`,
    * `04b:297-309`): average precision, balanced accuracy, Matthews
    * correlation coefficient.
    */
  final case class Metrics(
      avgPrecision: Double, balancedAccuracy: Double, mcc: Double) {
    override def toString: String =
      f"avg_precision=$avgPrecision%.4f balanced_accuracy=$balancedAccuracy%.4f mcc=$mcc%.4f"
  }

  /** Balanced accuracy + MCC from confusion counts, computed in ONE
    * distributed aggregate over the scored frame (the reference computes
    * them driver-side via sklearn on a pandas matrix, `04b:254-256`).
    * Conventions: MCC is 0.0 when any confusion margin is empty
    * (sklearn's zero-division behavior); an absent class contributes a
    * 0.0 recall term to balanced accuracy.
    */
  def confusionMetrics(scored: DataFrame,
      labelCol: String = "label", predCol: String = "prediction"): (Double, Double) = {
    val l = col(labelCol)
    val p = col(predCol)
    // count(when(...)) is 0 (never null) on an empty frame — sum() would
    // return null and NPE the unboxing below
    def cnt(c: org.apache.spark.sql.Column) = count(when(c, 1))
    val row = scored.agg(
      cnt(l === 1.0 && p === 1.0).as("tp"),
      cnt(l === 0.0 && p === 1.0).as("fp"),
      cnt(l === 0.0 && p === 0.0).as("tn"),
      cnt(l === 1.0 && p === 0.0).as("fn")).head()
    val (tp, fp, tn, fn) =
      (row.getLong(0).toDouble, row.getLong(1).toDouble,
        row.getLong(2).toDouble, row.getLong(3).toDouble)
    def rate(num: Double, den: Double) = if (den == 0.0) 0.0 else num / den
    val ba = (rate(tp, tp + fn) + rate(tn, tn + fp)) / 2.0
    val den = math.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn))
    val mcc = if (den == 0.0) 0.0 else (tp * tn - fp * fn) / den
    (ba, mcc)
  }

  /** All three tracked metrics on a held-out frame (`04b:297-309`). */
  def evaluate(model: PipelineModel, test: DataFrame): Metrics = {
    val scored = model
      .transform(test.withColumn("label", col("purchased").cast("double")))
      .select("label", "prediction", "rawPrediction")
      .cache() // score once, read twice (AP + confusion)
    try {
      val ap = new BinaryClassificationEvaluator()
        .setMetricName("areaUnderPR").evaluate(scored)
      val (ba, mcc) = confusionMetrics(scored)
      Metrics(ap, ba, mcc)
    } finally { scored.unpersist(); () }
  }
}
