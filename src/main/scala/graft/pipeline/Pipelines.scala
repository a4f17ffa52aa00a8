package graft.pipeline

import java.time.LocalDate
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Retail
import graft.features.{FeatureBuilder, FeatureTable}
import graft.labels.LabelBuilder
import graft.ops.Commodities
import graft.score.{MergeWriter, Scorer}
import graft.silver.TransactionsAdj
import graft.train.{ModelStore, PropensityTrainer, TrainingSetBuilder}

/** Orchestration of the reference's workflow DAG (`RUNME.py:66-170`,
  * `03_Define_Workflow.py:13`): notebooks-as-tasks become plain Scala
  * functions over (SparkSession, Config) — Init (feature backfill at
  * {cur, cur−30}, `02:78-88`), Weekly (train per commodity), Daily
  * (feature refresh → score → merge). State lives in keyed FeatureTables
  * + the ModelStore under `workRoot`.
  */
final case class PipelineConfig(
    sfDir: String,
    workRoot: String,
    nCommodities: Int = 10,
    trainer: PropensityTrainer.Config = PipelineConfig.defaultTrainer)

object PipelineConfig {
  /** Default pipeline trainer: a 9-point GBT grid capped at depth 12.
    * Its cost is cluster-scale, not local: on `local[4]` at sf0.01 (a
    * ~1,500-row slice, 1,164 features) no single commodity's fit finished
    * within 15 minutes. `PropensityTrainer.Config()`'s own default is the
    * reference's budget — a 50-eval random search reaching depth 20
    * (`04b:391-395`) — one explicit opt-in away:
    * `cfg.copy(trainer = PropensityTrainer.Config())`. For a local run
    * pass the linear trainer `Flagship` uses:
    * `PropensityTrainer.Config(algo = "lr", regParams = Seq(0.0, 0.01),
    * maxIter = 10, parallelism = 2)`.
    */
  val defaultTrainer: PropensityTrainer.Config = PropensityTrainer.Config(
    maxDepths = Seq(5, 8, 12), stepSizes = Seq(0.05, 0.1, 0.3))
}

final class PropensityPipeline(spark: SparkSession, cfg: PipelineConfig) {

  private def ft(name: String, keys: Seq[String]) =
    FeatureTable(s"${cfg.workRoot}/$name", keys :+ "day")

  val householdFeatures: FeatureTable = ft("household_features", Seq("household_key"))
  val commodityFeatures: FeatureTable = ft("commodity_features", Seq("commodity_desc"))
  val householdCommodityFeatures: FeatureTable =
    ft("household_commodity_features", Seq("household_key", "commodity_desc"))
  val pivoted: FeatureTable =
    FeatureTable(s"${cfg.workRoot}/propensities_pivoted", Seq("household_key", "day"))
  val models: ModelStore = ModelStore(s"${cfg.workRoot}/models")

  def tx: DataFrame = TransactionsAdj(spark, cfg.sfDir)
  def txc: DataFrame = FeatureBuilder.txWithCommodity(spark, cfg.sfDir)

  /** Cached once per pipeline instance: the top-k scan runs a single time
    * and every stage reuses one cache entry (a `def` would re-build and
    * re-cache per access).
    */
  lazy val commodities: DataFrame =
    Commodities.commoditiesToScore(spark, cfg.sfDir, cfg.nCommodities).cache()

  /** One min/max scan per pipeline instance (EP2 scalar), not per access. */
  lazy val currentDay: LocalDate = graft.core.Retail.dayBounds(spark, cfg.sfDir)._2

  /** Feature snapshot for every grain as-of `day` (history ≤ day only),
    * upserted into the keyed tables (S8).
    */
  def computeFeatures(day: LocalDate): Unit = {
    val d = java.sql.Date.valueOf(day)
    val txAsOf = tx.filter(col("day") <= lit(d))
    val txcAsOf = txc.filter(col("day") <= lit(d))
    // one bounds job per distinct fact, shared across grains
    val hb = FeatureBuilder.bounds(txAsOf)
    val cb = FeatureBuilder.bounds(txcAsOf)
    def stamped(df: DataFrame) = df.withColumn("day", lit(d))
    householdFeatures.upsert(spark,
      stamped(FeatureBuilder.build(txAsOf, FeatureBuilder.household,
        knownBounds = Some(hb))))
    commodityFeatures.upsert(spark,
      stamped(FeatureBuilder.build(txcAsOf, FeatureBuilder.commodity,
        knownBounds = Some(cb))))
    householdCommodityFeatures.upsert(spark,
      stamped(FeatureBuilder.build(txcAsOf, FeatureBuilder.householdCommodity,
        knownBounds = Some(cb))))
  }

  /** Init (`02_Initialize_Solution.py:78-88`): backfill features at the
    * label cutoff and at current, so training lookups hit exact PK days.
    */
  def init(): Unit = {
    val cur = currentDay
    computeFeatures(cur.minusDays(LabelBuilder.horizonDays))
    computeFeatures(cur)
  }

  /** The point-in-time lookups of every grain, at full width. */
  def lookups: Seq[TrainingSetBuilder.Lookup] = Seq(
    TrainingSetBuilder.Lookup(householdFeatures.read(spark),
      Seq("household_key"), "household__"),
    TrainingSetBuilder.Lookup(commodityFeatures.read(spark),
      Seq("commodity_desc"), "commodity__"),
    TrainingSetBuilder.Lookup(householdCommodityFeatures.read(spark),
      Seq("household_key", "commodity_desc"), "household_commodity__"))

  /** (commodity_desc, commodity_clean) of every scored commodity.
    * Sanitation (F5) is lossy — two commodities must never share a clean
    * name, or their models and score columns would silently cross-wire.
    */
  private def cleanNames(): Seq[(String, String)] = {
    val cs = commodities.select("commodity_desc", "commodity_clean")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    require(cs.map(_._2).distinct.size == cs.size,
      s"commodity_clean collision in ${cs.map(_._2).mkString(",")}")
    cs
  }

  /** Weekly (`04b`): labels at cur−30, PIT-join features, one model per
    * commodity, promoted to Production.
    */
  def trainAll(): Seq[(String, PropensityTrainer.Metrics)] = {
    val cur = currentDay
    val fed = cur.minusDays(LabelBuilder.horizonDays)
    val labels = LabelBuilder.labels(txc, commodities, fed).cache()
    val trainingSet = TrainingSetBuilder.build(labels, lookups).cache()
    try {
    val featureCols = trainingSet.columns.toSeq.filter(c => c.contains("__"))
    val cs = cleanNames()
    val ratios = LabelBuilder.posRatio(labels)
      .filter(col("purchased") === 1)
      .select("commodity_desc", "class_ratio")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val out = cs.map { case (desc, clean) =>
      val slice = trainingSet.filter(col("commodity_desc") === desc)
      val weighted = PropensityTrainer.withWeights(slice, ratios.getOrElse(desc, 0.5))
      val (trainDf, valDf, test) = PropensityTrainer.split(weighted, cfg.trainer.seed)
      // TrainValidationSplit draws its own validation slice, so feed it
      // train ∪ val — otherwise the 15% val rows would contribute nothing
      val model = PropensityTrainer.train(
        trainDf.unionByName(valDf), featureCols, cfg.trainer)
      val metrics = PropensityTrainer.evaluate(model, test)
      // the reference logs all three per-commodity metrics to its tracking
      // service (04b:258-264); here they go to the job log
      println(s"[trainAll] $desc: $metrics")
      val v = models.save(clean, model)
      models.promote(clean, v)
      (desc, metrics)
    }
    out
    } finally {
      // a mid-loop train/save failure must not leave the two cached
      // frames pinned for the application lifetime
      labels.unpersist(); trainingSet.unpersist(); ()
    }
  }

  /** The commodities scored today with their Production models, each
    * loaded once: (commodity_desc, commodity_clean, model). The top-k
    * control set drifts daily; a commodity that entered since the last
    * weekly train has no Production model yet and is skipped loudly
    * instead of failing the whole daily job.
    */
  def productionModels(): Seq[(String, String, PipelineModel)] = {
    val (cs, missing) = cleanNames().partition { case (_, clean) => models.hasProduction(clean) }
    missing.foreach { case (desc, clean) =>
      System.err.println(s"[scoreAll] skipping '$desc': no Production model '$clean'")
    }
    require(cs.nonEmpty, "scoreAll: no commodity has a Production model — run trainAll first")
    cs.map { case (desc, clean) => (desc, clean, models.loadProduction(clean)) }
  }

  /** The scoring spine at `day`: one row per (household, scored commodity)
    * with the features the models read, absent ones filled with 0.0.
    *
    * Each lookup is narrowed to the union of the models' assembler inputs
    * before the join — `score_batch`'s feature-spec semantics
    * (`04c:169-186`) — so a model fitted on a few columns does not pull
    * the full 1,164-column width. The key frame is coalesced to
    * ⌈rows / `spark.sql.inMemoryColumnarStorage.batchSize`⌉ partitions
    * (at least one, never more than it has) before the lookups, so each
    * cached partition fills at least one column batch instead of holding
    * a few rows per silver bucket.
    */
  def scoringSpine(day: LocalDate,
      scored: Seq[(String, String, PipelineModel)]): DataFrame = {
    val keys = tx.select("household_key").distinct()
      .crossJoin(broadcast(commodities.select("commodity_desc")
        .filter(col("commodity_desc").isin(scored.map(_._1): _*))))
      .withColumn("day", lit(java.sql.Date.valueOf(day)))
    val batch = spark.sessionState.conf.columnBatchSize
    val parts = math.max(1, math.ceil(keys.count().toDouble / batch).toInt)
    val inputs = scored.flatMap { case (_, _, model) => Scorer.inputColumns(model) }.toSet
    TrainingSetBuilder.build(keys.coalesce(parts), lookups.map(_.prune(inputs)))
  }

  /** Daily (`04c`): refresh features if today's snapshot is missing (the
    * exact-day PIT join would otherwise silently score on fillna zeros),
    * score every (household, commodity) with a Production model through
    * the narrow, row-sized [[scoringSpine]], then write BOTH sinks — the
    * pivoted table in ONE per-column merge per day ([[MergeWriter.mergeWide]],
    * `04c:189-202`: a commodity not scored today keeps its earlier score)
    * and the unpivoted day partition (S6).
    */
  def scoreAll(): DataFrame = {
    val cur = currentDay
    // freshness gate checks ALL THREE feature tables: a computeFeatures
    // crash between the three upserts would otherwise leave commodity /
    // household-commodity snapshots missing and scoring would silently
    // proceed on fillna-0.0 features
    val hasToday = Seq(householdFeatures, commodityFeatures,
      householdCommodityFeatures).forall(_.hasDay(cur))
    if (!hasToday) computeFeatures(cur)
    val production = productionModels()
    // cached: every commodity's scorer reads it
    val spine = scoringSpine(cur, production).cache()
    var unpivoted: DataFrame = null
    try {
      unpivoted = production.map { case (desc, clean, model) =>
        Scorer.score(model, spine.filter(col("commodity_desc") === desc))
          .withColumn("commodity_clean", lit(clean))
      }.reduce(_.unionByName(_)).cache()
      val pivotedBatch = MergeWriter.pivotScores(
        unpivoted.withColumnRenamed("commodity_desc", "__cd")
          .withColumnRenamed("commodity_clean", "commodity_desc"),
        production.map(_._2))
      MergeWriter.mergeWide(spark, pivoted, pivotedBatch)
      val out = unpivoted.drop("commodity_clean")
      // day-partitioned DYNAMIC overwrite: a re-run of the same day (or a
      // retry after a crash between the two sinks) replaces that day's
      // partition instead of blindly appending duplicate score rows; new
      // days still accumulate (S6 semantics, made idempotent)
      out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(s"${cfg.workRoot}/propensities_unpivoted")
      out
    } finally {
      spine.unpersist()
      if (unpivoted != null) { unpivoted.unpersist(); () }
    }
  }
}
