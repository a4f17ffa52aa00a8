package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.train.{ModelStore, PropensityTrainer}

class TrainerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // linearly separable toy: purchased=1 iff f1 > 0.5
  private def toy(n: Int) = {
    val rows = (0 until n).map { i =>
      val f1 = (i % 10) / 10.0
      (i.toLong, f1, (i % 3) / 3.0, if (f1 > 0.5) 1 else 0)
    }
    rows.toDF("id", "household__f1", "household__f2", "purchased")
  }

  test("lr pipeline trains, scores in [0,1], and separates the toy signal") {
    val df = PropensityTrainer.withWeights(toy(200), posRatio = 0.4)
    val model = PropensityTrainer.train(df,
      Seq("household__f1", "household__f2"),
      PropensityTrainer.Config(algo = "lr", regParams = Seq(0.0, 0.01), maxIter = 10, parallelism = 2))
    val scored = model.transform(df)
      .select(col("household__f1"),
        org.apache.spark.ml.functions.vector_to_array(col("probability"))
          .getItem(1).as("p"))
    val agg = scored.groupBy(col("household__f1") > 0.5).agg(avg(col("p"))).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(agg(true) > 0.8 && agg(false) < 0.2,
      s"model failed to separate: $agg")
    val bounds = scored.agg(min(col("p")), max(col("p"))).head()
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 1.0)
  }

  test("model store: save, promote, load production round-trip") {
    val store = ModelStore(Files.createTempDirectory("ms").toString)
    val df = PropensityTrainer.withWeights(toy(100), posRatio = 0.4)
    val model = PropensityTrainer.train(df, Seq("household__f1", "household__f2"),
      PropensityTrainer.Config(algo = "lr", regParams = Seq(0.0, 0.01), maxIter = 5, parallelism = 1))
    val v = store.save("test_commodity", model)
    assert(!store.hasProduction("test_commodity"))
    store.promote("test_commodity", v)
    assert(store.hasProduction("test_commodity"))
    val loaded = store.loadProduction("test_commodity")
    assert(loaded.transform(df).count() == 100)
  }

  test("gbt pipeline (the XGBoost stand-in) trains and separates") {
    val df = PropensityTrainer.withWeights(toy(200), posRatio = 0.4)
    val model = PropensityTrainer.train(df,
      Seq("household__f1", "household__f2"),
      PropensityTrainer.Config(algo = "gbt", maxDepths = Seq(2),
        stepSizes = Seq(0.1), maxIter = 5, parallelism = 2))
    val scored = model.transform(df)
      .select(col("household__f1"),
        org.apache.spark.ml.functions.vector_to_array(col("probability"))
          .getItem(1).as("p"))
    val agg = scored.groupBy(col("household__f1") > 0.5).agg(avg(col("p"))).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(agg(true) > 0.7 && agg(false) < 0.3, s"gbt failed to separate: $agg")
  }

  test("two-stage search spends ≥50 points over the reference ranges (04b:379-411)") {
    import org.apache.spark.ml.classification.{GBTClassifier, LogisticRegression}
    val cfg = PropensityTrainer.Config() // production default
    assert(cfg.maxEvals >= 50)
    val gbt = new GBTClassifier()
    def stage1(cfg: PropensityTrainer.Config) =
      PropensityTrainer.searchMaps(gbt, cfg)
        .map(m => (m(gbt.maxDepth), m(gbt.stepSize))).toSeq
    val s1 = stage1(cfg)
    assert(s1.length == PropensityTrainer.stageOneBudget(cfg))
    assert(s1.distinct.length == s1.length, "sampled points must be distinct")
    s1.foreach { case (d, s) =>
      assert(d >= 5 && d <= 20, s"max_depth $d outside [5,20]")
      assert(s >= 0.01 && s <= 0.40, s"learning_rate $s outside [0.01,0.40]")
    }
    // deterministic for a fixed seed; a different seed moves the points
    assert(stage1(cfg) == s1)
    assert(stage1(cfg.copy(seed = 7L)) != s1)

    // stage 2: refinement spends the REST of the budget near the top 5
    val fakeMetrics = s1.indices.map(i => 1.0 / (i + 1)) // best = trial 0
    val ranked = PropensityTrainer.searchMaps(gbt, cfg).toSeq
      .zip(fakeMetrics)
    val s2 = PropensityTrainer.refineMaps(gbt, cfg, ranked)
      .map(m => (m(gbt.maxDepth), m(gbt.stepSize))).toSeq
    assert(s1.length + s2.length == cfg.maxEvals,
      s"two-stage budget ${s1.length}+${s2.length} != ${cfg.maxEvals}")
    assert(s2.distinct.length == s2.length)
    val anchors = s1.take(PropensityTrainer.refineTopK)
    s2.foreach { case (d, s) =>
      assert(d >= 5 && d <= 20, s"refined depth $d outside [5,20]")
      assert(s >= 0.01 && s <= 0.40, s"refined rate $s outside [0.01,0.40]")
      // every refined point is a ±2-depth / e^±0.3-rate jitter of SOME
      // top-5 anchor — the neighborhood contract
      assert(anchors.exists { case (ad, ar) =>
        math.abs(d - ad) <= 2 &&
          s >= ar * math.exp(-0.3) - 1e-12 && s <= ar * math.exp(0.3) + 1e-12
      }, s"refined point ($d,$s) not in any anchor neighborhood")
    }
    // deterministic refinement
    assert(PropensityTrainer.refineMaps(gbt, cfg, ranked)
      .map(m => (m(gbt.maxDepth), m(gbt.stepSize))).toSeq == s2)

    // lr: same two-stage budget; explicit override wins and refines nothing
    val lr = new LogisticRegression()
    val lrS1 = PropensityTrainer.searchMaps(lr, cfg)
    val lrS2 = PropensityTrainer.refineMaps(lr, cfg,
      lrS1.toSeq.zip(lrS1.indices.map(i => 1.0 / (i + 1))))
    assert(lrS1.length + lrS2.length == cfg.maxEvals)
    assert(PropensityTrainer.searchMaps(lr,
      cfg.copy(regParams = Seq(0.0, 0.01))).length == 2)
  }

  test("lr two-stage refinement trains end-to-end (no grid override)") {
    val df = PropensityTrainer.withWeights(toy(120), posRatio = 0.4)
    // tiny budget: 2 explore + 2 refine — exercises BOTH fits + the pick
    val model = PropensityTrainer.train(df,
      Seq("household__f1", "household__f2"),
      PropensityTrainer.Config(algo = "lr", maxEvals = 4, maxIter = 5,
        parallelism = 2))
    assert(model.transform(df).count() == 120)
  }

  test("confusion metrics match hand-computed MCC and balanced accuracy") {
    // tp=2 fp=1 tn=3 fn=1 → tpr=2/3, tnr=3/4, ba=17/24;
    // mcc = (2*3 - 1*1) / sqrt(3*3*4*4) = 5/12
    val scored = Seq(
      (1.0, 1.0), (1.0, 1.0), (0.0, 1.0),
      (0.0, 0.0), (0.0, 0.0), (0.0, 0.0), (1.0, 0.0)
    ).toDF("label", "prediction")
    val (ba, mcc) = PropensityTrainer.confusionMetrics(scored)
    assert(math.abs(ba - 17.0 / 24.0) < 1e-12, s"ba=$ba")
    assert(math.abs(mcc - 5.0 / 12.0) < 1e-12, s"mcc=$mcc")
    // degenerate: all predictions one class → mcc 0 by convention
    val onesided = Seq((1.0, 0.0), (0.0, 0.0)).toDF("label", "prediction")
    val (ba1, mcc1) = PropensityTrainer.confusionMetrics(onesided)
    assert(mcc1 == 0.0 && ba1 == 0.5)
  }

  test("evaluate reports all three reference metrics on a separable toy") {
    val df = PropensityTrainer.withWeights(toy(200), posRatio = 0.4)
    val model = PropensityTrainer.train(df,
      Seq("household__f1", "household__f2"),
      PropensityTrainer.Config(algo = "lr", regParams = Seq(0.0, 0.01), maxIter = 10, parallelism = 2))
    val m = PropensityTrainer.evaluate(model, toy(200))
    assert(m.avgPrecision > 0.95, s"ap=${m.avgPrecision}")
    assert(m.balancedAccuracy > 0.95, s"ba=${m.balancedAccuracy}")
    assert(m.mcc > 0.9, s"mcc=${m.mcc}")
  }

  test("seeded split is deterministic") {
    val (a1, b1, c1) = PropensityTrainer.split(toy(100), seed = 7L)
    val (a2, _, _) = PropensityTrainer.split(toy(100), seed = 7L)
    assert(a1.agg(sum("id")).head().getLong(0) == a2.agg(sum("id")).head().getLong(0))
    assert(a1.count() + b1.count() + c1.count() == 100)
  }

  test("lr trains and evaluates when the fitted split holds no positive") {
    val cfg = PropensityTrainer.Config(algo = "lr", regParams = Seq(0.0), maxIter = 5,
      parallelism = 1)
    // one positive among 150 rows, placed where TrainValidationSplit's
    // seeded 0.8/0.2 split (ordered by id within each partition) holds it
    // out: the fitted part sees negatives only
    val negatives = toy(150).withColumn("purchased", lit(0))
    val heldOut = negatives.randomSplit(Array(0.8, 0.2), cfg.seed)(1)
      .select("id").head().getLong(0)
    val df = PropensityTrainer.withWeights(
      negatives.withColumn("purchased", when(col("id") === heldOut, 1).otherwise(0)), 1.0 / 150)
    val model = PropensityTrainer.train(df, Seq("household__f1", "household__f2"), cfg)
    val m = PropensityTrainer.evaluate(model, df)
    assert(!m.balancedAccuracy.isNaN && !m.mcc.isNaN, s"metrics: $m")
    assert(model.transform(df).count() == 150)
  }

  test("an unknown algo fails before any fit, naming the allowed values") {
    val df = PropensityTrainer.withWeights(toy(50), posRatio = 0.4)
    val sc = spark.sparkContext
    val group = "trainer-unknown-algo"
    sc.setJobGroup(group, "no fit may run for an unknown algo")
    try {
      val e = intercept[IllegalArgumentException] {
        PropensityTrainer.train(df, Seq("household__f1", "household__f2"),
          PropensityTrainer.Config(algo = "LR", regParams = Seq(0.0), maxIter = 5,
            parallelism = 1))
      }
      assert(e.getMessage.contains("'LR'") && e.getMessage.contains("gbt, lr"),
        e.getMessage)
      assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
    } finally sc.clearJobGroup()
  }
}
