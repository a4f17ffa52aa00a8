package graftbench

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryRegistry
import graft.labels.LabelBuilder
import graft.pipeline.{PipelineConfig, PropensityPipeline}
import graft.train.{PropensityTrainer, TrainingSetBuilder}

/** The benchmark's JVM side: set up one workload, run whole operations for
  * the requested seconds, check what they wrote, and write one result file
  * (and, traced, one trace record).
  *
  *   graftbench.Main <workload> <fixtureDir> <workDir> <seed> <seconds>
  *                   <trace 0|1> <resultJson> <traceJson> <quick 0|1>
  */
object Main {
  final case class Args(workload: String, fixture: String, work: String,
      seed: Long, seconds: Double, trace: Boolean, result: String,
      traceOut: String, quick: Boolean)

  /** Scored commodities of `daily_score`. */
  val dailyK = 1
  /** Features each `daily_score` model is fitted on (per grain): the full
    * 1,164-column fit costs 40-75 s on any fixture, more than a run has.
    */
  val fitFeaturesPerGrain = 4

  final class Checks {
    val items = mutable.ArrayBuffer.empty[(String, Boolean, String)]
    def apply(name: String, ok: Boolean, detail: => String = ""): Unit = {
      items += ((name, ok, if (ok) "" else detail))
      if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
  }

  final class Op(val span: Span, val wall: Double, val cpu: Double)

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = Args(argv(0), argv(1), argv(2), argv(3).toLong, argv(4).toDouble,
      argv(5) == "1", argv(6), argv(7), argv(8) == "1")
    // full call stacks on every job, so each job can be charged to a layer
    System.setProperty("spark.callstack.depth", "2000")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.core.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, a.trace)
    spark.sparkContext.addSparkListener(rec)
    val checks = new Checks
    val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, String]

    rec.span("setup", "setup", "core") {
      rec.span("catalog", "setup", "core")(graft.core.Catalog.registerAll(spark, a.fixture))
      graft.core.SilverStore.enable()
      rec.span("silver", "setup", "silver")(graft.silver.TransactionsAdj(spark, a.fixture))
    }
    val w: Workload = a.workload match {
      case "daily_score" => new DailyScore(spark, rec, a, checks, extra, info)
      case "query_library" => new QueryLibrary(spark, rec, a, checks, extra, info)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.span("prerequisites", "setup", "pipeline")(w.setup())
    val setupS = (System.nanoTime() - t0) / 1e9

    val ops = mutable.ArrayBuffer.empty[Op]
    // start the ops from a collected heap, so set-up garbage left in the old
    // generation does not decide which post-GC sample is largest
    System.gc()
    HeapWatch.arm()
    val tOps = System.nanoTime()
    var failed = 0
    // whole operations until the measuring time is spent (at least one)
    // (quick: exactly two, so the repeat checks always run)
    while (ops.size < (if (a.quick) 2 else 1) ||
        (!a.quick && (System.nanoTime() - tOps) / 1e9 < a.seconds)) {
      val i = ops.size
      val s0 = System.nanoTime()
      val span = rec.span(s"op$i", "op", "pipeline") {
        try w.op(i) catch { case e: Throwable =>
          failed += 1
          System.err.println(s"[perfbench] op $i failed: $e")
        }
        rec.current
      }
      val wall = (System.nanoTime() - s0) / 1e9
      ops += new Op(span, wall, rec.cpuSeconds(span))
      if (a.quick || (System.nanoTime() - tOps) / 1e9 < a.seconds)
        rec.span(s"after$i", "check", "bench")(w.afterOp(i))
    }
    val peakMb = HeapWatch.disarm()
    rec.span("checks", "check", "bench")(w.check(ops.size))
    rec.drain()

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted; val n = s.size
      if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    metrics("setup_s") = (setupS, "s")
    metrics("op_s") = (median(ops.map(_.wall).toSeq), "s")
    metrics("op_cpu_s") = (median(ops.map(_.cpu).toSeq), "s")
    metrics("peak_heap_mb") = (peakMb, "MB")
    // a traced run reports the per-layer metrics; its record keeps both
    if (a.trace) {
      val layered = mutable.LinkedHashMap.from(Layered.metrics(rec, ops.map(_.span).toSeq, extra.toMap))
      writeResult(a, checks, ops.size, failed, layered, info)
      writeTrace(a, rec, ops.toSeq, metrics ++ layered)
    } else writeResult(a, checks, ops.size, failed, metrics, info)
    spark.stop()
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  private def writeResult(a: Args, checks: Checks, attempted: Int, failed: Int,
      metrics: mutable.LinkedHashMap[String, (Double, String)],
      info: mutable.LinkedHashMap[String, String]): Unit = {
    val m = metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString("{", ", ", "}")
    val c = checks.items.map { case (n, ok, d) =>
      s"{\"name\": ${str(n)}, \"ok\": $ok, \"detail\": ${str(d)}}" }.mkString("[", ", ", "]")
    val i = info.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
    Files.writeString(Paths.get(a.result),
      s"""{"attempted": $attempted, "failed": $failed, "checks": $c, "info": $i, "metrics": $m}""")
  }

  private def writeTrace(a: Args, rec: Recorder, ops: Seq[Op],
      metrics: mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    val spans = rec.spans.map { s =>
      s"""{"id": ${s.id}, "name": ${str(s.name)}, "parent": ${s.parent}, "phase": ${str(s.phase)}, "layer": ${str(s.layer)}, "start_ns": ${s.start}, "end_ns": ${s.end}, "run": ${str(rec.runId)}}"""
    }.mkString("[\n", ",\n", "]")
    val jobs = rec.jobs.values.map { j =>
      s"""{"job": ${j.id}, "span": ${j.span}, "layer": ${str(j.layer)}, "start_ms": ${j.start}, "end_ms": ${j.end}, "tasks": ${j.tasks}, "cpu_ns": ${j.cpuNs}, "gc_ms": ${j.gcMs}, "shuffle_write_bytes": ${j.shuffleWrite}, "spill_bytes": ${j.spill}, "bytes_written": ${j.bytesWritten}, "call_site": ${str(j.callSite)}}"""
    }.mkString("[\n", ",\n", "]")
    val opRecs = ops.map { o =>
      val ids = rec.descendants(o.span)
      val js = rec.jobs.values.filter(j => ids(j.span))
      s"""{"span": ${o.span.id}, "wall_s": ${num(o.wall)}, "task_cpu_s": ${num(o.cpu)}, "jobs": ${js.size}, "shuffle_write_bytes": ${js.map(_.shuffleWrite).sum}, "spill_bytes": ${js.map(_.spill).sum}}"""
    }.mkString("[", ", ", "]")
    val m = metrics.map { case (k, (v, u)) =>
      s"${str(k)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}" }.mkString("{", ", ", "}")
    Files.createDirectories(Paths.get(a.traceOut).getParent)
    Files.writeString(Paths.get(a.traceOut),
      s"""{"run": ${str(rec.runId)}, "workload": ${str(a.workload)}, "seed": ${a.seed}, "metrics": $m, "ops": $opRecs, "spans": $spans, "jobs": $jobs}""")
  }
}

/** One workload: its prerequisites, one operation, and the output checks. */
trait Workload {
  def setup(): Unit
  def op(i: Int): Unit
  /** Untimed bookkeeping between ops. */
  def afterOp(i: Int): Unit = ()
  def check(ops: Int): Unit
}

/** The reference's daily job. Set-up refreshes today's features and fits
  * one model per scored commodity; the op scores every (household,
  * commodity) pair and writes both sinks. Most output checks run in
  * perfbench/checks.py over the tables the run leaves behind.
  */
final class DailyScore(spark: SparkSession, rec: Recorder, a: Main.Args,
    checks: Main.Checks, extra: mutable.Map[String, (Double, String)],
    info: mutable.Map[String, String]) extends Workload {
  private val p = new PropensityPipeline(spark,
    PipelineConfig(a.fixture, a.work + "/pipeline", Main.dailyK))
  private lazy val cur: LocalDate = p.currentDay
  private def featureTables = Seq(p.householdFeatures, p.commodityFeatures,
    p.householdCommodityFeatures)
  private def sinkRows(): String = Seq(p.pivoted.read(spark),
    spark.read.parquet(a.work + "/pipeline/propensities_unpivoted"))
    .map(_.count()).mkString(",")

  def setup(): Unit = {
    // the daily job's feature refresh: today's snapshot of every grain
    rec.span("computeFeatures", "setup", "features.builder")(p.computeFeatures(cur))
    // one model per scored commodity, fitted on its labeled slice: labels
    // of the last 30 days, joined to today's snapshot of a few features
    val labels = rec.span("labels", "setup", "labels")(LabelBuilder.labels(p.txc,
      p.commodities, cur.minusDays(LabelBuilder.horizonDays)).cache())
    def narrow(t: graft.features.FeatureTable) = {
      val df = t.read(spark)
      val metrics = df.columns.filterNot(t.keys.contains).sorted.take(Main.fitFeaturesPerGrain)
      TrainingSetBuilder.Lookup(df.select((t.keys ++ metrics).map(col): _*),
        t.keys.filterNot(_ == "day"), t.root.split('/').last.stripSuffix("features") + "_")
    }
    val ts = rec.span("training_set", "setup", "train.training_set") {
      val t = TrainingSetBuilder.build(labels.withColumn("day", lit(java.sql.Date.valueOf(cur))),
        featureTables.map(narrow)).cache()
      t.count(); t
    }
    val featureCols = ts.columns.toSeq.filter(_.contains("__"))
    val cs = p.commodities.select("commodity_desc", "commodity_clean").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    info("commodities") = cs.map(_._1).mkString(",")
    info("current_day") = cur.toString
    val agg = ts.agg(count(lit(1)), sum(col("purchased")),
      greatest(featureCols.map(c => max(when(col(c).isNull, 1).otherwise(0))): _*)).head()
    info("label_rows") = agg.getLong(0).toString
    info("positives") = agg.getLong(1).toString
    checks("training_set.no_null_feature", agg.getInt(2) == 0, "a feature is null")
    cs.foreach { case (desc, clean) =>
      val slice = PropensityTrainer.withWeights(
        ts.filter(col("commodity_desc") === desc), 0.5)
      val model = rec.span(s"train:$desc", "setup", "train.trainer")(fit(slice, featureCols))
      rec.span(s"save:$desc", "setup", "train.model_store") {
        p.models.promote(clean, p.models.save(clean, model))
      }
    }
    labels.unpersist(); ts.unpersist()
    info("feature_rows_before") = featureTables.map(_.read(spark).count()).mkString(",")
  }

  /** One weighted LR fit, one iteration, on the whole slice. Not
    * `PropensityTrainer.train`: its validation split leaves the fitted part
    * without a positive on some seeds, LR then fits one class and the
    * evaluator throws. The label's metadata fixes two classes, so a slice
    * without a positive still gives a model that scores. Scoring cost does
    * not depend on the fitted weights.
    */
  private def fit(slice: DataFrame, featureCols: Seq[String]): PipelineModel = {
    val label = NominalAttribute.defaultAttr.withName("label").withNumValues(2).toMetadata()
    new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(featureCols.toArray).setOutputCol("features")
        .setHandleInvalid("keep"),
      new LogisticRegression().setWeightCol("weight").setMaxIter(1)))
      .fit(slice.withColumn("label", col("purchased").cast("double").as("label", label)))
  }

  def op(i: Int): Unit = rec.span("scoreAll", "op", "score.scorer")(p.scoreAll())

  // a repeated op must leave the sinks as the first op left them
  override def afterOp(i: Int): Unit = if (i == 0) info("sink_rows_first_op") = sinkRows()

  def check(ops: Int): Unit = {
    info("ops") = ops.toString
    if (ops > 1) checks("repeat.sink_rows_unchanged",
      sinkRows() == info("sink_rows_first_op"), s"${info("sink_rows_first_op")} then ${sinkRows()}")
    if (a.trace) {
      // bytes of the rows each op upserts: the pivoted sink (a FeatureTable)
      // at the scored day; the upsert rewrites the whole table around them
      extra("features.table.inserted_bytes") = {
        val walk = Files.walk(Paths.get(p.pivoted.root, "data", s"day=$cur"))
        try (walk.iterator().asScala.filter(Files.isRegularFile(_))
          .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum.toDouble, "bytes")
        finally walk.close()
      }
      val hc = p.householdCommodityFeatures.read(spark)
        .filter(col("day") === lit(java.sql.Date.valueOf(cur)))
      val used = hc.join(broadcast(p.commodities.select("commodity_desc")),
        Seq("commodity_desc"), "left_semi").count()
      extra("features.hc_rows_used_ratio") = (used.toDouble / math.max(1L, hc.count()), "ratio")
    }
  }
}

/** One pass over a fixed slice of the query registry: the entries at
  * positions 0, 32, 64, ... of `QueryRegistry.all` but `leftOut` (6 of
  * 208); the seed sets the order of the pass. Set-up makes one untimed
  * pass, so the ops time warm passes.
  */
final class QueryLibrary(spark: SparkSession, rec: Recorder, a: Main.Args,
    checks: Main.Checks, extra: mutable.Map[String, (Double, String)],
    info: mutable.Map[String, String]) extends Workload {
  import QueryLibrary.families
  private val familyOf: Map[String, String] =
    families.flatMap { case (f, es) => es.map(_.name -> f) }.toMap
  // a full cold pass takes ~6 minutes, far longer than a run may
  private val stride = 32
  val pass: Seq[(String, QueryRegistry.Entry)] = new scala.util.Random(a.seed).shuffle(
    QueryRegistry.all.zipWithIndex.collect {
      case (e, i) if i % stride == 0 && !QueryLibrary.leftOut(e.name) => (familyOf(e.name), e)
    })
  private val rows = mutable.HashMap.empty[String, Long]
  private val famTime = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  private val phase = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  def setup(): Unit = {
    info("queries") = pass.map(_._2.name).mkString(",")
    // JIT and codegen warm-up: one pass, materialized as the ops do
    rec.span("warmup", "setup", "queries") {
      pass.foreach { case (_, e) => e.run(spark, a.fixture).queryExecution.toRdd.count() }
    }
  }

  private def timed[A](key: String, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = rec.span(s"$key:$name", "op", "queries")(f)
    phase(key) += (System.nanoTime() - t0) / 1e9
    r
  }

  def op(i: Int): Unit = pass.foreach { case (fam, e) =>
    val t0 = System.nanoTime()
    val df = timed("build", e.name)(e.run(spark, a.fixture))
    timed("plan", e.name)(df.queryExecution.executedPlan)
    rows(e.name) = timed("exec", e.name)(df.queryExecution.toRdd.count())
    famTime(fam) += (System.nanoTime() - t0) / 1e9
  }

  def check(ops: Int): Unit = {
    val out = a.work + "/check/queries"
    val oracles = pass.flatMap { case (_, e) => e.oracle.map(e.name -> _) }
    oracles.foreach { case (name, _) =>
      QueryRegistry.queries(name)(spark, a.fixture).write.parquet(s"$out/$name")
    }
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    Files.writeString(Paths.get(s"$out/oracle_sql.json"),
      oracles.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    pass.foreach { case (_, e) =>
      if (e.oracle.isEmpty) checks(s"rows.${e.name}", rows.getOrElse(e.name, 0L) > 0, "no rows")
    }
    Seq("build", "plan", "exec").foreach(k => extra(s"queries.${k}_s") = (phase(k) / ops, "s"))
    families.foreach { case (f, _) => extra(s"queries.${f}_s") = (famTime(f) / ops, "s") }
  }
}

object QueryLibrary {
  import graft.queriesdef._
  /** Slice entries whose oracle compare fails on some seeds only: the
    * engine's `ab_ratio_delta` `se` differs from DuckDB's in the 9th
    * decimal where `round(_, 9)` meets a double one ulp apart (seed
    * 325559130: 3533.554075126 against 3533.554075127).
    */
  val leftOut: Set[String] = Set("ab_ratio_delta")
  /** The registry's query families: one per queriesdef object. */
  val families: Seq[(String, Seq[QueryRegistry.Entry])] = Seq(
    "core" -> CoreQueries.entries, "feature" -> FeatureQueries.entries,
    "train_score" -> TrainScoreQueries.entries, "eval" -> EvalQueries.entries,
    "analytics" -> AnalyticsQueries.entries, "causal" -> CausalQueries.entries,
    "text" -> TextQueries.entries, "similarity" -> SimilarityQueries.entries,
    "event" -> EventQueries.entries)
}

/** Per-layer metrics of a traced run: setup work plus one op's worth. */
object Layered {
  def metrics(rec: Recorder, ops: Seq[Span],
      extra: Map[String, (Double, String)]): Seq[(String, (Double, String))] = {
    rec.drain()
    val n = math.max(1, ops.size).toDouble
    val opIds = ops.flatMap(rec.descendants).toSet
    val setupIds = rec.spans.filter(_.phase == "setup").map(_.id).toSet
    val jobs = rec.jobs.values.toSeq
    def per(js: Seq[JobRec], f: JobRec => Double): Double =
      js.filter(j => setupIds(j.span)).map(f).sum + js.filter(j => opIds(j.span)).map(f).sum / n
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    Layers.all.foreach { l =>
      val js = jobs.filter(_.layer == l)
      out += s"$l.job_wall_s" -> (per(js, j => (j.end - j.start) / 1000.0), "s")
      out += s"$l.jobs" -> (per(js, _ => 1.0), "count")
      out += s"$l.task_cpu_s" -> (per(js, _.cpuNs / 1e9), "s")
      out += s"$l.gc_s" -> (per(js, _.gcMs / 1000.0), "s")
      out += s"$l.shuffle_write_bytes" -> (per(js, _.shuffleWrite.toDouble), "bytes")
      out += s"$l.spill_bytes" -> (per(js, _.spill.toDouble), "bytes")
    }
    val setupSpans = rec.spans.filter(s => s.phase == "setup" && s.parent == -1)
    out += "setup.driver_s" -> (setupSpans.map(rec.driverSeconds).sum, "s")
    out += "op.driver_s" -> (ops.map(rec.driverSeconds).sum / n, "s")
    val ft = jobs.filter(j => j.layer == "features.table" && opIds(j.span))
    out += "features.table.bytes_written" -> (ft.map(_.bytesWritten).sum / n, "bytes")
    out += "features.table.write_amplification" -> {
      val inserted = extra.get("features.table.inserted_bytes").map(_._1).getOrElse(0.0)
      (if (inserted > 0) ft.map(_.bytesWritten).sum / n / inserted else 0.0, "ratio")
    }
    out += "score.merge.bytes_written" ->
      (jobs.filter(j => j.layer == "score.merge" && opIds(j.span)).map(_.bytesWritten).sum / n, "bytes")
    // every workload reports every metric: a layer it does not reach reads 0
    out += "features.hc_rows_used_ratio" ->
      extra.getOrElse("features.hc_rows_used_ratio", (0.0, "ratio"))
    (Seq("build", "plan", "exec") ++ QueryLibrary.families.map(_._1)).foreach { k =>
      out += s"queries.${k}_s" -> extra.getOrElse(s"queries.${k}_s", (0.0, "s"))
    }
    out += "run.failed_tasks" -> (rec.failedTasks.toDouble, "count")
    out += "run.retried_stages" -> (rec.retriedStages.toDouble, "count")
    out.toSeq
  }
}
