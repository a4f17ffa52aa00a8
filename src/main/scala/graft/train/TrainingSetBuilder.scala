package graft.train

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-key point-in-time feature lookup (SURVEY.md J5, the reference's
  * `FeatureLookup`/`create_training_set`, `04b:195-217`).
  *
  * Each feature table joins the spine LEFT OUTER on its PK
  * `(grainKeys…, day)` — exact-match point-in-time by design
  * (`04a:599`: the as-of variant was "very slow", so snapshots carry their
  * day in the PK). Metric columns get a per-table prefix
  * (`household__`/`commodity__`/`household_commodity__`, `04b:201-215`)
  * and excluded columns are dropped before the join, implemented as a
  * single projection (`withColumnsRenamed` + select), never per-column
  * plan mutations.
  *
  * Scale: the spine is (households × ~10 commodities) — far smaller than
  * the fact table. The household/commodity feature tables are ≤ |spine| by
  * construction, so Catalyst broadcast-joins the small sides; the
  * household×commodity table shares the spine's key distribution, so one
  * hash-partition on (household_key, commodity_desc) serves both that join
  * and downstream per-commodity filters.
  */
object TrainingSetBuilder {

  /** `broadcastable` marks feature tables whose cardinality is bounded by
    * a dimension catalog (e.g. one row per commodity) rather than by the
    * data — those are broadcast-joined at ANY scale. Applied as a join-time
    * hint so it survives materialization (a checkpoint strips plan hints).
    */
  final case class Lookup(
      features: DataFrame,
      grainKeys: Seq[String],
      prefix: String,
      exclude: Seq[String] = Nil,
      broadcastable: Boolean = false) {

    def joinKeys(joinDay: Boolean): Seq[String] =
      if (joinDay) grainKeys :+ "day" else grainKeys

    /** The feature columns [[lookup]] brings in, before prefixing. */
    def metricCols(joinDay: Boolean): Seq[String] = features.columns.toSeq
      .filterNot(joinKeys(joinDay).contains).filterNot(exclude.contains)

    /** This lookup, for the day-keyed join, narrowed to the features whose
      * prefixed names are in `wanted` — the reference's `score_batch` reads
      * only the features in a model's logged spec (`04c:169-186`). The
      * projection sits on the feature table itself, so the scan reads only
      * those columns.
      */
    def prune(wanted: Set[String]): Lookup = copy(features = features.select(
      (joinKeys(joinDay = true) ++
        metricCols(joinDay = true).filter(c => wanted(prefix + c))).map(col): _*))
  }

  def lookup(spine: DataFrame, lk: Lookup, joinDay: Boolean = true): DataFrame = {
    val joinKeys = lk.joinKeys(joinDay)
    val projected = lk.features.select(
      joinKeys.map(col) ++ lk.metricCols(joinDay).map(c => col(c).as(s"${lk.prefix}$c")): _*)
    spine.join(if (lk.broadcastable) broadcast(projected) else projected,
      joinKeys, "left_outer")
  }

  /** Chain every lookup then fill absent features with 0.0 (`04a:595`
    * semantics carried into the training set).
    */
  def build(spine: DataFrame, lookups: Seq[Lookup], joinDay: Boolean = true): DataFrame = {
    val joined = lookups.foldLeft(spine)((df, lk) => lookup(df, lk, joinDay))
    val featureCols = joined.columns.filterNot(spine.columns.contains)
    joined.na.fill(0.0, featureCols)
  }

  /** [[build]], but with the spine and every feature table materialized
    * EAGERLY AND IN PARALLEL before assembly.
    *
    * The reference never assembles a training set from live feature
    * queries: `create_training_set` reads feature TABLES that a prior job
    * wrote (`04a:614-630`, `04b:195-217`). Composing the three ~420-column
    * feature builds and the spine into one logical plan is hostile at any
    * scale — Catalyst re-analyzes and re-optimizes every wide subtree
    * inside the assembly plan (measured: more driver time than the actual
    * sf0.1 executor work), and the independent builds execute sequentially.
    * Materializing first restores the reference's architecture: each build
    * runs concurrently as its own job, and the assembly plan sees four leaf
    * relations.
    *
    * `localCheckpoint` (executor-memory/disk, partitioning preserved) is
    * the in-session analog of the reference's physical feature tables; a
    * production deployment at 100 TB would write them durably instead
    * (`FeatureTable.replace` + read back) — same plan shape, crash-safe
    * lineage. Partition-loss recomputation is not possible through a local
    * checkpoint, which is acceptable for a single-session build artifact.
    */
  def buildMaterialized(spine: DataFrame, lookups: Seq[Lookup],
      joinDay: Boolean = true): DataFrame = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(lookups.size + 1)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // The checkpoints run with AQE DISABLED (guide §2.4: remove shuffles by
    // preserving known partitioning): Dataset.localCheckpoint captures the
    // physical plan's outputPartitioning into the LogicalRDD — but under
    // AQE the captured partitioning is UNKNOWN, so every downstream join
    // re-exchanges the ~390-column feature rows. With a concrete
    // HashPartitioning(household_key) captured from the bucketed-silver
    // lineage, the assembly joins recognize the sides as co-partitioned
    // (subset-key co-partitioning, GraftSession conf) and plan ZERO
    // exchanges of wide rows — only the narrow spine moves. Measured at
    // sf0.1: assembly 7.5 → 6.05 s; plan diff: 2 wide Exchanges → 0.
    // AQE contributes nothing to the builds themselves (the bucketed
    // lineage plans no exchanges for them), and the flag is restored
    // before the assembly is returned, so the timed consumer still runs
    // under the session's normal AQE setting.
    val session = spine.sparkSession
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = session.conf.get(aqeKey)
    session.conf.set(aqeKey, "false")
    try {
      val spineF = Future(spine.localCheckpoint(true))
      val lookupFs = lookups.map(lk => Future(lk.copy(
        features = lk.features.localCheckpoint(true))))
      val spineT = Await.result(spineF, Duration.Inf)
      val lookupsT = Await.result(Future.sequence(lookupFs), Duration.Inf)
      build(spineT, lookupsT, joinDay)
    } finally {
      session.conf.set(aqeKey, aqePrev)
      pool.shutdown()
    }
  }
}
