package graft.core

import java.time.LocalDate
import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped materialization of the silver fact table.
  *
  * In the reference, `transactions_adj` is a PHYSICAL table — built once
  * by the ingest CTAS (`01_Data_Prep.py:121-166`) and scanned by every
  * downstream notebook. Re-deriving it per query (the lineitem⋈orders
  * shuffle join in `Retail.transactions`) repeats the single most
  * expensive exchange of the whole suite once per query — harmless at
  * sf0.001, dominant at 100 TB.
  *
  * When enabled (`graft.Harness.prepare` does for every harness main;
  * library users opt in per session), the first request for a fixture dir
  * materializes the silver projection once as a table BUCKETED BY
  * `household_key` — the join/group key of every feature, label and
  * training-set stage — into one bucket per shuffle partition of the
  * building session, and pins the bucketed scan in memory.
  * Consequences:
  *
  *   - the lineitem⋈orders join runs exactly once per (session, fixture);
  *   - `groupBy(household_key…)` / joins on household_key over silver
  *     need NO Exchange (the bucketed scan already delivers
  *     HashPartitioning(household_key, shuffle partitions), which the
  *     in-memory relation preserves — pinned by PlanSpec);
  *   - every household-keyed stage downstream (features, labels, training
  *     set, the scoring spine) runs one task per shuffle partition: a
  *     fixed bucket count above the session's cores would cost each of
  *     those stages that many tasks' fixed overhead (deserializing the
  *     ~390-column plan, one wide parquet writer per file, GC) whatever
  *     the data size;
  *   - at cluster scale the same call becomes "write the silver table
  *     bucketed/partitioned at ingest"; the API stays the same.
  *
  * Values are identical either way (a parquet round-trip of
  * DATE/INT/LONG/DOUBLE/STRING is exact), so oracle hashes are unaffected.
  */
object SilverStore {

  @volatile private var enabledFlag = false
  def enable(): Unit = enabledFlag = true
  /** Re-disable (tests / embedding teardown); cached entries are simply
    * bypassed, and dropped by the application-end listener.
    */
  def disable(): Unit = enabledFlag = false
  def isEnabled: Boolean = enabledFlag

  private val silverCache = TrieMap.empty[String, DataFrame]
  private val boundsCache = TrieMap.empty[String, (LocalDate, LocalDate)]
  private val controlCache = TrieMap.empty[String, DataFrame]

  /** Stable identity of a session within this JVM. `SparkSession` in the
    * shipped jars exposes no sessionUUID, so we combine the application id
    * (stable across sessions of one SparkContext) with the session object's
    * identity hash (distinct per session). Shared with [[Catalog]] so the
    * engine has exactly ONE definition of session identity.
    */
  private[core] def sessionId(spark: SparkSession): String =
    spark.sparkContext.applicationId + "-" +
      java.lang.Integer.toHexString(System.identityHashCode(spark))

  private def key(spark: SparkSession, sfDir: String): String =
    sessionId(spark) + "|" + sfDir

  /** Physical name carries the session discriminator: a second session
    * enabling SilverStore must NOT drop/overwrite the table whose files
    * back the first session's pinned DataFrame. The raw-path md5 suffix
    * keeps DISTINCT sfDirs distinct even when sanitization collides
    * (e.g. "sf-1" vs "sf_1" both sanitize to "sf_1") — a collision would
    * let the second fixture's build drop the files backing the first's
    * pinned frame.
    */
  private[graft] def tableName(spark: SparkSession, sfDir: String): String = {
    val pathHash = java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    ("graft_silver_" + sessionId(spark) + "_" + sfDir)
      .replaceAll("[^A-Za-z0-9]", "_") + "_" + pathHash
  }

  /** The silver fact for `sfDir`: `build` verbatim when disabled; the
    * once-materialized bucketed+pinned table when enabled.
    */
  def silver(spark: SparkSession, sfDir: String)(build: => DataFrame): DataFrame =
    if (!enabledFlag) build
    else silverCache.getOrElseUpdate(key(spark, sfDir), {
      registerCleanup(spark)
      val name = tableName(spark, sfDir)
      BucketedTable.write(build, name, "household_key",
        spark.sessionState.conf.numShufflePartitions)
      val df = BucketedTable.read(spark, name)
      df.persist(StorageLevel.MEMORY_AND_DISK)
      df.count() // warm the cache eagerly so the first query isn't charged
      df
    })

  private val cleanupRegistered = TrieMap.empty[String, Boolean]

  /** Release this session's entries when the application ends, so the
    * maps don't pin sessions for the JVM lifetime in long-running
    * embedding processes and the warehouse keeps no table per run.
    */
  private def registerCleanup(spark: SparkSession): Unit =
    cleanupRegistered.getOrElseUpdate(sessionId(spark), {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          release(spark)
      })
      true
    })

  /** Drop `spark`'s cache entries: unpersist its pinned silver frames and
    * drop their bucketed tables (catalog entry and directory). Other
    * sessions' entries and tables are untouched.
    */
  private[graft] def release(spark: SparkSession): Unit = {
    val sid = sessionId(spark)
    val prefix = sid + "|"
    silverCache.keys.filter(_.startsWith(prefix)).foreach { k =>
      silverCache.remove(k).foreach(df => scala.util.Try(df.unpersist(false)))
      scala.util.Try(BucketedTable.drop(spark,
        tableName(spark, k.stripPrefix(prefix))))
    }
    boundsCache.keys.filter(_.startsWith(prefix)).foreach(boundsCache.remove)
    controlCache.keys.filter(_.startsWith(prefix)).foreach(controlCache.remove)
    cleanupRegistered.remove(sid)
  }

  /** Memoized (min, max) day bounds — the per-query driver-side scalar
    * (EP2 pattern) computed once per (session, fixture) when enabled.
    */
  def dayBounds(spark: SparkSession, sfDir: String)(
      compute: => (LocalDate, LocalDate)): (LocalDate, LocalDate) =
    if (!enabledFlag) compute
    else boundsCache.getOrElseUpdate(key(spark, sfDir), compute)

  /** Session-scoped materialization of a small CONTROL table (≤ a few
    * rows by construction). The reference persists these physically at
    * init and reads the table everywhere downstream — e.g.
    * `commodities_to_score` (`02_Initialize_Solution.py:57-71`); deriving
    * one per query would repeat its driving aggregation once per query.
    * The result is collected into a LOCAL relation, so downstream
    * broadcasts / cross joins / semi-join filters carry no lineage back
    * to the aggregation that produced it.
    */
  def control(spark: SparkSession, sfDir: String, tag: String)(
      build: => DataFrame): DataFrame =
    if (!enabledFlag) build
    else controlCache.getOrElseUpdate(key(spark, sfDir) + "|" + tag, {
      registerCleanup(spark)
      val df = build
      val rows = java.util.Arrays.asList(df.collect(): _*)
      spark.createDataFrame(rows, df.schema)
    })
}
