package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one session and warm-up prologue of every main ([[Bench]],
  * [[Verify]], [[ExplainQuery]], [[Smoke]]): the only place in the engine
  * that builds a session, so every tool measures under the same CPU count,
  * catalog and pinned silver — a conf or warm-up step added for one main
  * cannot silently drift out of the tools used to audit it.
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** `local[SPARK_GRAFT_CPUS]` (default 32) with as many shuffle
    * partitions, logging at WARN.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register the fixture catalog and materialize the silver fact once,
    * bucketed and pinned (see [[graft.core.SilverStore]]), as the
    * reference's ingest does (`01_Data_Prep.py:93-166`) — so a per-query
    * timer measures the query, not registration or the silver join. A
    * failed step is logged under `tag` and is not fatal: a missing fixture
    * table must not abort a bench before its JSON line. `registerAll`
    * still registers the healthy tables, so only queries over the bad one
    * fail; a failed silver build is not cached, so the log line is the
    * one sign that every query will re-attempt it.
    */
  def prepare(spark: SparkSession, sfDir: String, tag: String): Unit = {
    def step(what: String)(body: => Any): Unit =
      try { body; () }
      catch { case e: Throwable => System.err.println(s"[$tag] $what failed: $e") }
    graft.core.SilverStore.enable()
    step("catalog")(graft.core.Catalog.registerAll(spark, sfDir))
    step("silver")(graft.silver.TransactionsAdj(spark, sfDir))
  }

  /** The named registry queries; an unknown name fails, listing the known
    * ones.
    */
  def select(names: Iterable[String]): Map[String, Query] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}; known: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
    SparkEntry.queries.view.filterKeys(names.toSet).toMap
  }

  /** Release every persistent RDD not in `pinned`, then reap broadcast
    * blocks if storage is under pressure.
    *
    * A query's localCheckpoint / cache blocks are only released when the
    * driver GCs the RDD object (the ContextCleaner is weak-ref driven),
    * which a 24g heap may not do for minutes — so without a sweep,
    * transient blocks from many queries accumulate in the storage half of
    * unified memory and later wide aggregations spill. Broadcast blocks
    * (task binaries, broadcast joins) have no unpersist handle at all: at
    * 100× scale a long one-JVM suite accumulated enough of them that the
    * block manager spilled and two heavy queries died. So when more than a
    * quarter of storage memory is still occupied after the unpersist, one
    * forced GC lets the cleaner reap; at sf0.1 the gate almost never fires.
    */
  def sweep(spark: SparkSession, pinned: scala.collection.Set[Int]): Unit = {
    val sc = spark.sparkContext
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!pinned.contains(id)) rdd.unpersist(blocking = false)
    }
    val status = sc.getExecutorMemoryStatus.values
    val maxMem = status.map(_._1).sum
    val used = status.map { case (mx, rem) => mx - rem }.sum
    if (maxMem > 0 && used > maxMem / 4) {
      System.gc()
      Thread.sleep(100) // let the async ContextCleaner issue removals
    }
  }
}
