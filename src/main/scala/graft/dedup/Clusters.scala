package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup PAIRS (from Jaccard / LSH /
  * SimHash) → connected components → one canonical doc per cluster
  * (cluster_id = min doc_id in the component).
  *
  * Algorithm: iterative min-label propagation with a pointer-doubling
  * shortcut over the symmetrized edge set — each round every node takes
  * the min label among itself and its neighbors, then jumps to its
  * label's label (star contraction), so convergence is LOGARITHMIC in
  * component diameter (a 300-deep path closes in ~9 rounds; exact
  * driver-side fixpoint test, one tiny count per round). Only nodes that
  * appear in a pair participate in the loop; the (overwhelmingly larger)
  * singleton population is unioned back at the end untouched — at 100 TB
  * that keeps the iteration state proportional to the duplicate
  * population, not the corpus, and each round is one label shuffle on
  * doc_id plus one label-frame self-join.
  */
object Clusters {

  /** Below this many pairs the component graph fits on the driver and a
    * union-find beats iterated joins by the full per-iteration job cost;
    * above it, the distributed loop is the only option. The historical
    * fixed cutover, kept as the FLOOR of the memory-derived default.
    */
  val driverPairLimit: Long = 200000L

  /** Memory-derived cutover default. Driver-side cost per pair (upper
    * bound, measured shapes): the collected `Array[(Long, Long)]` is ~48 B
    * per pair (two boxed longs + tuple header), and the union-find
    * `mutable.Map[Long, Long]` holds ≤ 2 entries per pair at ~80 B per
    * boxed entry — ≤ 208 B/pair, rounded to 256 B for headroom. Budget =
    * 2% of the driver's max heap, so even a driver near capacity admits
    * the collect without GC pressure; floored at [[driverPairLimit]]
    * (the value proven in production of this repo). At the test heap
    * (~24 GiB) this yields ~1.9M pairs; at a 4 GiB cluster driver ~320k.
    */
  def defaultDriverPairLimit: Long =
    math.max(driverPairLimit, (Runtime.getRuntime.maxMemory * 0.02).toLong / 256L)

  /** pairs: (doc_a, doc_b) with doc_a < doc_b. docs: full corpus with
    * doc_id. Returns (doc_id, cluster_id). At most `driverLimit` pairs
    * resolve on the driver; more take the distributed loop.
    */
  def connectedComponents(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 20,
      driverLimit: Long = defaultDriverPairLimit): DataFrame = {
    // The candidate pair set is usually the expensive upstream (a shingle
    // self-join); cache it so the cutover probe and the consumer (collect
    // or edge loop) share ONE computation. The probe's `limit` only
    // computes (and caches) the partitions it needs, so a huge pair set is
    // never fully materialized just to learn it is huge.
    val p = pairs.select(col("doc_a"), col("doc_b")).cache()
    val integralIds = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.IntegerType)
    val small = integralIds.contains(p.schema("doc_a").dataType) &&
      p.limit(math.min(driverLimit + 1, Int.MaxValue.toLong).toInt).count() <= driverLimit
    // announce the cutover (the cosineNearDupPairs convention): the
    // memory-derived default makes this choice environment-dependent, so
    // which path ran must be visible in the logs, not inferred from plans
    System.err.println(s"[clusters] connectedComponents: " +
      (if (small) "driver union-find" else "distributed pointer-doubling") +
      s" (limit=$driverLimit)")
    if (small) {
      val out = driverComponents(docs, p)
      p.unpersist() // mapping is driver-local; out no longer depends on p
      return out
    }
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct().cache()
    val paired = edges.select(col("src").as("doc_id")).distinct()
    // localCheckpoint like every later round's frame (a cache here would
    // need a matching unpersist the loop no longer performs)
    var labels = paired.select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint(true)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborLabels = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .select(col("src").as("doc_id"), col("cluster_id"))
      // checkpointed, not cached: the shortcut self-join below references
      // this twice, so a cache would leave the LOGICAL plan doubling per
      // round — caching truncates execution but not analysis, and the
      // analyzer cost then grows 2^rounds (measured: the loop appears to
      // hang at ~10 rounds, single-threaded in the optimizer). Lineage
      // truncation is the iterative-algorithm materialization rule
      // (PageRank.run) — the label frame is duplicate-population-sized.
      val propagated = labels.select(col("doc_id"), col("cluster_id"))
        .unionByName(neighborLabels)
        .groupBy("doc_id").agg(min(col("cluster_id")).as("cluster_id"))
        .localCheckpoint(true)
      // Pointer-doubling shortcut (the star-contraction idea): jump each
      // label to its LABEL'S label. Labels only ever decrease from
      // self-init, so l(x) <= x and the jump is monotone-safe; composing
      // two hops per round makes convergence logarithmic in component
      // diameter instead of linear — a 300-deep path converges in ~9
      // rounds, not 300. One extra self-join per round on the label
      // frame (duplicate-population-sized, never the corpus); every
      // label value is itself a paired doc_id, so the left join always
      // hits (outer + coalesce only guards the invariant).
      val next = propagated.as("a")
        .join(propagated.as("b"),
          col("a.cluster_id") === col("b.doc_id"), "left_outer")
        .select(col("a.doc_id"),
          coalesce(col("b.cluster_id"), col("a.cluster_id"))
            .as("cluster_id"))
        .localCheckpoint(true)
      val changed = next.join(labels.withColumnRenamed("cluster_id", "old"),
        Seq("doc_id")).filter(col("cluster_id") =!= col("old")).count()
      // superseded checkpoint blocks (labels/propagated) are freed when
      // the frames are GC'd (ContextCleaner) or by the harness sweep —
      // Dataset.unpersist only uncaches CacheManager entries and is a
      // no-op on localCheckpoint blocks; each frame is duplicate-
      // population-sized, so the transient footprint is rounds × |dups|
      labels = next
      converged = changed == 0
      iter += 1
    }
    // a component that somehow outruns maxIter would exit here with
    // PARTIAL labels — silently-wrong clusters; fail loudly instead
    // (with pointer doubling, 20 rounds covers diameters beyond any
    // physical corpus; a hit here means a logic bug, not a data shape)
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds — " +
        "labels would be incorrect")
    // Restrict paired labels to the given corpus (stale pairs may mention
    // docs no longer present) so both paths emit the same row set. The
    // singleton anti-join probes `labels` (same doc_id set as the paired
    // population, and already materialized + cached by the convergence
    // counts) rather than `paired`, so releasing the edge/pair caches
    // cannot force a recompute of the pair pipeline when the caller
    // finally materializes the result. `labels` stays pinned — it IS the
    // returned result; its footprint is the duplicate population, not the
    // corpus.
    val result = labels.join(docs.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val singletons = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
    val out = result.unionByName(singletons)
    edges.unpersist()
    p.unpersist()
    out
  }

  /** Driver union-find over a collected (small) pair set; the mapping is
    * broadcast back as a join. Identical result to the iterative path
    * (cluster_id = component min).
    */
  private def driverComponents(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val edges = pairs.as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val mapping = parent.keys.map(d => d -> find(d)).toSeq.toDF("doc_id", "mapped")
    docs.select(col("doc_id"))
      .join(broadcast(mapping), Seq("doc_id"), "left_outer")
      .select(col("doc_id"), coalesce(col("mapped"), col("doc_id")).as("cluster_id"))
  }

  /** End-to-end dedup resolution: Jaccard pairs → clusters → per-doc
    * (cluster_id, is_canonical).
    */
  def resolve(docs: DataFrame, threshold: Double = 0.5, n: Int = 5): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs, n = n, threshold = threshold)
      .select("doc_a", "doc_b")
    connectedComponents(docs, pairs)
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Keep-best survivor selection — what a dedup pipeline actually SHIPS:
    * one representative per duplicate cluster, chosen by a quality policy
    * (highest `scoreCol`, ties to the smallest doc_id), every other
    * member dropped. "Canonical = min doc_id" ([[resolve]]) identifies a
    * cluster; it does not pick the member worth keeping — keep-longest /
    * keep-highest-quality is the standard corpus policy.
    *
    * Scale shape: the per-cluster argmax is `max(struct(score, -doc_id))`
    * — partial-aggregable (map-side combine), so the shuffle carries one
    * narrow row per cluster, never a per-cluster sort and never a window
    * over the corpus. The survivor map joins back on cluster_id (the same
    * hash partitioning the agg just produced, so AQE/exchange reuse keeps
    * it one effective shuffle of (doc_id, cluster_id, score) triples).
    * Singletons cost nothing extra: their argmax is themselves.
    *
    * A null score loses to any non-null score in BOTH engines (Spark
    * struct ordering puts the null field lowest under max; the oracle's
    * `ORDER BY score DESC` puts nulls last) — an all-null cluster falls
    * back to min doc_id via the tiebreak.
    *
    * Output: (doc_id, cluster_id, survivor_id, kept) for every corpus
    * row — the caller filters `kept` to materialize the deduped corpus,
    * or keeps the full table as the dedup audit log.
    */
  def survivorsFrom(docs: DataFrame, assignment: DataFrame,
      scoreCol: String): DataFrame = {
    val scored = docs.select(col("doc_id"), col(scoreCol).as("__score"))
      .join(assignment.select("doc_id", "cluster_id"), Seq("doc_id"))
    val best = scored.groupBy("cluster_id")
      .agg(max(struct(col("__score"), (-col("doc_id")).as("__nid"))).as("__b"))
      .select(col("cluster_id"), (-col("__b.__nid")).as("survivor_id"))
    scored.join(best, Seq("cluster_id"))
      .select(col("doc_id"), col("cluster_id"), col("survivor_id"),
        (col("doc_id") === col("survivor_id")).as("kept"))
  }

  /** [[survivorsFrom]] over [[resolve]]'s Jaccard clustering. Any other
    * candidate generator (LSH, SimHash, embedding near-dup) plugs in by
    * calling [[connectedComponents]] + [[survivorsFrom]] directly.
    */
  def survivors(docs: DataFrame, scoreCol: String,
      threshold: Double = 0.5, n: Int = 5): DataFrame =
    survivorsFrom(docs, resolve(docs, threshold, n), scoreCol)

  /** Leakage-safe train/val/test split: membership is hashed on the
    * duplicate CLUSTER id, not the document id, so near-duplicate
    * documents always land in the same split. A plain per-document hash
    * split ([[graft.ops.HashSplit.split]]) puts ~2·p(train)·p(test) of
    * every duplicate pair across the train/test boundary — memorized
    * near-copies of training documents then inflate eval scores; this is
    * the standard fix (split on the connected component).
    *
    * Scale shape: component resolution is [[resolve]] (bounded by the
    * duplicate population, not the corpus); the split itself is a pure
    * per-row hash of cluster_id — no extra shuffle beyond the cluster
    * assignment join, and singleton documents (cluster_id = doc_id, the
    * overwhelming majority) hash exactly like a per-document split.
    */
  def leakageSafeSplit(docs: DataFrame, threshold: Double = 0.5,
      n: Int = 5): DataFrame =
    graft.ops.HashSplit.split(
      resolve(docs, threshold, n).select("doc_id", "cluster_id"),
      "cluster_id")
}
