package graft.core

import org.apache.spark.sql.SparkSession

/** The ONE place the engine's session configuration lives — the harness
  * mains (Bench, Verify, ExplainQuery, Smoke, all through `graft.Harness`),
  * the benchmark's session and the shared test session build from this,
  * so their plans cannot silently drift (a conf added to one builder but
  * not another would make bench and verify measure different physical
  * plans).
  *
  * Confs:
  *  - UTC session timezone (oracle date/timestamp determinism),
  *  - AQE on (runtime re-planning, skew handling),
  *  - subset-key co-partitioning: joins whose inputs are both
  *    Hash(household_key)-partitioned (the 32-bucket silver lineage) may
  *    reuse that partitioning even when joining on (household_key,
  *    commodity_desc) — the conservative default would re-shuffle both
  *    sides on the full key set. Safe here: the subset key is the
  *    well-distributed bucket key.
  *
  * Not set here: the RangePrefix pid mode (ops/RangePrefix.scala) keeps
  * its localCheckpoint-pin default; a deployment that must survive
  * executor loss passes `--conf spark.graft.rangePrefix.deterministic=true`.
  */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      // custom Catalyst functions (graft_dot, graft_edit_within, bloom
      // sketch/probe) injected at build time — part of the SQL surface,
      // not an imperative afterthought (see GraftExtensions)
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // Generated-class cache (default 100 entries): the wide feature
      // family compiles MANY large codegen classes per query (4 agg
      // passes × 3 grains + a ~1,270-col assembly), and a 57-query run
      // evicts constantly — so structurally identical plans (the grain
      // builds differ only in embedded literals, which codegen hoists
      // into the references array) recompile AND re-JIT from scratch.
      // Profiling showed a feature build warms from ~10s to 0.9s once
      // its classes are compiled+JIT'd; a cache sized for the whole
      // suite keeps that warm state shareable across queries.
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      // Whole-stage codegen deactivates above 100 plan fields by default
      // — which silently drops the ~420-col feature aggregates to
      // interpreted projections. Measured at sf0.1 (warm): training_set
      // 27.8→15.5s, household_commodity_features 15.0→5.7s once the wide
      // aggregates stay codegen'd. The cap is 600, NOT "high enough for
      // everything": the ~1,270-col training-set assembly spans (759 and
      // 1,147 fields) EXCEED janino's 64 KB method limit — with a higher
      // cap they enter codegen, fail to compile (uncached: fresh expr ids
      // per execution), and fall back interpreted anyway, paying ~1s of
      // wasted janino per execution (measured: min 5.98s vs 6.97s for the
      // assembly with/without the doomed attempts). 600 keeps every span
      // that CAN compile (widest observed ~450 fields) inside codegen and
      // routes the impossible ones straight to the interpreted path.
      .config("spark.sql.codegen.maxFields", "600")
      // events.parquet carries TIMESTAMP_NANOS, which Spark's parquet
      // reader rejects outright unless surfaced as raw BIGINT nanos;
      // EventOps owns the ns→timestamp conversion. Must be set before
      // anything (incl. Catalog.registerAll) reads the events footer.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Tungsten page size: the computed default at 24g/32-threads is a
      // 32 MiB page — a G1 "humongous" allocation at this heap's 16 MiB
      // region size, so every wide-aggregation hash map churns the old
      // gen directly. 4 MiB pages are region-friendly.
      .config("spark.buffer.pageSize", "4m")
}
