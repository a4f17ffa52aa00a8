package graft.features

import java.time.LocalDate
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Retail
import graft.silver.TransactionsAdj
import MetricDefs.Engine

/** Re-expression of the reference's `get_features` (`04a:116-561`) as a
  * declarative, shuffle-minimal feature builder.
  *
  * Reference shape: per window → filter → groupBy → ~100 `withColumn`s →
  * suffix-rename → 4-way left-join chain onto a spine → fillna.
  * Engine shape: a (keys, day) pre-aggregate, then grouped aggregates
  * whose aggregate list carries the window condition inside every
  * aggregate (all 4 windows at once), cleaned in place (cast DOUBLE +
  * fill 0.0, `04a:556-558`/`04a:595` semantics), then one ratio
  * projection.
  *
  * Each aggregate runs in exactly one pass, chosen by its
  * [[MetricDefs.Engine]]: [[MetricDefs.Engine.OverDays]] aggregates
  * (sums, counts, recency and the day distincts) reduce the (keys, day)
  * pre-aggregate. Exact basket/product distinct counts are NOT computed
  * in that pass: Catalyst's `RewriteDistinctAggregates` would Expand the
  * input once per distinct group (~13×) through the shuffle — the SURVEY
  * §4 hotspot, and a scale-killer at 100 TB. They are
  * [[MetricDefs.Engine.PerEntity]] and split per distinct ENTITY
  * (basket_id / product_id): for each entity the builder
  * pre-aggregates boolean "seen under condition" indicators on
  * `(grain keys, entity)` — a plain, map-side-combinable aggregation over
  * pruned columns — then sums the indicators per grain key and joins the
  * small per-key results back onto the day-fused aggregates. Row
  * expansion: none. Shuffle volume: one pruned pass per entity with
  * map-side dedup, instead of a 13×-expanded full pass.
  *
  * On the bucketed silver table (SilverStore: one bucket per shuffle
  * partition on `household_key`) every one of these aggregations and joins for the
  * household and household×commodity grains satisfies its clustering from
  * the bucket partitioning (`Hash(household_key)` ⊆ every grouping set),
  * so the whole feature build runs with ZERO exchanges — pinned by
  * PlanSpec.
  *
  * Rows with null grain keys are excluded by the pre-filter (engine and
  * oracle alike) — the grains are defined over non-null keys, matching
  * the reference, whose spine join-back on the grouping keys
  * (`04a:548-552`) never matches null keys either.
  */
object FeatureBuilder {

  /** Grains (`04a` Steps 3-5): household / commodity / household×commodity. */
  final case class Grain(name: String, keys: Seq[String], needsProducts: Boolean)
  val household: Grain = Grain("household", Seq("household_key"), needsProducts = false)
  val commodity: Grain = Grain("commodity", Seq("commodity_desc"), needsProducts = true)
  val householdCommodity: Grain =
    Grain("household_commodity", Seq("household_key", "commodity_desc"), needsProducts = true)

  /** Fact with commodity attached (J1: broadcast the small dim). */
  def txWithCommodity(spark: SparkSession, sfDir: String): DataFrame =
    TransactionsAdj(spark, sfDir).join(
      broadcast(Retail.products(spark, sfDir).select("product_id", "commodity_desc")),
      Seq("product_id"), "inner")

  /** Driver-side scalar bounds (EP2 pattern): one tiny job, two literals. */
  def bounds(fact: DataFrame): (LocalDate, LocalDate) = {
    val row = fact.agg(min(col("day")), max(col("day"))).head()
    require(!row.isNullAt(0),
      "FeatureBuilder.bounds: fact has no rows — cannot derive feature windows")
    (row.getDate(0).toLocalDate, row.getDate(1).toLocalDate)
  }

  /** The full feature table for a grain: keys + (aggregates, ratios) × 4
    * windows, all DOUBLE, null-free. Pass `knownBounds` when the caller
    * already ran [[bounds]] on this fact (training_set builds three
    * grains over two facts — one bounds job each, not one per grain).
    */
  def build(fact: DataFrame, grain: Grain,
      knownBounds: Option[(LocalDate, LocalDate)] = None,
      referenceExact: Boolean = false): DataFrame = {
    val (_, cur) = knownBounds.getOrElse(bounds(fact))
    val wins = WindowSpec.windows(cur)
    val aggs = wins.flatMap(w => MetricDefs.aggsFor(w, referenceExact))
    val posts = wins.flatMap(MetricDefs.ratiosFor)

    // Pre-filter to the union of all windows: lets parquet skip row groups
    // outside [oldest window start, cur] before any aggregation. Null
    // grain keys are excluded EXPLICITLY (and identically in the oracle's
    // pref CTE): the grains are defined over non-null keys — reference
    // behavior, since its spine join-back on the grouping keys
    // (`04a:548-552`) never matches null keys either — and the split
    // distinct passes join with null-rejecting equality.
    val oldest = wins.map(_.start).min(Ordering.by((d: LocalDate) => d.toEpochDay))
    val keyCols = grain.keys.map(col)
    // one window-membership boolean per window; a def, so each frame that
    // carries the flags gets its own fresh aliases
    def winFlags: Seq[Column] = wins.map(w =>
      col("day").between(
        lit(java.sql.Date.valueOf(w.start)), lit(java.sql.Date.valueOf(w.end)))
        .as(MetricDefs.winFlagCol(w)))
    // Hoist every expression the ~430 aggregates share into ONE physical
    // column each (the helper columns MetricDefs' engine forms read): 4
    // window-membership booleans, 4 flag positivity booleans, 6 decimal
    // money copies. The aggregate update loop then reads a column
    // instead of re-evaluating the expression — the DOUBLE→DECIMAL cast
    // in particular allocates per evaluation and previously ran at 24
    // cast sites per row (4 windows × 6 metrics).
    val pre =
      winFlags ++
      MetricDefs.flagMetrics.map(m =>
        (col(m) > 0.0).as(MetricDefs.posFlagCol(m))) ++
      MetricDefs.moneyMetrics.map(m =>
        col(m).cast("decimal(18,4)").as(MetricDefs.decCol(m)))
    val prefiltered = fact.filter(
      col("day").between(lit(java.sql.Date.valueOf(oldest)), lit(java.sql.Date.valueOf(cur))) &&
        grain.keys.map(col(_).isNotNull).reduce(_ && _))
      .select(fact.columns.map(col).toSeq ++ pre: _*)

    // `04a:556-558` (all features → DOUBLE) + `04a:595` (fillna 0.0),
    // fused into each aggregation's RESULT expressions rather than a
    // post-join cleanup projection. Values are identical (the same
    // coalesce(cast(agg AS DOUBLE), 0.0) tree, evaluated per aggregate
    // output row instead of per joined row) — but the plan shape matters:
    // a ~430-column cleanup Project stacked on the entity-count join chain
    // put >64 KB of generated code into ONE whole-stage-codegen method,
    // which janino REJECTS — and because expression ids are fresh per
    // execution, the doomed compile re-ran on every execution (~1s of
    // driver time) before falling back to interpreted evaluation of the
    // widest projection in the plan. Fused into the aggregates, each
    // HashAggregate emits clean doubles from its own (method-splittable)
    // span and the join chain carries only pass-through columns.
    def cleanDouble(c: Column): Column = coalesce(c.cast("double"), lit(0.0))

    // Day fusion (MetricDefs.dayPartials scaladoc): every OverDays
    // aggregate reduces exactly over a (keys, day) pre-aggregate, so the
    // widest pass — ~88 conditional aggregates — runs over keys ×
    // horizon-days rows instead of fact rows. Stage 1 is ~21 narrow,
    // window-independent, map-combinable partials. Measured against the
    // single-pass wide aggregate on the daily_score benchmark: 19.5 s vs
    // 25.3 s of feature-build job wall, 22 vs 25 jobs (6 of 6 paired runs).
    val partials = MetricDefs.dayPartials(referenceExact)
    val dayKeyed = prefiltered
      .groupBy((keyCols :+ col("day")): _*)
      .agg(partials.head, partials.tail: _*)
    val dayFrame = dayKeyed.select(dayKeyed.columns.map(col).toSeq ++ winFlags: _*)
    val fusedCols = aggs.collect {
      case MetricDefs.AggDef(name, _, _, Engine.OverDays(fused)) =>
        cleanDouble(fused).as(name)
    }
    val dayDf = dayFrame.groupBy(keyCols: _*)
      .agg(fusedCols.head, fusedCols.tail: _*)

    // The PerEntity distincts cannot reduce by day (an entity may span
    // days). Per entity — stage 1: per (keys, entity), has any
    // row satisfied each window/flag condition? Null entities are
    // excluded, matching COUNT(DISTINCT CASE …)'s null-skipping. Stage 2:
    // per keys, count the entities seen under each condition (sum of 0/1
    // indicators ≡ exact distinct count).
    val dist = aggs.collect {
      case MetricDefs.AggDef(name, _, _, Engine.PerEntity(entity, cond)) =>
        (name, entity, cond)
    }
    val entityCounts = dist.map(_._2).distinct.map { e =>
      val forE = dist.filter(_._2 == e)
      val indicators = forE.map { case (name, _, cond) =>
        max(when(cond && col(e).isNotNull, lit(1))).as(s"seen__$name")
      }
      val seen = prefiltered.groupBy((keyCols :+ col(e)): _*)
        .agg(indicators.head, indicators.tail: _*)
      val counts = forE.map { case (name, _, _) =>
        cleanDouble(sum(col(s"seen__$name"))).as(name)
      }
      seen.groupBy(keyCols: _*).agg(counts.head, counts.tail: _*)
    }
    // Same fact, same grouping → identical key sets on every side; the
    // using-join resolves by name, so self-lineage is fine.
    val agged =
      entityCounts.foldLeft(dayDf)((acc, df) => acc.join(df, grain.keys, "inner"))

    // canonical metric order after the joins (the DOUBLE cast + 0.0 fill
    // happened inside each aggregate above), then the ratios
    agged.select(
      (keyCols ++ aggs.map(a => col(a.name))
        ++ posts.map(p => p.col.as(p.name))): _*)
  }

  /** The output metric column names, in order (aggregates then ratios). */
  def metricNames: Seq[String] = {
    val epoch = LocalDate.ofEpochDay(0)
    val wins = WindowSpec.windows(epoch)
    wins.flatMap(w => MetricDefs.aggsFor(w)).map(_.name) ++
      wins.flatMap(MetricDefs.ratiosFor).map(_.name)
  }

  /** CTE chain computing `build` over relation `factRel`; every CTE is
    * prefixed with `p` so multiple chains can coexist in one oracle query.
    * Returns (cteFragment, finalRelName).
    */
  def cteChain(p: String, factRel: String, grain: Grain,
      referenceExact: Boolean = false): (String, String) = {
    val keys = grain.keys.mkString(", ")
    val epoch = LocalDate.ofEpochDay(0) // Spark-side dates unused in SQL
    val wins = WindowSpec.windows(epoch)
    val maxOffset =
      wins.map(w => java.time.temporal.ChronoUnit.DAYS.between(w.start, epoch)).max
    val aggs = wins.flatMap(w => MetricDefs.aggsFor(w, referenceExact = referenceExact))
    val posts = wins.flatMap(MetricDefs.ratiosFor)
    val aggSelect = aggs.map(a => s"    ${a.sql} AS ${a.name}").mkString(",\n")
    val cleanSelect = aggs
      .map(a => s"    COALESCE(CAST(${a.name} AS DOUBLE), 0.0) AS ${a.name}")
      .mkString(",\n")
    val postSelect = posts.map(pd => s"    ${pd.sql} AS ${pd.name}").mkString(",\n")
    val frag =
      s"""${p}bounds AS (SELECT min(day) AS mn, max(day) AS cur FROM $factRel),
         |${p}pref AS (
         |  SELECT f.* FROM $factRel f CROSS JOIN ${p}bounds b
         |  WHERE f.day BETWEEN (b.cur - $maxOffset) AND b.cur
         |    AND ${grain.keys.map(k => s"f.$k IS NOT NULL").mkString(" AND ")}),
         |${p}agged AS (
         |  SELECT $keys,
         |$aggSelect
         |  FROM ${p}pref CROSS JOIN ${p}bounds b
         |  GROUP BY $keys),
         |${p}cleaned AS (
         |  SELECT $keys,
         |$cleanSelect
         |  FROM ${p}agged),
         |${p}final AS (
         |  SELECT $keys, ${aggs.map(_.name).mkString(", ")},
         |$postSelect
         |  FROM ${p}cleaned)""".stripMargin
    (frag, s"${p}final")
  }

  /** DuckDB-oracle SQL for `build`, rendered from the SAME definitions.
    * `factCte` must define a relation named `fact_rel` with the silver
    * columns (+ commodity_desc when the grain needs it). The window-bound
    * SQL fragments reference the `bounds` CTE as alias `b`, cross-joined
    * into the aggregation (all references sit inside aggregate args, so no
    * extra GROUP BY keys are needed).
    */
  def buildSql(factCte: String, grain: Grain,
      referenceExact: Boolean = false): String = {
    val (frag, fin) = cteChain("f_", "fact_rel", grain, referenceExact)
    s"WITH $factCte,\n$frag\nSELECT * FROM $fin"
  }
}
