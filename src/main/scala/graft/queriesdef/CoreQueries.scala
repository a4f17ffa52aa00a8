package graft.queriesdef

import org.apache.spark.sql.functions._
import graft.QueryRegistry.Entry
import graft.core.{Catalog, Retail}
import graft.ops.Commodities
import graft.silver.TransactionsAdj

/** Ingest / silver / commodity-selection queries (SURVEY.md §2.1-§2.2,
  * §2.6, A1/A6/A7).
  */
object CoreQueries {

  def entries: Seq[Entry] = Seq(

    // S4/P8/P9/F7: the silver CTAS projection (01_Data_Prep.py:121-166).
    Entry(
      "transactions_adj",
      (s, dir) => TransactionsAdj(s, dir),
      Some(s"""WITH ${Oracle.txAdjFull}
        |SELECT household_key, basket_id, day, product_id, store_id, week_no,
        |  units, amount_list, instore_discount, campaign_coupon_discount,
        |  manuf_coupon_discount, total_coupon_discount, amount_paid
        |FROM tx""".stripMargin)),

    // A7/O1/J1: top-k commodities by distinct baskets (02:38-47).
    Entry(
      "top_commodities",
      (s, dir) => Commodities.topCommodities(s, dir),
      Some(s"""WITH ${Oracle.txCommodity}
        |SELECT commodity_desc, COUNT(DISTINCT basket_id) AS baskets
        |FROM txc GROUP BY commodity_desc
        |ORDER BY baskets DESC, commodity_desc LIMIT 10""".stripMargin)),

    // F5: sanitized commodity names for the scoring control table (02:58-68).
    Entry(
      "commodities_to_score",
      (s, dir) => Commodities.commoditiesToScore(s, dir),
      Some(s"""WITH ${Oracle.txCommodity},
        |topk AS (
        |  SELECT commodity_desc, COUNT(DISTINCT basket_id) AS baskets
        |  FROM txc GROUP BY commodity_desc
        |  ORDER BY baskets DESC, commodity_desc LIMIT 10)
        |SELECT commodity_desc,
        |  replace(regexp_replace(commodity_desc, '[-\\|\\\\/:;,."'']', '_', 'g'), ' ', '_')
        |    AS commodity_clean
        |FROM topk""".stripMargin)),

    // F1: int day-number ↔ DATE codec anchored at an epoch (01:66-72).
    Entry(
      "day_codec",
      (s, dir) => {
        val anchor = lit("1995-01-01").cast("date")
        Catalog.table(s, dir, "orders")
          .select(to_date(col("o_orderdate")).as("d"))
          .distinct()
          .select(
            (datediff(col("d"), anchor) + 1).cast("long").as("day_number"),
            date_add(anchor, datediff(col("d"), anchor)).as("day"))
      },
      Some("""SELECT
        |  CAST(datediff('day', DATE '1995-01-01', d) + 1 AS BIGINT) AS day_number,
        |  DATE '1995-01-01' + CAST(datediff('day', DATE '1995-01-01', d) AS INT) AS day
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS d FROM orders) t""".stripMargin)),

    // A1: grand aggregate — dataset bounds (util/config.py:40-47, 04a:136-146).
    Entry(
      "grand_agg",
      (s, dir) =>
        TransactionsAdj(s, dir)
          .agg(
            min(col("day")).as("min_day"),
            max(col("day")).as("max_day"),
            count(lit(1)).as("n_rows"),
            countDistinct(col("household_key")).as("n_households")),
      Some(s"""WITH ${Oracle.txAdj}
        |SELECT min(day) AS min_day, max(day) AS max_day,
        |  count(*) AS n_rows,
        |  COUNT(DISTINCT household_key) AS n_households
        |FROM transactions_adj""".stripMargin)),

    // A6: key dedup (04a:102, 04b:141-142).
    Entry(
      "dedup_households",
      (s, dir) =>
        TransactionsAdj(s, dir).select("household_key").distinct(),
      Some(s"""WITH ${Oracle.txAdj}
        |SELECT DISTINCT household_key FROM transactions_adj""".stripMargin)),

    // O2/O3: deterministic ordered limit (presentation sorts, previews).
    Entry(
      "ordered_limit",
      (s, dir) =>
        TransactionsAdj(s, dir)
          .select("basket_id").distinct()
          .orderBy(col("basket_id")).limit(100),
      Some(s"""WITH ${Oracle.txAdj}
        |SELECT DISTINCT basket_id FROM transactions_adj
        |ORDER BY basket_id LIMIT 100""".stripMargin)),

    // A9: verification counts — per-day row counts (02:110-116).
    Entry(
      "verification_counts",
      (s, dir) => TransactionsAdj(s, dir)
        .groupBy("day").agg(count(lit(1)).as("n_rows")),
      Some(s"""WITH ${Oracle.txAdj}
        |SELECT day, count(*) AS n_rows
        |FROM transactions_adj GROUP BY day""".stripMargin)),

    // J2: inner-join-as-semi-filter, expressed with the cleaner left_semi
    // primitive (04b:115-119).
    Entry(
      "semi_filter",
      (s, dir) => {
        val products = Retail.products(s, dir).select("product_id", "commodity_desc")
        val cts = Commodities.commoditiesToScore(s, dir).select("commodity_desc")
        products.join(broadcast(cts), Seq("commodity_desc"), "left_semi")
          .select("product_id", "commodity_desc")
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |cts AS (
        |  SELECT commodity_desc FROM (
        |    SELECT commodity_desc, COUNT(DISTINCT basket_id) AS baskets
        |    FROM txc GROUP BY commodity_desc
        |    ORDER BY baskets DESC, commodity_desc LIMIT 10) t)
        |SELECT p.p_partkey AS product_id, p.p_brand AS commodity_desc
        |FROM part p WHERE p.p_brand IN (SELECT commodity_desc FROM cts)""".stripMargin)),

    // S11: the SQL surface — registered views + spark.sql (util/config.py
    // SQL cells; CTAS-style programs run through the same path as S4).
    Entry(
      "sql_interface",
      (s, dir) => {
        graft.core.Catalog.registerAll(s, dir)
        s.sql("""SELECT l_returnflag, l_linestatus,
                |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
                |  COUNT(*) AS n
                |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)
      },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    // Beyond-reference OLAP: hierarchical ROLLUP totals (brand → grand).
    Entry(
      "spend_rollup",
      (s, dir) => {
        // Dataset-API rollup after a join trips the ambiguous-self-join
        // check on the grouping attribute; the SQL form is the clean path.
        graft.features.FeatureBuilder.txWithCommodity(s, dir)
          .select("commodity_desc", "amount_paid")
          .createOrReplaceTempView("graft_rollup_in")
        s.sql("""SELECT commodity_desc,
                |  CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DOUBLE) AS spend,
                |  COUNT(*) AS n_lines
                |FROM graft_rollup_in GROUP BY ROLLUP (commodity_desc)""".stripMargin)
      },
      Some(s"""WITH ${Oracle.txCommodity}
        |SELECT commodity_desc,
        |  ${Oracle.dsum("amount_paid", "spend")},
        |  count(*) AS n_lines
        |FROM txc GROUP BY ROLLUP (commodity_desc)""".stripMargin)),

    // Beyond-reference OLAP: exact interpolated percentiles per group —
    // sort-based (ExactPercentiles), not the map-accumulating built-in.
    Entry(
      "spend_percentiles",
      (s, dir) => {
        val p = graft.ops.ExactPercentiles.perGroup(
          graft.features.FeatureBuilder.txWithCommodity(s, dir),
          Seq("commodity_desc"), "amount_paid",
          Seq("p50" -> 0.5, "p90" -> 0.9))
        p.select(col("commodity_desc"),
          round(col("p50"), 6).as("p50"), round(col("p90"), 6).as("p90"))
      },
      Some(s"""WITH ${Oracle.txCommodity}
        |SELECT commodity_desc,
        |  round(quantile_cont(amount_paid, 0.5), 6) AS p50,
        |  round(quantile_cont(amount_paid, 0.9), 6) AS p90
        |FROM txc GROUP BY commodity_desc""".stripMargin)),

    // Beyond-reference OLAP: top-k per group — rank a grouped aggregate
    // inside each partition (top-3 products per commodity by paid spend).
    Entry(
      "topk_per_group",
      (s, dir) => {
        val spend = graft.features.FeatureBuilder.txWithCommodity(s, dir)
          .groupBy("commodity_desc", "product_id")
          .agg(sum(col("amount_paid").cast("decimal(18,4)")).cast("double").as("spend"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("commodity_desc"))
          .orderBy(col("spend").desc, col("product_id"))
        spend.withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |spend AS (
        |  SELECT commodity_desc, product_id,
        |    ${Oracle.dsum("amount_paid", "spend")}
        |  FROM txc GROUP BY commodity_desc, product_id),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY commodity_desc ORDER BY spend DESC, product_id) AS rank
        |  FROM spend)
        |SELECT commodity_desc, product_id, spend, rank
        |FROM ranked WHERE rank <= 3""".stripMargin)),

    // Skew hook (SURVEY.md §4): salted two-phase sums are value-identical
    // to plain sums — DECIMAL accumulation makes the result independent
    // of how the salt split the rows, so a plain DuckDB SUM is an exact
    // oracle for the salted plan.
    Entry(
      "skew_salted_sums",
      (s, dir) => graft.ops.SkewAgg.saltedSums(
        TransactionsAdj(s, dir), Seq("household_key"),
        Seq(graft.ops.SkewAgg.SumSpec("amount_paid", "sum_paid"),
          graft.ops.SkewAgg.SumSpec("amount_list", "sum_list"))),
      Some(s"""WITH ${Oracle.txAdjFull}
        |SELECT household_key,
        |  ${Oracle.dsum("amount_paid", "sum_paid")},
        |  ${Oracle.dsum("amount_list", "sum_list")}
        |FROM tx GROUP BY household_key""".stripMargin)),

    // A3 at scale: approx_count_distinct variant of the distinct family —
    // the 100 TB escape hatch for the multi-distinct Expand (SURVEY.md §4).
    // HLL sketches are engine-specific ⇒ rows-only.
    Entry(
      "feature_agg_approx",
      (s, dir) => TransactionsAdj(s, dir)
        .groupBy("household_key")
        .agg(
          approx_count_distinct(col("day")).as("approx_days"),
          approx_count_distinct(col("basket_id")).as("approx_baskets"),
          approx_count_distinct(col("product_id")).as("approx_products")),
      None),

    // Mergeable-sketch distinct counting: per-day HLL partials
    // (hll_sketch_agg) unioned per commodity (hll_union_agg) — the
    // incremental pattern for distinct metrics at 100 TB: a daily job
    // stores KB-sized sketches, any window's distinct count is a merge
    // of partials at read time, and the fact table is never rescanned.
    // The result carries the estimate NEXT TO the exact count with the
    // relative error, so the accuracy contract is visible in the output
    // and pinned by SketchSpec; sketch internals have no SQL twin →
    // rows-only driver check, like ann_ivf.
    Entry(
      "sketch_distinct_merge",
      (s, dir) => {
        val txc = graft.features.FeatureBuilder.txWithCommodity(s, dir)
        val daily = txc.groupBy(col("commodity_desc"), col("day"))
          .agg(hll_sketch_agg(col("household_key")).as("sk"))
        val merged = daily.groupBy(col("commodity_desc"))
          .agg(
            hll_sketch_estimate(hll_union_agg(col("sk")))
              .as("approx_households"),
            count(lit(1)).as("n_days"))
        val exact = txc.groupBy(col("commodity_desc"))
          .agg(countDistinct(col("household_key")).as("exact_households"))
        merged.join(exact, Seq("commodity_desc"))
          .select(col("commodity_desc"), col("n_days"),
            col("approx_households"), col("exact_households"),
            round(abs(col("approx_households") - col("exact_households"))
              .cast("double") / col("exact_households").cast("double"), 9)
              .as("rel_err"))
      },
      None),

    // The sketch family's ORACLED accuracy contract (the ann_recall_audit
    // pattern): HLL internals are engine-specific, but "every group's
    // estimate lands within ε of the exact distinct count" is checkable —
    // Spark counts the exceedances, the oracle derives the group universe
    // exactly and asserts zero. The merged estimate itself is NOT a pure
    // function of the input set: it can move with how the per-day sketches
    // are partitioned and merged (`sketch_distinct_merge` has given one
    // commodity 1111 over 32 silver buckets and 1112 over 4), and the ε
    // bound below absorbs that wobble, so the exceedance count is stable. A
    // degraded sketch shows up as n_exceed > 0 → hash FAIL. The lgConfigK=12
    // datasketches HLL has RSE ≈ 1.04/√4096 ≈ 1.6%, so a 5% bound is only
    // ~3σ — with hundreds of commodity groups a single unlucky group at a
    // larger SF would fail the pinned-zero oracle deterministically (r8
    // ADVICE). ε = 10% ≈ 6σ: per-group exceedance probability ~1e-9, so
    // zero exceedances holds at any SF while a genuinely degraded sketch
    // (estimates off by >10%) still trips it.
    Entry(
      "sketch_accuracy_audit",
      (s, dir) => {
        val txc = graft.features.FeatureBuilder.txWithCommodity(s, dir)
        val daily = txc.groupBy(col("commodity_desc"), col("day"))
          .agg(hll_sketch_agg(col("household_key")).as("sk"))
        val merged = daily.groupBy(col("commodity_desc"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
            .as("approx_households"))
        val exact = txc.groupBy(col("commodity_desc"))
          .agg(countDistinct(col("household_key")).as("exact_households"))
        merged.join(exact, Seq("commodity_desc"))
          .agg(count(lit(1)).as("n_groups"),
            sum(when(abs(col("approx_households") - col("exact_households"))
              .cast("double") / col("exact_households").cast("double")
              > 0.10, 1L).otherwise(0L)).as("n_exceed_10pct"))
      },
      Some(s"""WITH ${Oracle.txCommodity}
        |SELECT CAST(COUNT(DISTINCT commodity_desc) AS BIGINT) AS n_groups,
        |  CAST(0 AS BIGINT) AS n_exceed_10pct
        |FROM txc""".stripMargin)),

    // Same contract for the built-in approx_count_distinct used by
    // feature_agg_approx: per household, each of the three HLL++
    // estimates must land within ε of the exact distinct count (the
    // exacts computed Expand-free: one distinct-project + count per
    // entity, the split-distinct rule). The r8 version of this audit
    // shipped a FALSE contract (the round's one red row): a pure
    // relative-error bound at default rsd=0.05 — but per-household
    // cardinalities here are TINY (max 24 baskets / 105 products at
    // sf0.1), where HLL++ error is register-collision quantized: an
    // estimate off by ±1 at n=5 is a 20% relative error no register
    // count eliminates (measured: max abs err 2-3 even at rsd=0.01,
    // i.e. 2^14 registers). The sound contract is relative-OR-absolute:
    // exceed only when BOTH relErr > 10% AND absErr > 4. At rsd=0.01
    // that is ~10σ in the dense regime and 1.3-2× the measured worst
    // collision noise in the sparse regime — zero exceedances measured
    // at sf0.01 AND sf0.1 (r9 BENCH_NOTES), while a real estimator
    // regression (systematically >10% off by >4) still trips it.
    Entry(
      "approx_distinct_audit",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        // HLL is SET-based: estimating over the pre-deduped (household,
        // entity) pairs gives the identical estimate as over raw rows,
        // so each entity costs ONE distinct-project feeding BOTH the
        // exact count and the sketch in one grouped pass — 3 aggs + 2
        // joins instead of 4 aggs + 3 joins, and the expensive
        // 2^14-register update loop runs over |distinct pairs|, not
        // |fact rows| (~7s → ~2s at sf0.01).
        def audit(c: String, nm: String) =
          tx.select(col("household_key"), col(c)).distinct()
            .groupBy("household_key").agg(
              count(lit(1)).as(s"e_$nm"),
              approx_count_distinct(col(c), 0.01).as(s"a_$nm"))
        def exceed(nm: String) =
          sum(when(abs(col(s"a_$nm") - col(s"e_$nm")).cast("double")
            / col(s"e_$nm").cast("double") > 0.10
            && abs(col(s"a_$nm") - col(s"e_$nm")) > 4, 1L).otherwise(0L))
        audit("day", "days")
          .join(audit("basket_id", "baskets"), Seq("household_key"))
          .join(audit("product_id", "products"), Seq("household_key"))
          .agg(count(lit(1)).as("n_households"),
            exceed("days").as("n_exceed_days"),
            exceed("baskets").as("n_exceed_baskets"),
            exceed("products").as("n_exceed_products"))
      },
      Some(s"""WITH ${Oracle.txAdjFull}
        |SELECT CAST(COUNT(DISTINCT household_key) AS BIGINT) AS n_households,
        |  CAST(0 AS BIGINT) AS n_exceed_days,
        |  CAST(0 AS BIGINT) AS n_exceed_baskets,
        |  CAST(0 AS BIGINT) AS n_exceed_products
        |FROM tx""".stripMargin)),

    // The quantile sibling of the sketch above, but fully deterministic
    // (fixed-width histogram partials instead of HLL registers) — so this
    // one IS oracle-verified end-to-end: daily (commodity, day, bin)
    // counts merged across the whole horizon, p50/p95 interpolated from
    // the merged histogram, compared against the exact percentiles. The
    // incremental shape: KB-sized daily partials answer any date window
    // without rescanning the fact; estimate error is bounded by binWidth.
    Entry(
      "sketch_quantile_merge",
      (s, dir) => {
        val txc = graft.features.FeatureBuilder.txWithCommodity(s, dir)
        val partials = graft.ops.QuantileSketch.dailyPartials(
          txc, Seq("commodity_desc"), "day", "amount_paid", binWidth = 5.0)
        val est = graft.ops.QuantileSketch.quantiles(
          partials, Seq("commodity_desc"), binWidth = 5.0,
          Seq("est_p50" -> 0.5, "est_p95" -> 0.95))
        val exact = graft.ops.ExactPercentiles.perGroup(
          txc, Seq("commodity_desc"), "amount_paid",
          Seq("p50" -> 0.5, "p95" -> 0.95))
        est.join(exact, Seq("commodity_desc"))
          .select(col("commodity_desc"), col("n"),
            round(col("est_p50"), 6).as("est_p50"),
            round(col("est_p95"), 6).as("est_p95"),
            round(col("p50"), 6).as("exact_p50"),
            round(col("p95"), 6).as("exact_p95"),
            round(abs(round(col("est_p50"), 6) - round(col("p50"), 6)), 6)
              .as("err_p50"),
            round(abs(round(col("est_p95"), 6) - round(col("p95"), 6)), 6)
              .as("err_p95"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |partials AS (
        |  SELECT commodity_desc, day,
        |    CAST(FLOOR(amount_paid / 5.0) AS BIGINT) AS bin,
        |    COUNT(*) AS bin_rows
        |  FROM txc WHERE amount_paid IS NOT NULL
        |  GROUP BY commodity_desc, day, CAST(FLOOR(amount_paid / 5.0) AS BIGINT)),
        |est AS (
        |${graft.ops.QuantileSketch.quantilesSql("partials",
            Seq("commodity_desc"), 5.0,
            Seq("est_p50" -> 0.5, "est_p95" -> 0.95))}),
        |exact AS (
        |  SELECT commodity_desc,
        |    round(quantile_cont(amount_paid, 0.5), 6) AS p50,
        |    round(quantile_cont(amount_paid, 0.95), 6) AS p95
        |  FROM txc GROUP BY commodity_desc)
        |SELECT e.commodity_desc, e.n,
        |  round(e.est_p50, 6) AS est_p50,
        |  round(e.est_p95, 6) AS est_p95,
        |  round(x.p50, 6) AS exact_p50,
        |  round(x.p95, 6) AS exact_p95,
        |  round(abs(round(e.est_p50, 6) - round(x.p50, 6)), 6) AS err_p50,
        |  round(abs(round(e.est_p95, 6) - round(x.p95, 6)), 6) AS err_p95
        |FROM est e JOIN exact x ON e.commodity_desc = x.commodity_desc""".stripMargin)),

    // Distribution drift monitoring: PSI + binned KS of the per-commodity
    // spend distribution, first half of the horizon (baseline) vs the
    // second (current) — the batch-scoring health check (alert at PSI
    // 0.1/0.25). One binned aggregation over the fact; all test
    // arithmetic runs on the bin table.
    Entry(
      "spend_drift_psi",
      (s, dir) => {
        val txc = graft.features.FeatureBuilder.txWithCommodity(s, dir)
        val (lo, cur) = graft.core.Retail.dayBounds(s, dir)
        val mid = lo.plusDays(
          java.time.temporal.ChronoUnit.DAYS.between(lo, cur) / 2)
        graft.ops.Drift.perGroup(txc, Seq("commodity_desc"), "amount_paid",
          col("day") <= lit(java.sql.Date.valueOf(mid)), binWidth = 5.0)
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |gb2 AS (SELECT min(day) AS lo, max(day) AS cur FROM txc),
        |rel AS (
        |  SELECT t.commodity_desc, t.amount_paid AS v,
        |    t.day <= (SELECT lo + CAST((cur - lo) // 2 AS INT) FROM gb2)
        |      AS is_base
        |  FROM txc t),
        |drift AS (
        |${graft.ops.Drift.perGroupSql("rel", Seq("commodity_desc"), 5.0)})
        |SELECT * FROM drift""".stripMargin)),

    // Frequent-items sketch (third sketch family member, after HLL
    // distinct and histogram quantiles): daily exact top-8 product counts
    // + per-day truncation threshold, merged into a global top-10 with
    // provable [lb, ub] bounds — joined against the exact counts so the
    // bound guarantee itself is oracle-checked (in_bounds must be true).
    Entry(
      "sketch_topk_merge",
      (s, dir) => {
        val txc = graft.features.FeatureBuilder.txWithCommodity(s, dir)
        val partials = graft.ops.TopKSketch.dailyTopM(
          txc, "day", "product_id", m = 8)
        val merged = graft.ops.TopKSketch.mergeTopK(partials, "day", k = 10)
        val exact = txc.groupBy(col("product_id").as("item"))
          .agg(count(lit(1)).as("exact_cnt"))
        merged.join(exact, Seq("item"))
          .select(col("item"), col("lb"), col("ub"), col("n_days_present"),
            col("exact"), col("exact_cnt"),
            (col("exact_cnt") >= col("lb") && col("exact_cnt") <= col("ub"))
              .as("in_bounds"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |counts AS (
        |  SELECT day, product_id AS item, COUNT(*) AS cnt
        |  FROM txc GROUP BY day, product_id),
        |ranked AS (
        |  SELECT day, item, cnt,
        |    ROW_NUMBER() OVER (PARTITION BY day ORDER BY cnt DESC, item)
        |      AS rn
        |  FROM counts),
        |th AS (SELECT day, cnt AS thresh FROM ranked WHERE rn = 9),
        |dpart AS (
        |  SELECT r.day, r.item, r.cnt, COALESCE(t.thresh, 0) AS thresh
        |  FROM ranked r LEFT JOIN th t ON r.day = t.day
        |  WHERE r.rn <= 8),
        |tot AS (
        |  SELECT CAST(SUM(thresh) AS BIGINT) AS total_thresh,
        |    COUNT(*) AS n_days
        |  FROM (SELECT DISTINCT day, thresh FROM dpart)),
        |items AS (
        |  SELECT item, CAST(SUM(cnt) AS BIGINT) AS lb,
        |    CAST(SUM(thresh) AS BIGINT) AS pth,
        |    COUNT(*) AS n_days_present
        |  FROM dpart GROUP BY item),
        |merged AS (
        |  SELECT i.item, i.lb, i.lb + (tot.total_thresh - i.pth) AS ub,
        |    i.n_days_present, i.n_days_present = tot.n_days AS exact
        |  FROM items i, tot
        |  ORDER BY i.lb DESC, i.item LIMIT 10),
        |ex AS (
        |  SELECT product_id AS item, COUNT(*) AS exact_cnt
        |  FROM txc GROUP BY product_id)
        |SELECT m.item, m.lb, m.ub, m.n_days_present, m.exact, x.exact_cnt,
        |  (x.exact_cnt >= m.lb AND x.exact_cnt <= m.ub) AS in_bounds
        |FROM merged m JOIN ex x ON m.item = x.item""".stripMargin)),

    // The general form of spend_rollup: GROUPING SETS with grouping()
    // markers (commodity totals, weekly totals, grand total in one pass —
    // Catalyst plans one Expand + one aggregate, not three scans).
    Entry(
      "spend_grouping_sets",
      (s, dir) => {
        graft.features.FeatureBuilder.txWithCommodity(s, dir)
          .select("commodity_desc", "week_no", "amount_paid")
          .createOrReplaceTempView("graft_gsets_in")
        s.sql("""SELECT commodity_desc, week_no,
                |  CAST(grouping(commodity_desc) AS BIGINT) AS g_comm,
                |  CAST(grouping(week_no) AS BIGINT) AS g_week,
                |  CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DOUBLE) AS spend
                |FROM graft_gsets_in
                |GROUP BY GROUPING SETS ((commodity_desc), (week_no), ())""".stripMargin)
      },
      Some(s"""WITH ${Oracle.txCommodity}
        |SELECT commodity_desc, week_no,
        |  CAST(grouping(commodity_desc) AS BIGINT) AS g_comm,
        |  CAST(grouping(week_no) AS BIGINT) AS g_week,
        |  ${Oracle.dsum("amount_paid", "spend")}
        |FROM txc GROUP BY GROUPING SETS ((commodity_desc), (week_no), ())""".stripMargin)),

    // Record linkage: edit-distance-1 similarity self-join over customer
    // names via SymSpell deletion keys (provably complete candidates +
    // exact levenshtein verify — no n² pass; FuzzyJoin scaladoc has the
    // proof, FuzzyJoinSpec the property test). Oracle is the naive
    // all-pairs levenshtein join, so recall is hash-verified too.
    Entry(
      "fuzzy_name_pairs",
      (s, dir) => graft.ops.FuzzyJoin.selfJoin(
        Catalog.table(s, dir, "customer"), "c_name"),
      Some("""WITH names AS (SELECT DISTINCT c_name FROM customer
        |  WHERE c_name IS NOT NULL AND length(c_name) >= 3)
        |SELECT a.c_name AS name_a, b.c_name AS name_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM names a JOIN names b
        |  ON a.c_name < b.c_name
        | AND abs(length(a.c_name) - length(b.c_name)) <= 1
        |WHERE levenshtein(a.c_name, b.c_name) <= 1""".stripMargin)),

    // Referential-integrity audit over the star schema's FK edges
    // (fact→orders, orders→customer, fact→part): row count, orphan
    // count (FK with no dim row), distinct-key coverage — the
    // constraint check a warehouse without enforced FKs (parquet lakes,
    // like the reference's Delta tables) must run as a query. Each edge
    // is one left join + conditional counts; the dim side's distinct
    // keys collapse map-side.
    Entry(
      "fk_integrity_audit",
      (s, dir) => {
        def edge(name: String, fact: org.apache.spark.sql.DataFrame,
            fk: String, dim: org.apache.spark.sql.DataFrame,
            pk: String) = {
          val keys = dim.select(col(pk).as("__pk")).distinct()
          fact.select(col(fk).as("__fk"))
            .join(keys, col("__fk") === col("__pk"), "left")
            .agg(
              count(lit(1)).as("n_rows"),
              count(when(col("__pk").isNull, lit(1))).as("n_orphans"),
              countDistinct(col("__fk")).as("n_distinct_fk"))
            .select(lit(name).as("fk_edge"), col("n_rows"),
              col("n_orphans"), col("n_distinct_fk"))
        }
        val li = Catalog.table(s, dir, "lineitem")
        val ord = Catalog.table(s, dir, "orders")
        edge("lineitem->orders", li, "l_orderkey", ord, "o_orderkey")
          .unionByName(edge("orders->customer", ord, "o_custkey",
            Catalog.table(s, dir, "customer"), "c_custkey"))
          .unionByName(edge("lineitem->part", li, "l_partkey",
            Catalog.table(s, dir, "part"), "p_partkey"))
      },
      Some {
        def edge(name: String, fact: String, fk: String, dim: String,
            pk: String) =
          s"""SELECT '$name' AS fk_edge, COUNT(*) AS n_rows,
             |  COUNT(CASE WHEN d.__pk IS NULL THEN 1 END) AS n_orphans,
             |  COUNT(DISTINCT f.$fk) AS n_distinct_fk
             |FROM $fact f LEFT JOIN
             |  (SELECT DISTINCT $pk AS __pk FROM $dim) d
             |  ON f.$fk = d.__pk""".stripMargin
        s"""${edge("lineitem->orders", "lineitem", "l_orderkey",
              "orders", "o_orderkey")}
           |UNION ALL
           |${edge("orders->customer", "orders", "o_custkey",
              "customer", "c_custkey")}
           |UNION ALL
           |${edge("lineitem->part", "lineitem", "l_partkey",
              "part", "p_partkey")}""".stripMargin
      }),

    // Benford first-digit audit over payment amounts (the fraud /
    // fabricated-data screen): the digit comes from the INTEGER
    // rendering of the 1e-4-quantized amount (scaling by a power of 10
    // preserves the leading digit; integer→string rendering is
    // engine-identical, double→string is NOT), expected shares from
    // ln(1+1/d)/ln(10) on constants. Deviations close the audit.
    Entry(
      "benford_audit",
      (s, dir) => {
        val q = TransactionsAdj(s, dir)
          .select(round(col("amount_paid") * 10000).cast("long").as("q"))
          .filter(col("q") > 0L)
          .withColumn("digit",
            substring(col("q").cast("string"), 1, 1).cast("long"))
        val tot = q.agg(count(lit(1)).as("n_total"))
        q.groupBy("digit").agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(tot))
          .select(col("digit"), col("n"),
            round(col("n").cast("double") / col("n_total").cast("double"), 9)
              .as("observed_share"),
            round(log(lit(1.0) + lit(1.0) / col("digit").cast("double"))
              / log(lit(10.0)), 9).as("expected_share"))
          .withColumn("deviation",
            round(col("observed_share") - col("expected_share"), 9))
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |q AS (
        |  SELECT CAST(substr(CAST(q AS VARCHAR), 1, 1) AS BIGINT) AS digit
        |  FROM (SELECT CAST(ROUND(amount_paid * 10000, 0) AS BIGINT) AS q
        |        FROM tx) t
        |  WHERE q > 0),
        |tot AS (SELECT COUNT(*) AS n_total FROM q),
        |d AS (SELECT digit, COUNT(*) AS n FROM q GROUP BY digit)
        |SELECT d.digit, d.n,
        |  ROUND(CAST(d.n AS DOUBLE) / CAST(t.n_total AS DOUBLE), 9)
        |    AS observed_share,
        |  ROUND(ln(1.0 + 1.0 / CAST(d.digit AS DOUBLE)) / ln(10.0), 9)
        |    AS expected_share,
        |  ROUND(ROUND(CAST(d.n AS DOUBLE) / CAST(t.n_total AS DOUBLE), 9)
        |    - ROUND(ln(1.0 + 1.0 / CAST(d.digit AS DOUBLE)) / ln(10.0), 9),
        |    9) AS deviation
        |FROM d CROSS JOIN tot t""".stripMargin)),

    // Order-independent content digests over three relations (silver
    // fact with quantized money, part dim, customer dim) — the
    // post-rewrite reproducibility audit (ops.Digest scaladoc): same
    // rows in any order/layout → same digest; one changed row → changed
    // digest. The digest arithmetic itself is hash-proven.
    Entry(
      "content_digest",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val d1 = graft.ops.Digest.tableDigest(tx, "transactions_adj", Seq(
          col("household_key"), col("basket_id"), col("day"),
          col("product_id"), col("store_id"),
          round(col("amount_paid") * 10000).cast("long")))
        val d2 = graft.ops.Digest.tableDigest(
          Catalog.table(s, dir, "part"), "part",
          Seq(col("p_partkey"), col("p_brand")))
        val d3 = graft.ops.Digest.tableDigest(
          Catalog.table(s, dir, "customer"), "customer",
          Seq(col("c_custkey"), col("c_name")))
        d1.unionByName(d2).unionByName(d3)
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |h1 AS (
        |  SELECT CAST(('0x' || substr(md5(concat_ws('|', household_key,
        |    basket_id, day, product_id, store_id,
        |    CAST(ROUND(amount_paid * 10000, 0) AS BIGINT))), 1, 15))
        |    AS BIGINT) AS h
        |  FROM tx),
        |h2 AS (
        |  SELECT CAST(('0x' || substr(md5(concat_ws('|', p_partkey,
        |    p_brand)), 1, 15)) AS BIGINT) AS h
        |  FROM part),
        |h3 AS (
        |  SELECT CAST(('0x' || substr(md5(concat_ws('|', c_custkey,
        |    c_name)), 1, 15)) AS BIGINT) AS h
        |  FROM customer)
        |SELECT 'transactions_adj' AS relation, COUNT(*) AS n_rows,
        |  CAST(COALESCE(SUM(h) % 2305843009213693952, 0) AS BIGINT)
        |    AS digest
        |FROM h1
        |UNION ALL
        |SELECT 'part', COUNT(*),
        |  CAST(COALESCE(SUM(h) % 2305843009213693952, 0) AS BIGINT)
        |FROM h2
        |UNION ALL
        |SELECT 'customer', COUNT(*),
        |  CAST(COALESCE(SUM(h) % 2305843009213693952, 0) AS BIGINT)
        |FROM h3""".stripMargin)),

    // Deterministic missing-value imputation (ops.Impute): numeric nulls
    // from the group's exact-decimal mean, categorical nulls from the
    // group's mode (struct-argmax, value tiebreak — no window sort),
    // global fallback, audit flags per cell. Nulls are injected by the
    // md5-bucket rule (fixture has none), so both engines impute exactly
    // the same cells.
    Entry(
      "impute_missing",
      (s, dir) => {
        val cust = Catalog.table(s, dir, "customer").select(
          col("c_custkey"), col("c_nationkey").as("nation"),
          graft.ops.Impute.injectNulls(col("c_acctbal"),
            col("c_custkey"), 100).as("acctbal"),
          graft.ops.Impute.injectNulls(col("c_mktsegment"),
            col("c_custkey"), 100, fromTop = true).as("segment"))
        graft.ops.Impute.meanMode(cust, Seq("nation"), "acctbal", "segment")
          .select("c_custkey", "nation", "acctbal", "segment",
            "acctbal_imputed", "segment_imputed")
      },
      Some {
        val bucket = graft.ops.HashSplit.bucketSql("c_custkey", 1000)
        s"""WITH b AS (
           |  SELECT c_custkey, c_nationkey AS nation,
           |    CASE WHEN $bucket < 100 THEN NULL ELSE c_acctbal END
           |      AS acctbal,
           |    CASE WHEN $bucket >= 900 THEN NULL ELSE c_mktsegment END
           |      AS segment
           |  FROM customer),
           |means AS (
           |  SELECT nation,
           |    ROUND(CAST(SUM(CAST(acctbal AS DECIMAL(18,4))) AS DOUBLE)
           |      / CAST(COUNT(*) AS DOUBLE), 9) AS mean_value
           |  FROM b WHERE acctbal IS NOT NULL GROUP BY nation),
           |modes AS (
           |  SELECT nation, v AS mode_value FROM (
           |    SELECT nation, segment AS v,
           |      ROW_NUMBER() OVER (PARTITION BY nation
           |        ORDER BY COUNT(*) DESC, segment) AS rn
           |    FROM b WHERE segment IS NOT NULL GROUP BY nation, segment) t
           |  WHERE rn = 1),
           |gm AS (
           |  SELECT ROUND(CAST(SUM(CAST(acctbal AS DECIMAL(18,4))) AS DOUBLE)
           |    / CAST(COUNT(*) AS DOUBLE), 9) AS g
           |  FROM b WHERE acctbal IS NOT NULL),
           |gc AS (
           |  SELECT v AS g FROM (
           |    SELECT segment AS v, ROW_NUMBER() OVER
           |      (ORDER BY COUNT(*) DESC, segment) AS rn
           |    FROM b WHERE segment IS NOT NULL GROUP BY segment) t
           |  WHERE rn = 1)
           |SELECT b.c_custkey, b.nation,
           |  COALESCE(b.acctbal, m.mean_value, gm.g) AS acctbal,
           |  COALESCE(b.segment, mo.mode_value, gc.g) AS segment,
           |  b.acctbal IS NULL AS acctbal_imputed,
           |  b.segment IS NULL AS segment_imputed
           |FROM b
           |LEFT JOIN means m ON b.nation = m.nation
           |LEFT JOIN modes mo ON b.nation = mo.nation
           |CROSS JOIN gm CROSS JOIN gc""".stripMargin
      }),

    // End-to-end entity resolution — the record-linkage lineage a master-
    // data pipeline ships, composed from the shipped operators: SymSpell
    // fuzzy candidate pairs → connected components over name-variant
    // edges → keep-most-popular-spelling survivor per entity cluster.
    // The raw TPC-H names are DEGENERATE for this demo (sequential digit
    // strings chain the whole namespace into one component under any
    // dist-1 rule), so the entry injects content-hash entity names — the
    // canonical spelling twice (it must win the popularity vote) plus
    // head/tail typo variants for a custkey-keyed subset. Clusters are
    // then small and meaningful, and the recursive-CTE oracle's reach
    // table stays linear. Names map to stable integral node ids (min
    // custkey per spelling) so the cluster algebra runs on 8-byte keys,
    // not strings. The oracle replays the whole chain: naive levenshtein
    // pairs + recursive-CTE reachability + ROW_NUMBER survivor.
    Entry(
      "entity_resolution",
      (s, dir) => {
        val keyed = Catalog.table(s, dir, "customer")
          .select(col("c_custkey").cast("long").as("k"),
            concat(lit("E"), substring(md5(col("c_custkey").cast("string")), 1, 8))
              .as("name"))
        // spelling id = k·4 + variant code — a base name and its typo
        // variants share k, so min(k) alone would conflate their nodes
        val dirty = keyed.select((col("k") * 4).as("id"), col("name"))
          .unionByName( // canonical spelling appears twice
            keyed.select((col("k") * 4).as("id"), col("name")))
          .unionByName(keyed.filter(col("k") % 7 === 0)
            .select((col("k") * 4 + 1).as("id"),
              concat(substring(col("name"), 1, 8), lit("z")).as("name")))
          .unionByName(keyed.filter(col("k") % 13 === 0)
            .select((col("k") * 4 + 2).as("id"),
              concat(lit("z"), substring(col("name"), 2, 8)).as("name")))
        // nodes is referenced 5× downstream (ids ×2, CC docs, survivor
        // ranking, final join) — materialize once; the frame is
        // name-cardinality-sized, and without this each reference
        // re-runs the 4-scan dirty union + aggregate
        val nodes = dirty
          .groupBy(col("name"))
          .agg(min(col("id")).as("doc_id"), count(lit(1)).as("n_customers"))
          .localCheckpoint(true)
        val pairs = graft.ops.FuzzyJoin.selfJoin(dirty, "name")
        val ids = nodes.select(col("name"), col("doc_id"))
        val edges = pairs
          .join(ids.select(col("name").as("name_a"), col("doc_id").as("id_a")),
            Seq("name_a"))
          .join(ids.select(col("name").as("name_b"), col("doc_id").as("id_b")),
            Seq("name_b"))
          .select(least(col("id_a"), col("id_b")).as("doc_a"),
            greatest(col("id_a"), col("id_b")).as("doc_b"))
        val assign = graft.dedup.Clusters.connectedComponents(
          nodes.select("doc_id"), edges)
        val surv = graft.dedup.Clusters.survivorsFrom(
          nodes.select(col("doc_id"), col("n_customers")), assign, "n_customers")
        surv.join(nodes, Seq("doc_id"))
          .select(col("doc_id"), col("name"), col("n_customers"),
            col("cluster_id"), col("survivor_id"), col("kept"))
      },
      Some("""WITH RECURSIVE keyed AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS k,
        |    'E' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8) AS name
        |  FROM customer),
        |dirty AS (
        |  SELECT k * 4 AS id, name FROM keyed
        |  UNION ALL SELECT k * 4 AS id, name FROM keyed
        |  UNION ALL SELECT k * 4 + 1 AS id, substr(name, 1, 8) || 'z' AS name
        |    FROM keyed WHERE k % 7 = 0
        |  UNION ALL SELECT k * 4 + 2 AS id, 'z' || substr(name, 2, 8) AS name
        |    FROM keyed WHERE k % 13 = 0),
        |nodes AS (
        |  SELECT name, CAST(MIN(id) AS BIGINT) AS doc_id,
        |    COUNT(*) AS n_customers
        |  FROM dirty GROUP BY name),
        |jp AS (
        |  SELECT a.name AS name_a, b.name AS name_b,
        |    a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM nodes a JOIN nodes b
        |    ON a.name < b.name
        |   AND abs(length(a.name) - length(b.name)) <= 1
        |  WHERE levenshtein(a.name, b.name) <= 1),
        |ep AS (
        |  SELECT LEAST(id_a, id_b) AS doc_a, GREATEST(id_a, id_b) AS doc_b
        |  FROM jp),
        |edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM ep
        |  UNION
        |  SELECT doc_b AS src, doc_a AS dst FROM ep),
        |reach(a, b) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
        |cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a),
        |assigned AS (
        |  SELECT n.doc_id, n.name, n.n_customers,
        |    COALESCE(cc.cluster_id, n.doc_id) AS cluster_id
        |  FROM nodes n LEFT JOIN cc ON n.doc_id = cc.doc_id),
        |best AS (
        |  SELECT cluster_id, doc_id AS survivor_id FROM (
        |    SELECT cluster_id, doc_id,
        |      ROW_NUMBER() OVER (PARTITION BY cluster_id
        |        ORDER BY n_customers DESC, doc_id) AS rn
        |    FROM assigned) WHERE rn = 1)
        |SELECT a.doc_id, a.name, CAST(a.n_customers AS BIGINT) AS n_customers,
        |  a.cluster_id, b.survivor_id, (a.doc_id = b.survivor_id) AS kept
        |FROM assigned a JOIN best b USING (cluster_id)""".stripMargin)),

    // Equi-depth decile bucketing of households by total spend — global
    // ntile WITHOUT the single-partition window (range-partitioned rank +
    // broadcast offsets; Ntile scaladoc). Oracle is DuckDB's native ntile
    // over the same total order, so the bucket formula is hash-verified.
    Entry(
      "spend_deciles",
      (s, dir) => {
        val spend = TransactionsAdj(s, dir)
          .groupBy("household_key")
          .agg(sum(col("amount_paid").cast("decimal(18,4)")).cast("double")
            .as("spend"))
        graft.ops.Ntile.global(spend,
          Seq(col("spend").desc, col("household_key").asc), 10, "decile")
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |sp AS (
        |  SELECT household_key, ${Oracle.dsum("amount_paid", "spend")}
        |  FROM tx GROUP BY household_key)
        |SELECT household_key, spend,
        |  CAST(ntile(10) OVER (ORDER BY spend DESC, household_key) AS BIGINT)
        |    AS decile
        |FROM sp""".stripMargin)),

    // Market-basket pair co-occurrence with support pruning and lift
    // (Apriori passes 1-2 as one plan — see BasketPairs scaladoc for the
    // scale shape). Integer products in the lift stay below 2^53 so the
    // single double division is bit-identical across engines.
    Entry(
      "basket_pairs",
      (s, dir) =>
        graft.ops.BasketPairs.topPairs(TransactionsAdj(s, dir), 25, 100),
      Some(s"""WITH ${Oracle.txAdj},
        |items AS (
        |  SELECT DISTINCT basket_id, product_id FROM transactions_adj),
        |freq AS (
        |  SELECT product_id, count(*) AS n_baskets
        |  FROM items GROUP BY product_id HAVING count(*) >= 25),
        |total AS (
        |  SELECT COUNT(DISTINCT basket_id) AS n_total FROM items),
        |pruned AS (
        |  SELECT i.basket_id, i.product_id, f.n_baskets
        |  FROM items i JOIN freq f ON i.product_id = f.product_id)
        |SELECT a.product_id AS pa, b.product_id AS pb,
        |  count(*) AS n_pair, a.n_baskets AS na, b.n_baskets AS nb,
        |  (CAST(count(*) AS DOUBLE) * CAST(t.n_total AS DOUBLE)) /
        |    (CAST(a.n_baskets AS DOUBLE) * CAST(b.n_baskets AS DOUBLE))
        |    AS lift
        |FROM pruned a
        |JOIN pruned b
        |  ON a.basket_id = b.basket_id AND a.product_id < b.product_id
        |CROSS JOIN total t
        |GROUP BY a.product_id, b.product_id, a.n_baskets, b.n_baskets,
        |  t.n_total
        |ORDER BY n_pair DESC, pa, pb LIMIT 100""".stripMargin)),

    // W-family completion: percent_rank + cume_dist, PARTITIONED by
    // commodity so no window sees more than one group's rows (a global
    // ORDER BY window would funnel the whole table through one task at
    // scale). The (spend, household_key) ordering is tie-free, so both
    // rank functions are deterministic on both engines.
    Entry(
      "spend_percent_rank",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val products = Retail.products(s, dir)
          .select("product_id", "commodity_desc")
        val txc = TransactionsAdj(s, dir)
          .join(broadcast(products), Seq("product_id"))
        val spend = txc.groupBy("commodity_desc", "household_key")
          .agg(sum(col("amount_paid").cast("decimal(18,4)")).cast("double")
            .as("spend"))
        val w = Window.partitionBy("commodity_desc")
          .orderBy(col("spend"), col("household_key"))
        spend.select(
          col("commodity_desc"), col("household_key"), col("spend"),
          percent_rank().over(w).as("spend_pr"),
          cume_dist().over(w).as("spend_cd"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |sp AS (
        |  SELECT commodity_desc, household_key,
        |    ${Oracle.dsum("amount_paid", "spend")}
        |  FROM txc GROUP BY commodity_desc, household_key)
        |SELECT commodity_desc, household_key, spend,
        |  percent_rank() OVER (PARTITION BY commodity_desc
        |    ORDER BY spend, household_key) AS spend_pr,
        |  cume_dist() OVER (PARTITION BY commodity_desc
        |    ORDER BY spend, household_key) AS spend_cd
        |FROM sp""".stripMargin)),

    // Declarative data-quality gate (Deequ-style): named aggregate
    // observations with acceptance bands, one aggregation pass, long-form
    // report (see Expectations scaladoc). Oracle mirrors the observation
    // expressions and the band logic per check via UNION ALL.
    Entry(
      "quality_expectations",
      (s, dir) => {
        import graft.ops.Expectations._
        report(TransactionsAdj(s, dir), Seq(
          size(100),
          completeness("household_key", 1.0),
          uniqueness(Seq("basket_id", "product_id"), 0.9),
          minOf("amount_list", 0.0),
          maxOf("units", 100.0)))
      },
      Some(s"""WITH ${Oracle.txAdj},
        |one AS (
        |  SELECT
        |    CAST(count(*) AS DOUBLE) AS c0,
        |    CAST(count(household_key) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS c1,
        |    CAST(COUNT(DISTINCT (basket_id, product_id)) AS DOUBLE)
        |      / CAST(count(*) AS DOUBLE) AS c2,
        |    CAST(min(amount_list) AS DOUBLE) AS c3,
        |    CAST(max(units) AS DOUBLE) AS c4
        |  FROM transactions_adj),
        |long AS (
        |  SELECT 'size' AS check_name, c0 AS observed,
        |    CAST(100.0 AS DOUBLE) AS lo, CAST(NULL AS DOUBLE) AS hi FROM one
        |  UNION ALL SELECT 'completeness(household_key)', c1,
        |    CAST(1.0 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM one
        |  UNION ALL SELECT 'uniqueness(basket_id,product_id)', c2,
        |    CAST(0.9 AS DOUBLE), CAST(1.0 AS DOUBLE) FROM one
        |  UNION ALL SELECT 'min(amount_list)', c3,
        |    CAST(0.0 AS DOUBLE), CAST(NULL AS DOUBLE) FROM one
        |  UNION ALL SELECT 'max(units)', c4,
        |    CAST(NULL AS DOUBLE), CAST(100.0 AS DOUBLE) FROM one)
        |SELECT check_name, observed, lo, hi,
        |  observed IS NOT NULL
        |    AND (lo IS NULL OR observed >= lo)
        |    AND (hi IS NULL OR observed <= hi) AS pass
        |FROM long""".stripMargin)),

    // One-pass column profiler (Deequ-style data-quality staple): per
    // column, row/null counts + typed min/max, long form. ONE algebraic
    // aggregation over the table; the pivot is a stack over the single
    // summary row. The oracle's column list is hard-coded to the fixture
    // lineitem schema — ProfileSpec guards against drift.
    Entry(
      "table_profile",
      (s, dir) => graft.ops.Profile.table(Catalog.table(s, dir, "lineitem")),
      Some(graft.ops.Profile.oracleSql("lineitem", ProfileOracle.lineitemCols))),

    // Bloom-pruned semi join (ops.BloomPrune): the fact side is filtered
    // by a sketch of the dim's keys BEFORE the join exchange, then an
    // exact semi join removes false positives — so the oracle is the
    // plain semi join (the Bloom pass is shuffle-volume engineering,
    // invisible in the result). On this fixture the dim keys match 6.2%
    // of fact rows, so the sketch (fpp ~3%) admits ~9% of the fact into
    // the exchange — an ~11x shuffle-volume cut over the plain semi
    // join. BloomPruneSpec pins the pre-exchange placement of the
    // might_contain filter.
    Entry(
      "bloom_semi_prune",
      (s, dir) => {
        val small = Catalog.table(s, dir, "part")
          .filter(col("p_size") >= 48).select("p_partkey")
        graft.ops.BloomPrune.prunedSemiJoin(
            Catalog.table(s, dir, "lineitem"), small,
            "l_partkey", "p_partkey", expectedItems = 100000L)
          .groupBy("l_returnflag")
          .agg(
            count(lit(1)).as("n_rows"),
            sum(col("l_extendedprice").cast("decimal(18,4)")).cast("double")
              .as("sum_price"))
      },
      Some(s"""SELECT l_returnflag, COUNT(*) AS n_rows,
        |  ${Oracle.dsum("l_extendedprice", "sum_price")}
        |FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size >= 48)
        |GROUP BY l_returnflag""".stripMargin)),

    // Z-order layout key (ops.ZOrder): per-bucket envelope stats of the
    // Morton-interleaved (ship-day, store) grid — each zbucket is a
    // contiguous z-range (≈ one file of the sorted layout) and the
    // min/max columns are the file-skipping statistics the layout buys.
    // Day numbers are bounded by the fixture horizon (< 4096); store ids
    // are folded into the 12-bit grid (documented grid mapping).
    Entry(
      "zorder_layout",
      (s, dir) => {
        val t = Catalog.table(s, dir, "lineitem").select(
          datediff(to_date(col("l_shipdate")), lit("1995-01-01").cast("date"))
            .cast("long").as("d_day"),
          (col("l_suppkey") % 4096).as("d_supp"))
        graft.ops.ZOrder.bucketStats(
          t, Seq("d_day", "d_supp"), bits = 12, bucketBits = 8)
      },
      Some(s"""WITH t AS (
        |  SELECT CAST(datediff('day', DATE '1995-01-01',
        |      CAST(l_shipdate AS DATE)) AS BIGINT) AS d_day,
        |    l_suppkey % 4096 AS d_supp
        |  FROM lineitem)
        |${graft.ops.ZOrder.bucketStatsSql("t", Seq("d_day", "d_supp"),
             bits = 12, bucketBits = 8)}""".stripMargin)))
}

/** Fixture lineitem schema for the `table_profile` oracle (name, isNumeric);
  * asserted against the live schema by ProfileSpec.
  */
private[graft] object ProfileOracle {
  val lineitemCols: Seq[(String, Boolean)] = Seq(
    "l_orderkey" -> true, "l_partkey" -> true, "l_suppkey" -> true,
    "l_linenumber" -> true, "l_quantity" -> true, "l_extendedprice" -> true,
    "l_discount" -> true, "l_tax" -> true, "l_returnflag" -> false,
    "l_linestatus" -> false, "l_shipdate" -> false)
}
