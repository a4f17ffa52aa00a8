package graft.queriesdef

import java.sql.Date
import org.apache.spark.sql.functions._
import graft.QueryRegistry.Entry
import graft.core.{Catalog, Retail}
import graft.features.FeatureBuilder
import graft.labels.LabelBuilder
import graft.ops.{BasketPairs, Commodities, Experiment, HashSplit, KAnon, TargetEncode}
import graft.silver.TransactionsAdj

/** Advanced-analytics queries layered on the retail model: association
  * rules, target encoding, experiment readout (CUPED), privacy
  * suppression. Each is an operator a production propensity platform
  * grows next to the reference's feature/train/score core.
  */
object AnalyticsQueries {

  /** Shared basket-share rec-list lineage for the offline recsys eval
    * entries (`rec_precision_at_k`, `rec_ndcg_at_k`): history-window
    * basket shares per (household, commodity), top-`k` per household
    * (WindowGroupLimit keeps the top-k map-side), plus the realized-
    * purchase label spine. One definition, consumed by both metrics.
    *
    * `pin = true` materializes recs and labels ONCE
    * (`localCheckpoint(true)`) — the iterative-materialization rule
    * (PageRank/Clusters/RangePrefix): the metric queries fan each frame
    * into up to 6 single-row aggregates (3 k-values × recs/hits), and
    * without the pin each aggregate re-executes the whole fact-table
    * lineage (two countDistinct aggs + a window) — ~6 full fact scans
    * where one suffices. Single-consumer callers leave it false.
    */
  private def basketShareRecs(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int, pin: Boolean = false): (
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val txc = FeatureBuilder.txWithCommodity(s, dir)
    val (_, cur) = Retail.dayBounds(s, dir)
    val fed = cur.minusDays(LabelBuilder.horizonDays)
    val cts = Commodities.commoditiesToScore(s, dir)
    val labels = LabelBuilder.labels(txc, cts, fed)
    val hist = txc.filter(col("day") <= lit(Date.valueOf(fed)))
    val hh = hist.groupBy("household_key")
      .agg(countDistinct(col("basket_id")).as("total_baskets"))
    val pair = hist
      .join(broadcast(cts.select("commodity_desc")),
        Seq("commodity_desc"), "left_semi")
      .groupBy("household_key", "commodity_desc")
      .agg(countDistinct(col("basket_id")).as("pos_baskets"))
    val w = Window.partitionBy("household_key")
      .orderBy(col("score").desc, col("commodity_desc"))
    val recs = pair.join(hh, Seq("household_key"))
      .select(col("household_key"), col("commodity_desc"),
        round(col("pos_baskets").cast("double")
          / col("total_baskets").cast("double"), 9).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
    if (pin) (recs.localCheckpoint(true), labels.localCheckpoint(true))
    else (recs, labels)
  }

  /** The matching oracle CTE block: `hist`/`hh`/`pair`/`recs` (expects
    * `txc`/`gb`/`cts`/`labels` from `Oracle.txCommodity` +
    * `TrainScoreQueries.labelsCtes` upstream).
    */
  private def recsCtes(k: Int): String =
    s"""hist AS (
       |  SELECT t.* FROM txc t CROSS JOIN gb
       |  WHERE t.day <= gb.cur - 30),
       |hh AS (
       |  SELECT household_key, COUNT(DISTINCT basket_id)
       |    AS total_baskets
       |  FROM hist GROUP BY household_key),
       |pair AS (
       |  SELECT household_key, commodity_desc,
       |    COUNT(DISTINCT basket_id) AS pos_baskets
       |  FROM hist
       |  WHERE commodity_desc IN (SELECT commodity_desc FROM cts)
       |  GROUP BY household_key, commodity_desc),
       |recs AS (
       |  SELECT * FROM (
       |    SELECT p.household_key, p.commodity_desc,
       |      ROW_NUMBER() OVER (PARTITION BY p.household_key
       |        ORDER BY ROUND(CAST(p.pos_baskets AS DOUBLE)
       |          / CAST(h.total_baskets AS DOUBLE), 9) DESC,
       |          p.commodity_desc) AS rn
       |    FROM pair p JOIN hh h
       |      ON p.household_key = h.household_key) t
       |  WHERE rn <= $k)""".stripMargin

  def entries: Seq[Entry] = Seq(

    // Directional association rules (Apriori pass 3; BasketPairs.rules
    // scaladoc for the single-lineage scale shape). confidence and lift
    // are single divisions of exact sub-2^53 integers — bit-identical.
    Entry(
      "basket_rules",
      (s, dir) => BasketPairs.rules(TransactionsAdj(s, dir),
        minSupport = 25, minConf = 0.08, k = 100),
      Some(s"""WITH ${Oracle.txAdj},
        |items AS (
        |  SELECT DISTINCT basket_id, product_id FROM transactions_adj),
        |freq AS (
        |  SELECT product_id, count(*) AS n_baskets
        |  FROM items GROUP BY product_id HAVING count(*) >= 25),
        |total AS (SELECT COUNT(DISTINCT basket_id) AS n_total FROM items),
        |pruned AS (
        |  SELECT i.basket_id, i.product_id, f.n_baskets
        |  FROM items i JOIN freq f ON i.product_id = f.product_id),
        |pairs AS (
        |  SELECT a.product_id AS pa, b.product_id AS pb,
        |    count(*) AS n_pair, a.n_baskets AS na, b.n_baskets AS nb,
        |    (CAST(count(*) AS DOUBLE) * CAST(t.n_total AS DOUBLE)) /
        |      (CAST(a.n_baskets AS DOUBLE) * CAST(b.n_baskets AS DOUBLE))
        |      AS lift
        |  FROM pruned a
        |  JOIN pruned b
        |    ON a.basket_id = b.basket_id AND a.product_id < b.product_id
        |  CROSS JOIN total t
        |  GROUP BY a.product_id, b.product_id, a.n_baskets, b.n_baskets,
        |    t.n_total),
        |oriented AS (
        |  SELECT pa AS antecedent, pb AS consequent, n_pair,
        |    na AS n_ante, nb AS n_cons, lift FROM pairs
        |  UNION ALL
        |  SELECT pb, pa, n_pair, nb, na, lift FROM pairs)
        |SELECT antecedent, consequent, n_pair, n_ante, n_cons,
        |  CAST(n_pair AS DOUBLE) / CAST(n_ante AS DOUBLE) AS confidence,
        |  lift
        |FROM oriented
        |WHERE CAST(n_pair AS DOUBLE) / CAST(n_ante AS DOUBLE) >= 0.08
        |ORDER BY confidence DESC, antecedent, consequent
        |LIMIT 100""".stripMargin)),

    // Leave-one-out target encoding of the label spine by household —
    // the high-cardinality categorical encoder (TargetEncode scaladoc):
    // one group agg + one grand agg, exact integer sums, one division.
    Entry(
      "target_encode_loo",
      (s, dir) => {
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val (_, cur) = Retail.dayBounds(s, dir)
        val labels = LabelBuilder.labels(txc,
          Commodities.commoditiesToScore(s, dir),
          cur.minusDays(LabelBuilder.horizonDays))
        TargetEncode.loo(labels, Seq("household_key"), "purchased", m = 20.0)
      },
      Some(s"""WITH ${Oracle.txCommodity}, ${TrainScoreQueries.labelsCtes},
        |stats AS (
        |  SELECT household_key,
        |    CAST(SUM(purchased) AS BIGINT) AS g_sum,
        |    COUNT(*) AS g_n
        |  FROM labels GROUP BY household_key),
        |g AS (
        |  SELECT CAST(SUM(purchased) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS mu FROM labels)
        |SELECT l.household_key, l.commodity_desc, l.day, l.purchased,
        |  ROUND((CAST(s.g_sum AS DOUBLE) - CAST(l.purchased AS DOUBLE)
        |      + 20.0 * g.mu)
        |    / (CAST(s.g_n AS DOUBLE) - 1.0 + 20.0), 9) AS te
        |FROM labels l
        |JOIN stats s ON l.household_key = s.household_key
        |CROSS JOIN g""".stripMargin)),

    // CUPED experiment readout: arms assigned by content hash (HashSplit
    // arithmetic — engine-exact on both sides), y = second-half spend,
    // x = first-half spend per household; five decimal grand totals →
    // closed-form theta applied to arm aggregates (Experiment scaladoc).
    Entry(
      "ab_cuped",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val (lo, hi) = Retail.dayBounds(s, dir)
        val mid = lo.plusDays(
          java.time.temporal.ChronoUnit.DAYS.between(lo, hi) / 2)
        val perHh = tx.groupBy("household_key").agg(
          sum(when(col("day") <= lit(Date.valueOf(mid)),
            col("amount_paid")).otherwise(lit(0.0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("x"),
          sum(when(col("day") > lit(Date.valueOf(mid)),
            col("amount_paid")).otherwise(lit(0.0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("y"))
        val assigned = perHh.withColumn("arm",
          when(HashSplit.bucket(col("household_key"), 2) === 0,
            lit("control")).otherwise(lit("treatment")))
        Experiment.cuped(assigned).orderBy("arm")
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |gb2 AS (
        |  SELECT min(day) AS lo,
        |    min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS mid
        |  FROM tx),
        |ph AS (
        |  SELECT household_key,
        |    CAST(SUM(CAST(CASE WHEN t.day <= g.mid THEN amount_paid
        |      ELSE 0.0 END AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS x,
        |    CAST(SUM(CAST(CASE WHEN t.day > g.mid THEN amount_paid
        |      ELSE 0.0 END AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS y
        |  FROM tx t CROSS JOIN gb2 g
        |  GROUP BY household_key),
        |asg AS (
        |  SELECT *,
        |    CASE WHEN ${HashSplit.bucketSql("household_key", 2)} = 0
        |      THEN 'control' ELSE 'treatment' END AS arm
        |  FROM ph),
        |pooled AS (
        |  -- operands widened to DECIMAL(19,4): DuckDB executes the product
        |  -- in the wider physical type (int128), avoiding int64 overflow
        |  -- while keeping 19+19 = 38 within the max decimal width
        |  SELECT COUNT(*) AS n_all, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))) AS sxy,
        |    SUM(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(19,4))) AS sxx
        |  FROM asg),
        |th AS (
        |  SELECT
        |    CAST(sx AS DOUBLE) / CAST(n_all AS DOUBLE) AS mu_x,
        |    ((CAST(sxy AS DOUBLE) / CAST(n_all AS DOUBLE))
        |      - (CAST(sx AS DOUBLE) / CAST(n_all AS DOUBLE))
        |        * (CAST(sy AS DOUBLE) / CAST(n_all AS DOUBLE)))
        |    / ((CAST(sxx AS DOUBLE) / CAST(n_all AS DOUBLE))
        |      - (CAST(sx AS DOUBLE) / CAST(n_all AS DOUBLE))
        |        * (CAST(sx AS DOUBLE) / CAST(n_all AS DOUBLE))) AS theta
        |  FROM pooled),
        |arms AS (
        |  SELECT arm, COUNT(*) AS n, SUM(x) AS asx, SUM(y) AS asy
        |  FROM asg GROUP BY arm)
        |SELECT a.arm, a.n,
        |  ROUND(CAST(a.asy AS DOUBLE) / CAST(a.n AS DOUBLE), 9) AS mean_y,
        |  ROUND(CAST(a.asx AS DOUBLE) / CAST(a.n AS DOUBLE), 9) AS mean_x,
        |  ROUND((CAST(a.asy AS DOUBLE) / CAST(a.n AS DOUBLE))
        |    - t.theta * ((CAST(a.asx AS DOUBLE) / CAST(a.n AS DOUBLE))
        |      - t.mu_x), 9) AS mean_y_cuped,
        |  ROUND(t.theta, 9) AS theta
        |FROM arms a CROSS JOIN th t
        |ORDER BY arm""".stripMargin)),

    // Ratio-metric readout (spend per basket) with delta-method standard
    // errors per arm — six decimal totals per arm, double closing with
    // one fixed association (Experiment.ratioDelta scaladoc).
    Entry(
      "ab_ratio_delta",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val perHh = tx.groupBy("household_key").agg(
          countDistinct(col("basket_id")).cast("decimal(18,4)").as("x"),
          sum(col("amount_paid").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("y"))
        val assigned = perHh.withColumn("arm",
          when(HashSplit.bucket(col("household_key"), 2) === 0,
            lit("control")).otherwise(lit("treatment")))
        Experiment.ratioDelta(assigned).orderBy("arm")
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |hh AS (
        |  SELECT household_key,
        |    CAST(COUNT(DISTINCT basket_id) AS DECIMAL(18,4)) AS x,
        |    CAST(SUM(CAST(amount_paid AS DECIMAL(18,4)))
        |      AS DECIMAL(18,4)) AS y
        |  FROM tx GROUP BY household_key),
        |asg AS (
        |  SELECT *,
        |    CASE WHEN ${HashSplit.bucketSql("household_key", 2)} = 0
        |      THEN 'control' ELSE 'treatment' END AS arm
        |  FROM hh),
        |m AS (
        |  SELECT arm, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(CAST(x AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))) AS sxy,
        |    SUM(CAST(x AS DECIMAL(19,4)) * CAST(x AS DECIMAL(19,4))) AS sxx,
        |    SUM(CAST(y AS DECIMAL(19,4)) * CAST(y AS DECIMAL(19,4))) AS syy
        |  FROM asg GROUP BY arm),
        |d AS (
        |  SELECT arm, n,
        |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
        |    CAST(n AS DOUBLE) AS nd,
        |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu_x,
        |    CAST(sy AS DOUBLE) / CAST(sx AS DOUBLE) AS ratio,
        |    CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS var_y,
        |    CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS var_x,
        |    CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
        |      - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cov_xy
        |  FROM m)
        |SELECT arm, n, ROUND(sxd, 4) AS sum_x, ROUND(syd, 4) AS sum_y,
        |  ROUND(ratio, 9) AS ratio,
        |  ROUND(sqrt(greatest((var_y + ratio * ratio * var_x
        |    - 2.0 * ratio * cov_xy) / (mu_x * mu_x) / nd, 0.0)), 9) AS se
        |FROM d ORDER BY arm""".stripMargin)),

    // L-diversity audit next to the k-anonymity gate: a (store, week)
    // cell can pass k-anonymity (>= 5 distinct households) yet still
    // leak — if everyone in the cell bought the same commodity, group
    // membership reveals the sensitive value. Each distinct count runs
    // as its own pre-aggregated lineage (the feature family's
    // split-distinct pattern — no two-distinct Expand over the fact).
    Entry(
      "l_diversity_audit",
      (s, dir) => {
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val units = txc.select("store_id", "week_no", "household_key")
          .distinct()
          .groupBy("store_id", "week_no").agg(count(lit(1)).as("n_units"))
        val sens = txc.select("store_id", "week_no", "commodity_desc")
          .distinct()
          .groupBy("store_id", "week_no")
          .agg(count(lit(1)).as("n_sensitive"))
        units.join(sens, Seq("store_id", "week_no"))
          .select(col("store_id"), col("week_no"),
            col("n_units"), col("n_sensitive"),
            (col("n_units") >= 5).as("k_ok"),
            (col("n_sensitive") >= 3).as("l_ok"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |u AS (
        |  SELECT store_id, week_no, COUNT(*) AS n_units FROM (
        |    SELECT DISTINCT store_id, week_no, household_key FROM txc) t
        |  GROUP BY store_id, week_no),
        |sv AS (
        |  SELECT store_id, week_no, COUNT(*) AS n_sensitive FROM (
        |    SELECT DISTINCT store_id, week_no, commodity_desc FROM txc) t
        |  GROUP BY store_id, week_no)
        |SELECT u.store_id, u.week_no, u.n_units, sv.n_sensitive,
        |  u.n_units >= 5 AS k_ok, sv.n_sensitive >= 3 AS l_ok
        |FROM u JOIN sv ON u.store_id = sv.store_id
        |  AND u.week_no = sv.week_no""".stripMargin)),

    // K-anonymity suppression of a published spend aggregate over the
    // (mktsegment, nation) quasi-identifier; rare cells roll into
    // __OTHER__ with distinct-unit support re-derived, not summed
    // (KAnon scaladoc).
    Entry(
      "k_anon_suppress",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val cust = Catalog.table(s, dir, "customer")
          .select(col("c_custkey").as("household_key"),
            col("c_nationkey"), col("c_mktsegment").as("segment"))
        val nation = Catalog.table(s, dir, "nation")
          .select(col("n_nationkey").as("c_nationkey"),
            col("n_name").as("nation"))
        val df = tx.join(broadcast(cust), Seq("household_key"))
          .join(broadcast(nation), Seq("c_nationkey"))
        KAnon.suppress(df, Seq("segment", "nation"), "household_key",
          "amount_paid", k = 8)
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |facts AS (
        |  SELECT t.*, c.c_mktsegment AS segment, n.n_name AS nation
        |  FROM tx t
        |  JOIN customer c ON t.household_key = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |grouped AS (
        |  SELECT segment, nation,
        |    COUNT(DISTINCT household_key) AS n_units,
        |    SUM(CAST(amount_paid AS DECIMAL(18,4))) AS total_d
        |  FROM facts GROUP BY segment, nation),
        |kept AS (
        |  SELECT segment, nation, n_units,
        |    CAST(total_d AS DOUBLE) AS total
        |  FROM grouped WHERE n_units >= 8),
        |rare AS (SELECT segment, nation FROM grouped WHERE n_units < 8),
        |other AS (
        |  SELECT '__OTHER__' AS segment, '__OTHER__' AS nation,
        |    COUNT(DISTINCT f.household_key) AS n_units,
        |    CAST(SUM(CAST(f.amount_paid AS DECIMAL(18,4))) AS DOUBLE)
        |      AS total
        |  FROM facts f
        |  JOIN rare r ON f.segment = r.segment AND f.nation = r.nation
        |  HAVING COUNT(DISTINCT f.household_key) > 0)
        |SELECT * FROM kept UNION ALL SELECT * FROM other""".stripMargin)),

    // ε-DP released counts (ε = 1): distinct households per commodity +
    // seeded content-derived Laplace noise — the release is a pure
    // function of (data, seed), so the mechanism itself is hash-proven
    // cross-engine (Privacy scaladoc; n_exact rides for the audit only,
    // a real release publishes n_dp alone).
    Entry(
      "dp_release_counts",
      (s, dir) => {
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        graft.ops.Privacy.dpCounts(
          txc.select("commodity_desc", "household_key").distinct(),
          Seq("commodity_desc"), seed = "release-epoch-1", epsilonPct = 100)
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |u AS (SELECT DISTINCT commodity_desc, household_key FROM txc)
        |${graft.ops.Privacy.dpCountsSql("u", "commodity_desc",
            "release-epoch-1", 100)}""".stripMargin)),

    // ε-DP released spend (ε = 1, per-household contribution clipped to
    // 100.0000 money units per commodity so the sensitivity IS the clip):
    // decimal-exact clipped sums cross to double as scale-0 integers,
    // noise seeded as above.
    Entry(
      "dp_release_spend",
      (s, dir) => {
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        graft.ops.Privacy.dpSums(txc, Seq("commodity_desc"),
          "household_key", "amount_paid", clip4 = 1000000L,
          seed = "release-epoch-1", epsilonPct = 100)
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |${graft.ops.Privacy.dpSumsSql("txc", "commodity_desc",
            "household_key", "amount_paid", 1000000L,
            "release-epoch-1", 100).replaceFirst("^WITH ", "")}"""
        .stripMargin)),

    // Shuffle-key skew diagnostics over the fact's three join keys —
    // every statistic map-side combinable, no sort/window/percentile
    // (KeySkew scaladoc), so the profile never becomes the skew problem
    // it measures.
    Entry(
      "join_key_skew",
      (s, dir) => graft.ops.KeySkew.profile(TransactionsAdj(s, dir),
        Seq("household_key", "product_id", "basket_id"), hotFactor = 10.0),
      Some {
        def one(k: String) =
          s"""SELECT '$k' AS key_name, rows, n_keys, max_freq,
             |  ROUND(CAST(rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 9)
             |    AS avg_freq,
             |  ROUND(CAST(max_freq AS DOUBLE) / CAST(rows AS DOUBLE), 9)
             |    AS top_share,
             |  ROUND(CAST(max_freq AS DOUBLE) * CAST(n_keys AS DOUBLE)
             |    / CAST(rows AS DOUBLE), 9) AS skew_ratio,
             |  (SELECT COUNT(*) FROM
             |    (SELECT COUNT(*) AS f FROM transactions_adj GROUP BY $k) ff
             |    CROSS JOIN (SELECT CAST(SUM(f) AS BIGINT) AS rows,
             |        COUNT(*) AS n_keys FROM
             |      (SELECT COUNT(*) AS f FROM transactions_adj GROUP BY $k) g)
             |      st
             |    WHERE CAST(ff.f AS DOUBLE) * CAST(st.n_keys AS DOUBLE)
             |      >= 10.0 * CAST(st.rows AS DOUBLE)) AS n_hot_keys
             |FROM (
             |  SELECT CAST(SUM(f) AS BIGINT) AS rows, COUNT(*) AS n_keys,
             |    CAST(MAX(f) AS BIGINT) AS max_freq
             |  FROM (SELECT COUNT(*) AS f FROM transactions_adj GROUP BY $k)
             |    t) s""".stripMargin
        s"""WITH ${Oracle.txAdj}
           |${one("household_key")}
           |UNION ALL
           |${one("product_id")}
           |UNION ALL
           |${one("basket_id")}""".stripMargin
      }),

    // Robust per-commodity outlier report: exact interpolated median +
    // MAD (both via the sort-based ExactPercentiles, rounded to 6 dp
    // before any downstream comparison so the threshold predicate sees
    // identical doubles on both engines), outliers at the standard
    // 3 × 1.4826 × MAD band.
    Entry(
      "spend_mad_outliers",
      (s, dir) => {
        val txc = FeatureBuilder.txWithCommodity(s, dir)
          .select(col("commodity_desc"), col("amount_paid"))
        val med = graft.ops.ExactPercentiles.perGroup(txc,
          Seq("commodity_desc"), "amount_paid", Seq("m" -> 0.5))
          .select(col("commodity_desc"), round(col("m"), 6).as("med"))
        val dev = txc.join(broadcast(med), Seq("commodity_desc"))
          .withColumn("absdev", abs(col("amount_paid") - col("med")))
        val mad = graft.ops.ExactPercentiles.perGroup(dev,
          Seq("commodity_desc"), "absdev", Seq("m" -> 0.5))
          .select(col("commodity_desc"), round(col("m"), 6).as("mad"))
        dev.join(broadcast(mad), Seq("commodity_desc"))
          .groupBy("commodity_desc")
          .agg(
            max(col("med")).as("median"), max(col("mad")).as("mad"),
            count(lit(1)).as("n"),
            count(when(col("absdev") > lit(3.0) * lit(1.4826) * col("mad"),
              lit(1))).as("n_outliers"))
          .withColumn("outlier_rate",
            round(col("n_outliers").cast("double") / col("n").cast("double"),
              9))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |med AS (
        |  SELECT commodity_desc,
        |    ROUND(quantile_cont(amount_paid, 0.5), 6) AS med
        |  FROM txc GROUP BY commodity_desc),
        |dev AS (
        |  SELECT t.commodity_desc, ABS(t.amount_paid - m.med) AS absdev,
        |    m.med
        |  FROM txc t JOIN med m ON t.commodity_desc = m.commodity_desc),
        |mad AS (
        |  SELECT commodity_desc, ROUND(quantile_cont(absdev, 0.5), 6) AS mad
        |  FROM dev GROUP BY commodity_desc)
        |SELECT d.commodity_desc, MAX(d.med) AS median, MAX(a.mad) AS mad,
        |  COUNT(*) AS n,
        |  CAST(COUNT(CASE WHEN d.absdev > 3.0 * 1.4826 * a.mad THEN 1 END)
        |    AS BIGINT) AS n_outliers,
        |  ROUND(CAST(COUNT(CASE WHEN d.absdev > 3.0 * 1.4826 * a.mad
        |      THEN 1 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
        |    AS outlier_rate
        |FROM dev d JOIN mad a ON d.commodity_desc = a.commodity_desc
        |GROUP BY d.commodity_desc""".stripMargin)),

    // Group-consistent k-fold assignment for cross-validation: every
    // label row of a household lands in the same fold (the content-hash
    // split contract — no leakage of a household across folds), with the
    // per-fold balance report a CV harness checks before training.
    Entry(
      "fold_balance",
      (s, dir) => {
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val (_, cur) = Retail.dayBounds(s, dir)
        val labels = LabelBuilder.labels(txc,
          Commodities.commoditiesToScore(s, dir),
          cur.minusDays(LabelBuilder.horizonDays))
        labels
          .withColumn("fold", HashSplit.bucket(col("household_key"), 5))
          .groupBy("fold")
          .agg(
            count(lit(1)).as("n_rows"),
            countDistinct(col("household_key")).as("n_households"),
            sum(col("purchased")).cast("long").as("n_pos"),
            round(sum(col("purchased")).cast("double")
              / count(lit(1)).cast("double"), 9).as("pos_rate"))
      },
      Some(s"""WITH ${Oracle.txCommodity}, ${TrainScoreQueries.labelsCtes}
        |SELECT ${HashSplit.bucketSql("household_key", 5)} AS fold,
        |  COUNT(*) AS n_rows,
        |  COUNT(DISTINCT household_key) AS n_households,
        |  CAST(SUM(purchased) AS BIGINT) AS n_pos,
        |  ROUND(CAST(SUM(purchased) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 9)
        |    AS pos_rate
        |FROM labels
        |GROUP BY ${HashSplit.bucketSql("household_key", 5)}""".stripMargin)),

    // Fixed-iteration PageRank over the product co-occurrence graph —
    // the iterative-join family (PageRank scaladoc): one join + one hash
    // aggregate per round, contributions quantized to DECIMAL(28,15)
    // before each per-dst sum so every iteration is bit-identical on
    // both engines; no tolerance anywhere.
    Entry(
      "product_pagerank",
      (s, dir) => {
        val pairs = BasketPairs.pairCounts(TransactionsAdj(s, dir),
          minSupport = 15).filter(col("n_pair") >= 3)
        val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
          .union(pairs.select(col("pb"), col("pa")))
          .distinct()
        graft.ops.PageRank.run(edges, iterations = 3)
          .orderBy(col("rank").desc, col("node"))
          .limit(20)
      },
      Some {
        def iter(k: Int): String =
          s"""c$k AS (
             |  SELECT e.dst AS node,
             |    SUM(CAST(ROUND(r.rank / CAST(d.deg AS DOUBLE), 15)
             |      AS DECIMAL(28,15))) AS in_mass
             |  FROM r${k - 1} r
             |  JOIN deg d ON r.node = d.src
             |  JOIN edges e ON e.src = d.src
             |  GROUP BY e.dst),
             |r$k AS (
             |  SELECT n.node,
             |    ROUND((1.0 - 0.85) / CAST(nn.n AS DOUBLE)
             |      + 0.85 * COALESCE(CAST(c.in_mass AS DOUBLE), 0.0), 15)
             |      AS rank
             |  FROM nodes n CROSS JOIN nn
             |  LEFT JOIN c$k c ON n.node = c.node)""".stripMargin
        s"""WITH ${Oracle.txAdj},
           |items AS (
           |  SELECT DISTINCT basket_id, product_id FROM transactions_adj),
           |freq AS (
           |  SELECT product_id, count(*) AS n_baskets
           |  FROM items GROUP BY product_id HAVING count(*) >= 15),
           |pruned AS (
           |  SELECT i.basket_id, i.product_id
           |  FROM items i JOIN freq f ON i.product_id = f.product_id),
           |cpairs AS (
           |  SELECT a.product_id AS pa, b.product_id AS pb, count(*) AS np
           |  FROM pruned a JOIN pruned b
           |    ON a.basket_id = b.basket_id AND a.product_id < b.product_id
           |  GROUP BY 1, 2 HAVING count(*) >= 3),
           |edges AS (
           |  SELECT pa AS src, pb AS dst FROM cpairs
           |  UNION
           |  SELECT pb, pa FROM cpairs),
           |nodes AS (
           |  SELECT DISTINCT src AS node FROM (
           |    SELECT src FROM edges UNION ALL SELECT dst FROM edges) t),
           |nn AS (SELECT COUNT(*) AS n FROM nodes),
           |deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
           |r0 AS (
           |  SELECT node, ROUND(1.0 / CAST(nn.n AS DOUBLE), 15) AS rank
           |  FROM nodes CROSS JOIN nn),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT node, rank FROM r3
           |ORDER BY rank DESC, node LIMIT 20""".stripMargin
      }),

    // Per-node triangle counts + local clustering coefficient over the
    // same co-purchase graph — degree-oriented enumeration (O(m^1.5)
    // total wedge work, skew-proof; Triangles scaladoc). The oracle
    // enumerates each triangle once via the canonical pa<pb pair table.
    Entry(
      "triangle_count",
      (s, dir) => {
        val pairs = BasketPairs.pairCounts(TransactionsAdj(s, dir),
          minSupport = 15).filter(col("n_pair") >= 3)
        graft.ops.Triangles.perNode(pairs.select("pa", "pb"))
      },
      Some(s"""WITH ${Oracle.txAdj},
        |items AS (
        |  SELECT DISTINCT basket_id, product_id FROM transactions_adj),
        |freq AS (
        |  SELECT product_id, count(*) AS n_baskets
        |  FROM items GROUP BY product_id HAVING count(*) >= 15),
        |pruned AS (
        |  SELECT i.basket_id, i.product_id
        |  FROM items i JOIN freq f ON i.product_id = f.product_id),
        |cpairs AS (
        |  SELECT a.product_id AS pa, b.product_id AS pb
        |  FROM pruned a JOIN pruned b
        |    ON a.basket_id = b.basket_id AND a.product_id < b.product_id
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |deg AS (
        |  SELECT node, COUNT(*) AS deg FROM (
        |    SELECT pa AS node FROM cpairs
        |    UNION ALL SELECT pb FROM cpairs) t
        |  GROUP BY node),
        |tri AS (
        |  SELECT a.pa AS x, a.pb AS y, b.pb AS z
        |  FROM cpairs a
        |  JOIN cpairs b ON a.pb = b.pa
        |  JOIN cpairs c ON c.pa = a.pa AND c.pb = b.pb),
        |tcnt AS (
        |  SELECT node, COUNT(*) AS t FROM (
        |    SELECT x AS node FROM tri
        |    UNION ALL SELECT y FROM tri
        |    UNION ALL SELECT z FROM tri) u
        |  GROUP BY node)
        |SELECT d.node, CAST(d.deg AS BIGINT) AS deg,
        |  CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_triangles,
        |  CASE WHEN d.deg >= 2 THEN
        |    ROUND(2.0 * CAST(COALESCE(tc.t, 0) AS DOUBLE) /
        |      (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0)), 9)
        |  ELSE 0.0 END AS clustering_coeff
        |FROM deg d LEFT JOIN tcnt tc ON d.node = tc.node""".stripMargin)),

    // Classical seasonal decomposition of the daily spend series:
    // trend = centered 7-day moving average, seasonal = day-of-week mean
    // of the detrended values, residual = the rest. The windows and the
    // seasonal join all run on the DAY table — calendar-bounded (a few
    // thousand rows at any corpus size), so the unpartitioned window is
    // a deliberate non-issue; the only data-sized work is the one daily
    // hash aggregate. Day-of-week is pure day-number arithmetic (dn % 7)
    // — no engine-specific weekday convention.
    //
    // Determinism: series magnitudes (~1e6) put 9-dp double rounding
    // past the 17-significant-digit cliff, where the two engines' round
    // implementations diverge at the last ulp (observed on ~5% of days).
    // So NOTHING here rounds: all arithmetic runs in exact integer
    // 1e-4 units (u = spend·10⁴; trend_u = half-up (2·Σu+7)//14, an
    // integer identity; detr_u exact), and each output is the identical
    // chain of double ops on those exact integers.
    Entry(
      "spend_seasonal_decompose",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val tx = TransactionsAdj(s, dir)
        val daily = tx.groupBy("day")
          .agg((sum(col("amount_paid").cast("decimal(18,4)")) * 10000)
            .cast("long").as("u"))
          .withColumn("dn",
            datediff(col("day"), lit("1992-01-01")).cast("long"))
          .withColumn("dow", (col("dn") % 7).cast("long"))
        // no partitionBy: `daily` holds one row per day with sales, so
        // the single-task window is calendar-sized at any fact size
        val w = Window.orderBy(col("dn")).rangeBetween(-3, 3)
        val trended = daily
          .withColumn("n_win", count(lit(1)).over(w))
          .withColumn("su", sum(col("u")).over(w))
          .filter(col("n_win") === 7)
          .select(col("day"), col("dow"), col("u"),
            expr("(2 * su + 7) div 14").as("tu"))
          .withColumn("detr_u", col("u") - col("tu"))
        val seasonal = trended.groupBy("dow").agg(
          sum(col("detr_u")).as("snum"), count(lit(1)).as("sn"))
        trended.join(broadcast(seasonal), Seq("dow"))
          .select(col("day"), col("dow"),
            (col("u").cast("double") / lit(10000.0)).as("spend"),
            (col("tu").cast("double") / lit(10000.0)).as("trend"),
            (col("snum").cast("double") / col("sn").cast("double")
              / lit(10000.0)).as("seasonal"),
            (col("u").cast("double") / lit(10000.0)
              - col("tu").cast("double") / lit(10000.0)
              - col("snum").cast("double") / col("sn").cast("double")
                / lit(10000.0)).as("residual"))
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |daily AS (
        |  SELECT day,
        |    CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) * 10000
        |      AS BIGINT) AS u,
        |    CAST(day - DATE '1992-01-01' AS BIGINT) AS dn
        |  FROM tx GROUP BY day),
        |trended AS (
        |  SELECT day, dn % 7 AS dow, u,
        |    (2 * SUM(u) OVER w + 7) // 14 AS tu,
        |    COUNT(*) OVER w AS n_win
        |  FROM daily
        |  WINDOW w AS (ORDER BY dn RANGE BETWEEN 3 PRECEDING
        |    AND 3 FOLLOWING)),
        |t2 AS (
        |  SELECT day, dow, u, CAST(tu AS BIGINT) AS tu,
        |    CAST(u - tu AS BIGINT) AS detr_u
        |  FROM trended WHERE n_win = 7),
        |seasonal AS (
        |  SELECT dow, CAST(SUM(detr_u) AS BIGINT) AS snum,
        |    COUNT(*) AS sn
        |  FROM t2 GROUP BY dow)
        |SELECT t.day, t.dow,
        |  CAST(t.u AS DOUBLE) / 10000.0 AS spend,
        |  CAST(t.tu AS DOUBLE) / 10000.0 AS trend,
        |  CAST(s.snum AS DOUBLE) / CAST(s.sn AS DOUBLE) / 10000.0
        |    AS seasonal,
        |  CAST(t.u AS DOUBLE) / 10000.0
        |    - CAST(t.tu AS DOUBLE) / 10000.0
        |    - CAST(s.snum AS DOUBLE) / CAST(s.sn AS DOUBLE) / 10000.0
        |    AS residual
        |FROM t2 t JOIN seasonal s ON t.dow = s.dow""".stripMargin)),

    // Week-over-week rank movement: each week's commodities ranked by
    // spend, joined to their previous-week rank (lag over the week
    // sequence). Both windows run on the weekly table — (weeks ×
    // commodities)-bounded, never the fact — after one daily-grain hash
    // aggregate; row_number with a full tiebreak keeps ranks
    // deterministic under equal spend.
    Entry(
      "rank_movers",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val weekly = txc.groupBy("week_no", "commodity_desc")
          .agg(sum(col("amount_paid").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("spend_d"))
        val rw = Window.partitionBy("week_no")
          .orderBy(col("spend_d").desc, col("commodity_desc"))
        val lw = Window.partitionBy("commodity_desc").orderBy(col("week_no"))
        weekly
          .withColumn("rnk", row_number().over(rw).cast("long"))
          .withColumn("prev_rank", lag(col("rnk"), 1).over(lw))
          .filter(col("prev_rank").isNotNull)
          .select(col("week_no"), col("commodity_desc"),
            col("spend_d").cast("double").as("spend"),
            col("rnk"), col("prev_rank"),
            (col("prev_rank") - col("rnk")).as("rank_delta"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |weekly AS (
        |  SELECT week_no, commodity_desc,
        |    CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DECIMAL(18,4))
        |      AS spend_d
        |  FROM txc GROUP BY week_no, commodity_desc),
        |ranked AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY week_no
        |      ORDER BY spend_d DESC, commodity_desc) AS BIGINT) AS rnk
        |  FROM weekly),
        |lagged AS (
        |  SELECT *, LAG(rnk) OVER (PARTITION BY commodity_desc
        |    ORDER BY week_no) AS prev_rank
        |  FROM ranked)
        |SELECT week_no, commodity_desc, CAST(spend_d AS DOUBLE) AS spend,
        |  rnk, prev_rank, prev_rank - rnk AS rank_delta
        |FROM lagged WHERE prev_rank IS NOT NULL""".stripMargin)),

    // Markov basket-to-basket transition counts: consecutive baskets per
    // household (lead over the household's basket sequence — partitions
    // bounded by a household's basket count, never the fact table), then
    // commodity pairs across the (basket, next) boundary. The sequence-
    // mining primitive behind "what do they buy next" analytics.
    Entry(
      "basket_transitions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val baskets = txc.select("household_key", "basket_id", "day")
          .distinct()
        val w = Window.partitionBy("household_key")
          .orderBy(col("day"), col("basket_id"))
        val seq2 = baskets
          .withColumn("next_basket", lead(col("basket_id"), 1).over(w))
          .filter(col("next_basket").isNotNull)
          .select("basket_id", "next_basket")
        val items = txc.select("basket_id", "commodity_desc").distinct()
        seq2
          .join(items.withColumnRenamed("commodity_desc", "from_commodity"),
            Seq("basket_id"))
          .join(items
            .withColumnRenamed("basket_id", "next_basket")
            .withColumnRenamed("commodity_desc", "to_commodity"),
            Seq("next_basket"))
          .groupBy("from_commodity", "to_commodity")
          .agg(count(lit(1)).as("n_transitions"))
          .orderBy(col("n_transitions").desc, col("from_commodity"),
            col("to_commodity"))
          .limit(50)
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |baskets AS (
        |  SELECT DISTINCT household_key, basket_id, day FROM txc),
        |seq2 AS (
        |  SELECT basket_id, next_basket FROM (
        |    SELECT basket_id,
        |      LEAD(basket_id) OVER (PARTITION BY household_key
        |        ORDER BY day, basket_id) AS next_basket
        |    FROM baskets) t
        |  WHERE next_basket IS NOT NULL),
        |items AS (SELECT DISTINCT basket_id, commodity_desc FROM txc)
        |SELECT f.commodity_desc AS from_commodity,
        |  n.commodity_desc AS to_commodity,
        |  COUNT(*) AS n_transitions
        |FROM seq2 s
        |JOIN items f ON f.basket_id = s.basket_id
        |JOIN items n ON n.basket_id = s.next_basket
        |GROUP BY 1, 2
        |ORDER BY n_transitions DESC, from_commodity, to_commodity
        |LIMIT 50""".stripMargin)),

    // Rolling-window anomaly detection: per-commodity daily spend
    // z-scored against its own trailing 28-day baseline (RANGE frame on
    // the day number — excludes the current day). Mean/variance close
    // over exact decimal window sums, so both engines z-score identical
    // doubles; variance clamped at 0 against negative rounding residue.
    Entry(
      "spend_anomaly_zscore",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val daily = txc.groupBy("commodity_desc", "day")
          .agg(sum(col("amount_paid").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("spend"))
          .withColumn("dn", datediff(col("day"), lit("1992-01-01")))
          // The daily frame is KB-sized (|commodities| × |days|) but the
          // trailing-window pass over it is the query's CPU (three RANGE
          // frames of decimal sliding sums) — AQE's byte-based coalescing
          // collapses the window exchange to ONE task and serializes it
          // (profiled: two ~0.7 s single-task stages at sf0.1). Pin the
          // window's partitioning at the session's shuffle-partitions knob
          // (REPARTITION_BY_NUM is exempt from coalescing); the window
          // reuses it, so no extra exchange is added.
          .repartition(s.sessionState.conf.numShufflePartitions,
            col("commodity_desc"))
        val w = Window.partitionBy("commodity_desc").orderBy(col("dn"))
          .rangeBetween(-28, -1)
        val stats = daily
          .withColumn("n_base", count(lit(1)).over(w))
          .withColumn("s1", sum(col("spend")).over(w))
          .withColumn("s2", sum(col("spend").cast("decimal(19,4)")
            * col("spend").cast("decimal(19,4)")).over(w))
          .filter(col("n_base") >= 14)
        stats.select(
          col("commodity_desc"), col("day"),
          col("spend").cast("double").as("spend"),
          col("n_base"),
          round(col("s1").cast("double") / col("n_base").cast("double"), 9)
            .as("trailing_mean"),
          round(
            when(sqrt(greatest(
              col("s2").cast("double") / col("n_base").cast("double")
                - (col("s1").cast("double") / col("n_base").cast("double"))
                * (col("s1").cast("double") / col("n_base").cast("double")),
              lit(0.0))) =!= 0.0,
              (col("spend").cast("double")
                - col("s1").cast("double") / col("n_base").cast("double"))
                / sqrt(greatest(
                  col("s2").cast("double") / col("n_base").cast("double")
                    - (col("s1").cast("double") / col("n_base").cast("double"))
                    * (col("s1").cast("double") / col("n_base").cast("double")),
                  lit(0.0))))
              .otherwise(lit(0.0)), 6).as("z"))
          .filter(abs(col("z")) > 3.0)
          .orderBy(col("commodity_desc"), col("day"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |daily AS (
        |  SELECT commodity_desc, day,
        |    CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DECIMAL(18,4))
        |      AS spend,
        |    day - DATE '1992-01-01' AS dn
        |  FROM txc GROUP BY commodity_desc, day),
        |st AS (
        |  SELECT commodity_desc, day, spend, dn,
        |    COUNT(*) OVER tw AS n_base,
        |    SUM(spend) OVER tw AS s1,
        |    SUM(CAST(spend AS DECIMAL(19,4)) * CAST(spend AS DECIMAL(19,4)))
        |      OVER tw AS s2
        |  FROM daily
        |  WINDOW tw AS (PARTITION BY commodity_desc ORDER BY dn
        |    RANGE BETWEEN 28 PRECEDING AND 1 PRECEDING)),
        |zs AS (
        |  SELECT commodity_desc, day,
        |    CAST(spend AS DOUBLE) AS spend,
        |    CAST(n_base AS BIGINT) AS n_base,
        |    ROUND(CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE), 9)
        |      AS trailing_mean,
        |    ROUND(CASE WHEN SQRT(GREATEST(
        |        CAST(s2 AS DOUBLE) / CAST(n_base AS DOUBLE)
        |          - (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
        |          * (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE)), 0.0))
        |        <> 0.0
        |      THEN (CAST(spend AS DOUBLE)
        |          - CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
        |        / SQRT(GREATEST(
        |          CAST(s2 AS DOUBLE) / CAST(n_base AS DOUBLE)
        |            - (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE))
        |            * (CAST(s1 AS DOUBLE) / CAST(n_base AS DOUBLE)), 0.0))
        |      ELSE 0.0 END, 6) AS z
        |  FROM st WHERE n_base >= 14)
        |SELECT * FROM zs WHERE ABS(z) > 3.0
        |ORDER BY commodity_desc, day""".stripMargin)),

    // Cluster-robust jackknife CI for mean household spend: one hash
    // aggregate over units, then all leave-one-bucket algebra on the
    // 10-row bucket table (Jackknife scaladoc). No resampling RNG —
    // buckets are content-hash assigned, so the CI is rerun-stable and
    // engine-exact.
    Entry(
      "jackknife_ci",
      (s, dir) => {
        val perHh = TransactionsAdj(s, dir)
          .groupBy("household_key")
          .agg(sum(col("amount_paid").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("spend"))
        graft.ops.Jackknife.meanCi(perHh, "household_key", "spend", g = 10)
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |ph AS (
        |  SELECT household_key,
        |    CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DECIMAL(18,4))
        |      AS spend
        |  FROM tx GROUP BY household_key),
        |bk AS (
        |  SELECT ${HashSplit.bucketSql("household_key", 10)} AS b,
        |    CAST(SUM(CAST(spend AS DECIMAL(18,4))) AS DECIMAL(28,4)) AS s_i,
        |    COUNT(*) AS n_i
        |  FROM ph GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(s_i) AS DECIMAL(28,4)) AS s,
        |    CAST(SUM(n_i) AS BIGINT) AS n, COUNT(*) AS g_eff
        |  FROM bk),
        |th AS (
        |  SELECT s, n, g_eff,
        |    CAST(ROUND(
        |      ROUND(CAST(s - s_i AS DOUBLE) / CAST(n - n_i AS DOUBLE), 9)
        |        - ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9), 2)
        |      AS DECIMAL(12,2)) AS dev
        |  FROM bk CROSS JOIN tot),
        |st AS (
        |  SELECT s, n, g_eff, SUM(dev) AS d_sum,
        |    SUM(dev * dev) AS d_sumsq
        |  FROM th GROUP BY s, n, g_eff),
        |res AS (
        |  SELECT g_eff AS g, n AS n_units,
        |    ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mean,
        |    ROUND(SQRT(GREATEST(
        |      (1.0 - 1.0 / CAST(g_eff AS DOUBLE)) *
        |        (CAST(d_sumsq AS DOUBLE)
        |          - (CAST(d_sum AS DOUBLE) * CAST(d_sum AS DOUBLE))
        |            / CAST(g_eff AS DOUBLE)),
        |      0.0)), 9) AS se
        |  FROM st)
        |SELECT g, n_units, mean, se,
        |  ROUND(mean - 1.96 * se, 9) AS ci_lo,
        |  ROUND(mean + 1.96 * se, 9) AS ci_hi
        |FROM res""".stripMargin)),

    // Right-to-be-forgotten cascade audit: a content-hash-selected forget
    // set of households, the per-table delete counts a GDPR erasure run
    // reports. Forget membership is a broadcast semi/anti join per table
    // — the facts are scanned once each, never collected.
    Entry(
      "rtbf_delete_audit",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val (_, cur) = Retail.dayBounds(s, dir)
        val labels = LabelBuilder.labels(txc,
          Commodities.commoditiesToScore(s, dir),
          cur.minusDays(LabelBuilder.horizonDays))
        val forget = tx.select("household_key").distinct()
          .filter(HashSplit.bucket(col("household_key"), 50) === 0)
        def audit(name: String, df: org.apache.spark.sql.DataFrame) = {
          val total = df.agg(count(lit(1)).as("rows_total"))
          val del = df.join(broadcast(forget), Seq("household_key"),
            "left_semi").agg(count(lit(1)).as("rows_deleted"))
          total.crossJoin(del).select(
            lit(name).as("table_name"), col("rows_total"),
            col("rows_deleted"),
            (col("rows_total") - col("rows_deleted")).as("rows_remaining"))
        }
        val n = forget.agg(count(lit(1)).as("n_forgotten"))
        audit("transactions_adj", tx)
          .unionByName(audit("labels", labels))
          .crossJoin(broadcast(n))
      },
      Some(s"""WITH ${Oracle.txCommodity}, ${TrainScoreQueries.labelsCtes},
        |forget AS (
        |  SELECT household_key FROM (
        |    SELECT DISTINCT household_key FROM txc) h
        |  WHERE ${HashSplit.bucketSql("household_key", 50)} = 0),
        |nf AS (SELECT COUNT(*) AS n_forgotten FROM forget)
        |SELECT 'transactions_adj' AS table_name,
        |  (SELECT COUNT(*) FROM txc) AS rows_total,
        |  (SELECT COUNT(*) FROM txc
        |    WHERE household_key IN (SELECT household_key FROM forget))
        |    AS rows_deleted,
        |  (SELECT COUNT(*) FROM txc)
        |    - (SELECT COUNT(*) FROM txc
        |      WHERE household_key IN (SELECT household_key FROM forget))
        |    AS rows_remaining,
        |  nf.n_forgotten
        |FROM nf
        |UNION ALL
        |SELECT 'labels',
        |  (SELECT COUNT(*) FROM labels),
        |  (SELECT COUNT(*) FROM labels
        |    WHERE household_key IN (SELECT household_key FROM forget)),
        |  (SELECT COUNT(*) FROM labels)
        |    - (SELECT COUNT(*) FROM labels
        |      WHERE household_key IN (SELECT household_key FROM forget)),
        |  nf.n_forgotten
        |FROM nf""".stripMargin)),

    // Recommendation coverage/concentration: top-3 commodities per
    // household from the deterministic basket-share score, then the
    // catalog-side view — how concentrated the recommendations are
    // (share + cumulative share by popularity rank). The WindowGroupLimit
    // rank filter keeps map-side top-3s before any exchange.
    Entry(
      "rec_coverage",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val (top3, _) = basketShareRecs(s, dir, k = 3)
        val byCommodity = top3.groupBy("commodity_desc")
          .agg(count(lit(1)).as("n_recs"))
        val tot = byCommodity.agg(sum(col("n_recs")).cast("long")
          .as("total_recs"))
        // no partitionBy: `byCommodity` holds one row per recommended
        // commodity (a dimension, |commodities| rows), so the single-task
        // rank and running share run over catalog-sized input
        val rankW = Window.orderBy(col("n_recs").desc, col("commodity_desc"))
        byCommodity.crossJoin(broadcast(tot))
          .withColumn("pop_rank", row_number().over(rankW).cast("long"))
          .withColumn("rec_share",
            round(col("n_recs").cast("double")
              / col("total_recs").cast("double"), 9))
          .withColumn("cum_share",
            round(sum(col("n_recs")).over(
              rankW.rowsBetween(Window.unboundedPreceding, 0))
              .cast("double") / col("total_recs").cast("double"), 9))
          .select("commodity_desc", "n_recs", "pop_rank", "rec_share",
            "cum_share")
      },
      Some(s"""WITH ${Oracle.txCommodity}, gb AS (SELECT max(day) AS cur FROM txc),
        |${TrainScoreQueries.ctsCte},
        |${recsCtes(3)},
        |bc AS (
        |  SELECT commodity_desc, COUNT(*) AS n_recs
        |  FROM recs GROUP BY commodity_desc),
        |tot AS (SELECT CAST(SUM(n_recs) AS BIGINT) AS total_recs FROM bc)
        |SELECT commodity_desc, n_recs,
        |  CAST(ROW_NUMBER() OVER (ORDER BY n_recs DESC, commodity_desc)
        |    AS BIGINT) AS pop_rank,
        |  ROUND(CAST(n_recs AS DOUBLE) / CAST(t.total_recs AS DOUBLE), 9)
        |    AS rec_share,
        |  ROUND(CAST(CAST(SUM(n_recs) OVER (ORDER BY n_recs DESC,
        |      commodity_desc ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
        |      ROW) AS BIGINT) AS DOUBLE) / CAST(t.total_recs AS DOUBLE), 9)
        |    AS cum_share
        |FROM bc CROSS JOIN tot t""".stripMargin)),

    // Walk-forward (time-ordered) CV splits: three folds stepping 60 days
    // back from the horizon, each training on all history ≤ cutoff and
    // validating on the next 30 days — computed as ONE conditional
    // aggregation pass over the fact, melted to long form.
    Entry(
      "time_split",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val (_, hi) = Retail.dayBounds(s, dir)
        val folds = (0 until 3).map(k => hi.minusDays(30 + 60L * k))
        val aggs = folds.zipWithIndex.flatMap { case (c, k) =>
          val cd = lit(Date.valueOf(c))
          val vEnd = lit(Date.valueOf(c.plusDays(30)))
          Seq(
            count(when(col("day") <= cd, lit(1))).as(s"train_$k"),
            count(when(col("day") > cd && col("day") <= vEnd, lit(1)))
              .as(s"valid_$k"))
        }
        val one = tx.agg(aggs.head, aggs.tail: _*)
        val stackArgs = folds.indices.map { k =>
          s"'${folds(k)}', train_$k, valid_$k"
        }.mkString(", ")
        one.select(expr(
          s"stack(3, $stackArgs) AS (cutoff_day, train_rows, valid_rows)"))
          .select(col("cutoff_day").cast("date").as("cutoff_day"),
            col("train_rows"), col("valid_rows"))
      },
      Some {
        val folds = Seq(30, 90, 150)
        val rows = folds.map { d =>
          s"""SELECT g.cur - $d AS cutoff_day,
             |  (SELECT COUNT(*) FROM tx WHERE day <= g.cur - $d)
             |    AS train_rows,
             |  (SELECT COUNT(*) FROM tx
             |    WHERE day > g.cur - $d AND day <= g.cur - ${d - 30})
             |    AS valid_rows
             |FROM g2 g""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH ${Oracle.txAdjFull},
           |g2 AS (SELECT max(day) AS cur FROM tx)
           |$rows""".stripMargin
      }),

    // Exact grouped Pearson / OLS slope between in-store discount and
    // units (price-sensitivity read): two-pass centered decimal moments
    // (Corr scaladoc) — the deterministic replacement for the built-in
    // corr()'s order-dependent double accumulation.
    Entry(
      "price_quantity_corr",
      (s, dir) => graft.ops.Corr.pearsonByGroup(
        FeatureBuilder.txWithCommodity(s, dir)
          .select(col("commodity_desc"), col("instore_discount"),
            col("units")),
        Seq("commodity_desc"), "instore_discount", "units"),
      Some(s"""WITH ${Oracle.txCommodity},
        |q AS (
        |  SELECT commodity_desc,
        |    CAST(instore_discount AS DECIMAL(18,6)) AS x,
        |    CAST(units AS DECIMAL(18,6)) AS y
        |  FROM txc),
        |means AS (
        |  SELECT commodity_desc, COUNT(*) AS n,
        |    CAST(ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |      AS DECIMAL(12,6)) AS mx,
        |    CAST(ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |      AS DECIMAL(12,6)) AS my
        |  FROM q GROUP BY commodity_desc),
        |mom AS (
        |  SELECT q.commodity_desc, m.n, m.mx, m.my,
        |    -- first operand widened to DECIMAL(19,6): int128 physical
        |    -- type, or DuckDB multiplies in int64 and overflows
        |    SUM(CAST(q.x - m.mx AS DECIMAL(19,6))
        |      * CAST(q.y - m.my AS DECIMAL(16,6))) AS sxy,
        |    SUM(CAST(q.x - m.mx AS DECIMAL(19,6))
        |      * CAST(q.x - m.mx AS DECIMAL(16,6))) AS sxx,
        |    SUM(CAST(q.y - m.my AS DECIMAL(19,6))
        |      * CAST(q.y - m.my AS DECIMAL(16,6))) AS syy
        |  FROM q JOIN means m ON q.commodity_desc = m.commodity_desc
        |  GROUP BY q.commodity_desc, m.n, m.mx, m.my)
        |SELECT commodity_desc, n,
        |  CAST(mx AS DOUBLE) AS mean_x, CAST(my AS DOUBLE) AS mean_y,
        |  ROUND(CASE WHEN SQRT(CAST(sxx AS DOUBLE)) * SQRT(CAST(syy AS DOUBLE))
        |      <> 0.0
        |    THEN CAST(sxy AS DOUBLE)
        |      / (SQRT(CAST(sxx AS DOUBLE)) * SQRT(CAST(syy AS DOUBLE)))
        |    END, 9) AS r,
        |  ROUND(CASE WHEN CAST(sxx AS DOUBLE) <> 0.0
        |    THEN CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE) END, 9) AS slope
        |FROM mom""".stripMargin)),

    // Inter-purchase interval distribution per commodity (purchase-cycle
    // analytics): lag over each (household, commodity)'s distinct
    // purchase days — partitions bounded by one pair's history — then
    // exact mean + interpolated p50/p90 of the intervals.
    Entry(
      "repurchase_intervals",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val days = txc.select("household_key", "commodity_desc", "day")
          .distinct()
        val w = Window.partitionBy("household_key", "commodity_desc")
          .orderBy(col("day"))
        val intervals = days
          .withColumn("prev_day", lag(col("day"), 1).over(w))
          .filter(col("prev_day").isNotNull)
          .select(col("commodity_desc"),
            datediff(col("day"), col("prev_day")).as("gap"))
        // Gaps are integer day counts — a CALENDAR-bounded value domain
        // (≤ horizon days per commodity at any fact scale). Collapse the
        // heavy lineage (distinct + lag window) to that domain ONCE; the
        // mean and the weighted percentile ranking both derive from the
        // domain table and share its exchange (reused within the one
        // plan), where the previous shape executed the lineage three
        // times (range-prefix boundary sampling + range shuffle + the mean
        // aggregate). Mean stays exact: Σ(gap·cnt) is the same integer.
        val byGap = intervals.groupBy("commodity_desc", "gap")
          .agg(count(lit(1)).as("cnt"))
        val base = byGap.groupBy("commodity_desc").agg(
          sum(col("cnt")).as("n_intervals"),
          round(sum(col("gap").cast("long") * col("cnt")).cast("double")
            / sum(col("cnt")).cast("double"), 9).as("mean_days"))
        val pct = graft.ops.ExactPercentiles.perGroupWeighted(byGap,
          Seq("commodity_desc"), "gap", "cnt",
          Seq("p50_days" -> 0.5, "p90_days" -> 0.9))
          .select(col("commodity_desc"),
            round(col("p50_days"), 6).as("p50_days"),
            round(col("p90_days"), 6).as("p90_days"))
        base.join(pct, Seq("commodity_desc"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |days AS (
        |  SELECT DISTINCT household_key, commodity_desc, day FROM txc),
        |iv AS (
        |  SELECT commodity_desc, day - prev_day AS gap FROM (
        |    SELECT commodity_desc, day,
        |      LAG(day) OVER (PARTITION BY household_key, commodity_desc
        |        ORDER BY day) AS prev_day
        |    FROM days) t
        |  WHERE prev_day IS NOT NULL)
        |SELECT commodity_desc, COUNT(*) AS n_intervals,
        |  ROUND(CAST(CAST(SUM(gap) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS mean_days,
        |  ROUND(quantile_cont(gap, 0.5), 6) AS p50_days,
        |  ROUND(quantile_cont(gap, 0.9), 6) AS p90_days
        |FROM iv GROUP BY commodity_desc""".stripMargin)),

    // Kaplan–Meier repurchase survival (right-censored): the
    // censoring-aware answer to "how long until the next purchase" —
    // households whose next purchase hasn't happened yet enter the risk
    // set at horizon − last_day instead of being dropped (which a plain
    // gap histogram gets wrong). The survival product is an exact
    // 9-dp-quantized decimal fold (NO libm exp/ln), closed on the
    // curve-point-sized table; the oracle replays it as a recursive CTE,
    // so the whole estimator is hash-proven (Survival scaladoc).
    Entry(
      "survival_repurchase",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        // censoring horizon from the SAME relation the oracle uses (max
        // day of the commodity-joined silver fact, its gbk CTE) — NOT
        // Retail.dayBounds (max l_shipdate of raw lineitem): the two only
        // agree while the silver filter and the product FK join preserve
        // the max-day row, and relying on that is a silent trap
        val hi = txc.agg(max(col("day"))).head().getDate(0).toLocalDate
        val days = txc.select("household_key", "commodity_desc", "day")
          .distinct()
        val w = Window.partitionBy("household_key", "commodity_desc")
          .orderBy(col("day"))
        val lagd = days
          .withColumn("prev_day", lag(col("day"), 1).over(w))
          .withColumn("is_last", lead(col("day"), 1).over(w).isNull)
        val events = lagd.filter(col("prev_day").isNotNull)
          .select(col("commodity_desc"),
            datediff(col("day"), col("prev_day")).cast("long").as("t"),
            lit(1L).as("e"))
        val censored = lagd.filter(col("is_last"))
          .select(col("commodity_desc"),
            datediff(lit(Date.valueOf(hi)), col("day")).cast("long").as("t"),
            lit(0L).as("e"))
        graft.ops.Survival.kaplanMeier(events.unionAll(censored),
          Seq("commodity_desc"), "t", "e")
      },
      Some(s"""WITH RECURSIVE ${Oracle.txCommodity},
        |gbk AS (SELECT max(day) AS horizon FROM txc),
        |days AS (
        |  SELECT DISTINCT household_key, commodity_desc, day FROM txc),
        |lagd AS (
        |  SELECT household_key, commodity_desc, day,
        |    LAG(day) OVER w AS prev_day,
        |    LEAD(day) OVER w IS NULL AS is_last
        |  FROM days
        |  WINDOW w AS (PARTITION BY household_key, commodity_desc
        |    ORDER BY day)),
        |obs AS (
        |  SELECT commodity_desc, CAST(day - prev_day AS BIGINT) AS t,
        |    1 AS e
        |  FROM lagd WHERE prev_day IS NOT NULL
        |  UNION ALL
        |  SELECT l.commodity_desc, CAST(g.horizon - l.day AS BIGINT), 0
        |  FROM lagd l CROSS JOIN gbk g WHERE l.is_last),
        |ptk AS (
        |  SELECT commodity_desc, t,
        |    CAST(SUM(e) AS BIGINT) AS d_events,
        |    CAST(COUNT(*) - SUM(e) AS BIGINT) AS c_censored
        |  FROM obs GROUP BY 1, 2),
        |rk AS (
        |  SELECT *,
        |    CAST(SUM(d_events + c_censored)
        |        OVER (PARTITION BY commodity_desc) AS BIGINT)
        |      - CAST(COALESCE(SUM(d_events + c_censored)
        |          OVER (PARTITION BY commodity_desc ORDER BY t
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS n_risk,
        |    ROW_NUMBER() OVER (PARTITION BY commodity_desc ORDER BY t)
        |      AS rn
        |  FROM ptk),
        |fr AS (
        |  SELECT *, CAST(ROUND(1.0 - CAST(d_events AS DOUBLE)
        |      / CAST(n_risk AS DOUBLE), 9) AS DECIMAL(18,9)) AS factor
        |  FROM rk),
        |km AS (
        |  SELECT commodity_desc, t, n_risk, d_events, c_censored, rn,
        |    factor AS s
        |  FROM fr WHERE rn = 1
        |  UNION ALL
        |  SELECT f.commodity_desc, f.t, f.n_risk, f.d_events,
        |    f.c_censored, f.rn,
        |    CAST(ROUND(k.s * f.factor, 9) AS DECIMAL(18,9))
        |  FROM km k JOIN fr f ON f.commodity_desc = k.commodity_desc
        |    AND f.rn = k.rn + 1)
        |SELECT commodity_desc, t, n_risk, d_events, c_censored,
        |  CAST(s AS DOUBLE) AS survival
        |FROM km""".stripMargin)),

    // Offline recsys evaluation: precision/recall@k of the basket-share
    // top-3 against realized next-30d purchases — hits are an equi-join
    // of the map-side-limited rec list with the label positives; all
    // counts exact integers.
    Entry(
      "rec_precision_at_k",
      (s, dir) => {
        val (recs, labels) = basketShareRecs(s, dir, k = 3, pin = true)
        // hits pinned too: it feeds 3 of the 6 aggregates below, and a
        // pinned join of two pinned frames runs exactly once
        val hits = recs.join(labels.filter(col("purchased") === 1)
          .select("household_key", "commodity_desc"),
          Seq("household_key", "commodity_desc"), "left_semi")
          .localCheckpoint(true)
        val totPos = labels.agg(sum(col("purchased")).cast("long")
          .as("total_pos"))
        val ks = (1 to 3).map { k =>
          val nRecs = recs.filter(col("rn") <= k)
            .agg(count(lit(1)).as("n_recs"))
          val nHits = hits.filter(col("rn") <= k)
            .agg(count(lit(1)).as("hits"))
          nRecs.crossJoin(nHits).crossJoin(broadcast(totPos))
            .select(lit(k).as("k"), col("n_recs"), col("hits"),
              round(col("hits").cast("double")
                / col("n_recs").cast("double"), 9).as("precision"),
              round(col("hits").cast("double")
                / col("total_pos").cast("double"), 9).as("recall"))
        }
        ks.reduce(_ unionByName _)
      },
      Some {
        val one = (k: Int) =>
          s"""SELECT $k AS k,
             |  (SELECT COUNT(*) FROM recs WHERE rn <= $k) AS n_recs,
             |  (SELECT COUNT(*) FROM hits WHERE rn <= $k) AS hits,
             |  ROUND(CAST((SELECT COUNT(*) FROM hits WHERE rn <= $k)
             |      AS DOUBLE)
             |    / CAST((SELECT COUNT(*) FROM recs WHERE rn <= $k)
             |      AS DOUBLE), 9) AS precision,
             |  ROUND(CAST((SELECT COUNT(*) FROM hits WHERE rn <= $k)
             |      AS DOUBLE)
             |    / CAST((SELECT CAST(SUM(purchased) AS BIGINT) FROM labels)
             |      AS DOUBLE), 9) AS recall""".stripMargin
        s"""WITH ${Oracle.txCommodity}, ${TrainScoreQueries.labelsCtes},
           |${recsCtes(3)},
           |hits AS (
           |  SELECT r.* FROM recs r
           |  JOIN labels l ON l.household_key = r.household_key
           |    AND l.commodity_desc = r.commodity_desc
           |  WHERE l.purchased = 1)
           |${one(1)}
           |UNION ALL
           |${one(2)}
           |UNION ALL
           |${one(3)}""".stripMargin
      }),

    // NDCG@3 of the same rec list: binary relevance, per-rank gains
    // 1/log2(rank+1) precomputed ONCE driver-side (9 dp) and injected as
    // identical literals into both engines — rank is bounded by k, so
    // the gain table is a constant CASE and no runtime log/ulp question
    // exists. DCG sums the decimal gains of hits (combine-order free);
    // IDCG is the prefix-sum literal at min(n_pos, 3).
    Entry(
      "rec_ndcg_at_k",
      (s, dir) => {
        val k = 3
        val gain = (1 to k).map(i => BigDecimal(
          1.0 / (math.log(i + 1.0) / math.log(2.0)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP))
        val ideal = gain.scanLeft(BigDecimal(0))(_ + _).tail // prefix sums
        val (recs, labels) = basketShareRecs(s, dir, k, pin = true)
        val npos = labels.filter(col("purchased") === 1)
          .groupBy("household_key").agg(count(lit(1)).as("n_pos"))
        val gainCol = (1 to k).foldLeft(lit(null).cast("decimal(18,9)")) {
          (acc, i) => when(col("rn") === i,
            lit(gain(i - 1).toString).cast("decimal(18,9)")).otherwise(acc)
        }
        val dcg = recs
          .join(labels.filter(col("purchased") === 1)
              .select("household_key", "commodity_desc"),
            Seq("household_key", "commodity_desc"), "left_semi")
          .select(col("household_key"), gainCol.as("g"))
          .groupBy("household_key").agg(sum(col("g")).as("dcg_d"))
        val idcgCol = (1 to k).foldLeft(lit(null).cast("double")) {
          (acc, i) => when(least(col("n_pos"), lit(k)) === i,
            lit(ideal(i - 1).toDouble)).otherwise(acc)
        }
        npos.join(dcg, Seq("household_key"), "left_outer")
          .select(col("household_key"), col("n_pos"),
            coalesce(col("dcg_d").cast("double"), lit(0.0)).as("dcg"),
            idcgCol.as("idcg"),
            round(coalesce(col("dcg_d").cast("double"), lit(0.0))
              / idcgCol, 9).as("ndcg"))
      },
      Some {
        val k = 3
        val gain = (1 to k).map(i => BigDecimal(
          1.0 / (math.log(i + 1.0) / math.log(2.0)))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP))
        val ideal = gain.scanLeft(BigDecimal(0))(_ + _).tail
        val gainCase = (1 to k)
          .map(i => s"WHEN rn = $i THEN CAST('${gain(i - 1)}' AS DECIMAL(18,9))")
          .mkString("CASE ", " ", " END")
        val idcgCase = (1 to k)
          .map(i => s"WHEN least(n_pos, $k) = $i THEN ${ideal(i - 1).toDouble}")
          .mkString("CASE ", " ", " END")
        s"""WITH ${Oracle.txCommodity}, ${TrainScoreQueries.labelsCtes},
           |${recsCtes(k)},
           |npos AS (
           |  SELECT household_key, COUNT(*) AS n_pos
           |  FROM labels WHERE purchased = 1 GROUP BY household_key),
           |dcg AS (
           |  SELECT r.household_key, SUM($gainCase) AS dcg_d
           |  FROM recs r
           |  JOIN labels l ON l.household_key = r.household_key
           |    AND l.commodity_desc = r.commodity_desc
           |  WHERE l.purchased = 1
           |  GROUP BY r.household_key)
           |SELECT n.household_key, n.n_pos,
           |  COALESCE(CAST(d.dcg_d AS DOUBLE), 0.0) AS dcg,
           |  $idcgCase AS idcg,
           |  ROUND(COALESCE(CAST(d.dcg_d AS DOUBLE), 0.0)
           |    / ($idcgCase), 9) AS ndcg
           |FROM npos n LEFT JOIN dcg d ON n.household_key = d.household_key"""
          .stripMargin
      }),

    // Neyman (optimal) stratified-sampling allocation: per-stratum
    // standard deviation from centered decimal moments, allocation share
    // ∝ N_h·S_h for a 1000-unit budget; weights quantized to decimals
    // before the cross-stratum normalization sum.
    Entry(
      "neyman_allocation",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val txc = FeatureBuilder.txWithCommodity(s, dir)
          .select(col("commodity_desc"),
            col("amount_paid").cast("decimal(18,6)").as("x"))
        val means = txc.groupBy("commodity_desc").agg(
          count(lit(1)).as("n"), sum(col("x")).as("sx"))
          .select(col("commodity_desc"), col("n"),
            round(col("sx").cast("double") / col("n").cast("double"), 6)
              .cast("decimal(12,6)").as("mx"))
        val strata = txc.join(means, Seq("commodity_desc"))
          .select(col("commodity_desc"), col("n"),
            (col("x") - col("mx")).cast("decimal(16,6)").as("dx"))
          .groupBy("commodity_desc", "n")
          .agg(sum(col("dx") * col("dx")).as("sxx"),
            sum(col("dx")).as("sdx"))
          .select(col("commodity_desc"), col("n"),
            round(sqrt(greatest(
              (col("sxx").cast("double")
                - (col("sdx").cast("double") * col("sdx").cast("double"))
                  / col("n").cast("double"))
                / (col("n").cast("double") - lit(1.0)),
              lit(0.0))), 6).as("std_h"))
        val weighted = strata.withColumn("w",
          round(col("n").cast("double") * col("std_h"), 4)
            .cast("decimal(24,4)"))
        weighted
          .withColumn("wsum", sum(col("w")).over(Window.partitionBy()))
          .select(col("commodity_desc"), col("n"), col("std_h"),
            round(col("w").cast("double") / col("wsum").cast("double"), 9)
              .as("alloc_share"),
            floor((col("w").cast("double") / col("wsum").cast("double"))
              * lit(1000.0)).cast("long").as("alloc_n"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |q AS (
        |  SELECT commodity_desc, CAST(amount_paid AS DECIMAL(18,6)) AS x
        |  FROM txc),
        |means AS (
        |  SELECT commodity_desc, COUNT(*) AS n,
        |    CAST(ROUND(CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |      AS DECIMAL(12,6)) AS mx
        |  FROM q GROUP BY commodity_desc),
        |strata AS (
        |  SELECT q.commodity_desc, m.n,
        |    ROUND(SQRT(GREATEST(
        |      (CAST(SUM(CAST(q.x - m.mx AS DECIMAL(19,6))
        |          * CAST(q.x - m.mx AS DECIMAL(16,6))) AS DOUBLE)
        |        - (CAST(SUM(CAST(q.x - m.mx AS DECIMAL(16,6))) AS DOUBLE)
        |          * CAST(SUM(CAST(q.x - m.mx AS DECIMAL(16,6))) AS DOUBLE))
        |          / CAST(m.n AS DOUBLE))
        |        / (CAST(m.n AS DOUBLE) - 1.0),
        |      0.0)), 6) AS std_h
        |  FROM q JOIN means m ON q.commodity_desc = m.commodity_desc
        |  GROUP BY q.commodity_desc, m.n),
        |wt AS (
        |  SELECT *, CAST(ROUND(CAST(n AS DOUBLE) * std_h, 4)
        |    AS DECIMAL(24,4)) AS w
        |  FROM strata),
        |ws AS (SELECT *, SUM(w) OVER () AS wsum FROM wt)
        |SELECT commodity_desc, n, std_h,
        |  ROUND(CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE), 9) AS alloc_share,
        |  CAST(FLOOR((CAST(w AS DOUBLE) / CAST(wsum AS DOUBLE)) * 1000.0)
        |    AS BIGINT) AS alloc_n
        |FROM ws""".stripMargin)),

    // Planner arithmetic as an operator: exact self-join output size
    // Σf² per candidate key vs the uniform ideal n²/k — the pair
    // explosion KNOWN before the join runs (KeySkew scaladoc).
    Entry(
      "join_cardinality_est",
      (s, dir) => graft.ops.KeySkew.selfJoinCardinality(
        TransactionsAdj(s, dir),
        Seq("basket_id", "household_key", "product_id")),
      Some {
        def one(k: String) =
          s"""SELECT '$k' AS key_name,
             |  CAST(SUM(f) AS BIGINT) AS rows, COUNT(*) AS n_keys,
             |  CAST(SUM(f * f) AS BIGINT) AS self_join_pairs,
             |  CAST((CAST(SUM(f) AS BIGINT) * CAST(SUM(f) AS BIGINT))
             |    // COUNT(*) AS BIGINT) AS uniform_pairs,
             |  ROUND(CAST(SUM(f * f) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
             |    / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) AS DOUBLE)), 9)
             |    AS amplification
             |FROM (SELECT COUNT(*) AS f FROM transactions_adj GROUP BY $k)
             |  t""".stripMargin
        s"""WITH ${Oracle.txAdj}
           |${one("basket_id")}
           |UNION ALL
           |${one("household_key")}
           |UNION ALL
           |${one("product_id")}""".stripMargin
      }),

    // Gini concentration of spend across households per commodity
    // (Lorenz-curve inequality — "do 10% of households carry 90% of the
    // category"): rank-weighted exact decimal sums close the standard
    // identity G = (2·Σi·xᵢ − (n+1)·Σx)/(n·Σx); windows bounded per
    // commodity, doubles only at the closing division.
    Entry(
      "spend_gini",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hh = FeatureBuilder.txWithCommodity(s, dir)
          .groupBy(col("commodity_desc"), col("household_key"))
          .agg(sum(col("amount_paid").cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("x"))
        val w = Window.partitionBy("commodity_desc")
          .orderBy(col("x"), col("household_key"))
        val ranked = hh.withColumn("i", row_number().over(w).cast("long"))
        ranked.groupBy("commodity_desc").agg(
          count(lit(1)).as("n_households"),
          sum(col("x")).cast("double").as("total_spend"),
          round((lit(2.0) * sum(col("x") * col("i")).cast("double")
            - (count(lit(1)) + lit(1L)).cast("double")
              * sum(col("x")).cast("double"))
            / (count(lit(1)).cast("double") * sum(col("x")).cast("double")),
            9).as("gini"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |hh AS (
        |  SELECT commodity_desc, household_key,
        |    CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DECIMAL(18,4))
        |      AS x
        |  FROM txc GROUP BY 1, 2),
        |r AS (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY commodity_desc
        |    ORDER BY x, household_key) AS BIGINT) AS i
        |  FROM hh)
        |SELECT commodity_desc, COUNT(*) AS n_households,
        |  CAST(SUM(x) AS DOUBLE) AS total_spend,
        |  ROUND((2.0 * CAST(SUM(x * i) AS DOUBLE)
        |    - CAST(COUNT(*) + 1 AS DOUBLE) * CAST(SUM(x) AS DOUBLE))
        |    / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)), 9)
        |    AS gini
        |FROM r GROUP BY commodity_desc""".stripMargin)),

    // Theil–Sen robust trend per commodity: the MEDIAN of all pairwise
    // weekly-spend slopes — a single outlier week cannot move it, unlike
    // the OLS slope (price_quantity_corr family). The pair space is
    // calendar-bounded (weeks² per commodity, identical at any sf);
    // slopes are 9-dp-quantized before the interpolated median
    // (the repurchase_intervals percentile convention).
    Entry(
      "theil_sen_trend",
      (s, dir) => {
        val (lo, _) = Retail.dayBounds(s, dir)
        // weekly is referenced three times (both pair-join sides + the
        // n_pairs aggregate) — checkpoint the calendar-bounded frame
        // (|commodities| × weeks rows) so the fact-scale weekly
        // aggregation runs once, not three times.
        val weekly = FeatureBuilder.txWithCommodity(s, dir)
          .withColumn("week_idx",
            expr(s"datediff(day, DATE '${lo}') div 7").cast("long"))
          .groupBy(col("commodity_desc"), col("week_idx"))
          .agg(sum(col("amount_paid").cast("decimal(18,4)"))
            .cast("double").as("y"))
          .localCheckpoint(true)
        // The pair self-join explodes |weeks| rows into C(|weeks|, 2)
        // pairs per commodity — the query's real work — but its inputs
        // are KB-sized, so AQE's byte-based coalescing collapses the join
        // stage to ONE task and serializes the explosion (+ the window
        // ranking fused after it; profiled 3.5 s single-task at sf0.1).
        // A numbered repartition (REPARTITION_BY_NUM is exempt from AQE
        // coalescing) on the session's shuffle-partitions knob pins the
        // explosion + ranking stage at |commodities|-way parallelism —
        // the byte-counter can't see that output »» input here.
        val wk = weekly.repartition(
          s.sessionState.conf.numShufflePartitions, col("commodity_desc"))
        val a = wk.select(col("commodity_desc"),
          col("week_idx").as("w1"), col("y").as("y1"))
        val b = wk.select(col("commodity_desc"),
          col("week_idx").as("w2"), col("y").as("y2"))
        val slopes = a.join(b, Seq("commodity_desc"))
          .filter(col("w2") > col("w1"))
          .select(col("commodity_desc"),
            round((col("y2") - col("y1"))
              / (col("w2") - col("w1")).cast("double"), 9).as("slope"))
        // manyTinyGroups: a slope group is CALENDAR-bounded (≤ C(weeks, 2)
        // rows per commodity at ANY fact scale), so the plain per-group
        // window is the scale-right shape — the grouped range-prefix
        // machinery would range-partition the pair frame, executing the
        // self-join TWICE (boundary sampling + range shuffle; profiled as
        // two ~2 s single-task stages at sf0.1) for a frame whose groups
        // can never outgrow a task.
        val med = graft.ops.ExactPercentiles.perGroup(slopes,
          Seq("commodity_desc"), "slope", Seq("median_slope" -> 0.5),
          manyTinyGroups = true)
        // n_pairs = C(n_weeks, 2) from the weekly table — counting the
        // slopes frame would re-execute the whole pair join a second time
        weekly.groupBy("commodity_desc")
          .agg((count(lit(1)) * (count(lit(1)) - 1L) / lit(2L))
            .cast("long").as("n_pairs"))
          .join(med, Seq("commodity_desc"))
          .select(col("commodity_desc"), col("n_pairs"),
            round(col("median_slope"), 6).as("median_slope"))
      },
      Some(s"""WITH ${Oracle.txCommodity},
        |gbt AS (SELECT min(day) AS lo FROM txc),
        |weekly AS (
        |  SELECT commodity_desc,
        |    CAST((t.day - g.lo) // 7 AS BIGINT) AS week_idx,
        |    CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DOUBLE) AS y
        |  FROM txc t CROSS JOIN gbt g GROUP BY 1, 2),
        |pairs AS (
        |  SELECT a.commodity_desc,
        |    ROUND((b.y - a.y) / CAST(b.week_idx - a.week_idx AS DOUBLE), 9)
        |      AS slope
        |  FROM weekly a JOIN weekly b
        |    ON a.commodity_desc = b.commodity_desc
        |   AND b.week_idx > a.week_idx)
        |SELECT commodity_desc, COUNT(*) AS n_pairs,
        |  ROUND(quantile_cont(slope, 0.5), 6) AS median_slope
        |FROM pairs GROUP BY commodity_desc""".stripMargin)),

    // Difference-in-differences readout: per-household pre/post spend
    // totals (exact decimal), arms hash-assigned (the ab_cuped rule),
    // DiD = (ΔT) − (ΔC) from the four cell means with a fixed double-op
    // sequence — the quasi-experimental estimator for launches without
    // clean randomization. ONE conditional aggregation over the
    // household frame; no joins.
    Entry(
      "ab_diff_in_diff",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val (lo, hi) = Retail.dayBounds(s, dir)
        val mid = lo.plusDays(
          java.time.temporal.ChronoUnit.DAYS.between(lo, hi) / 2)
        val perHh = tx.groupBy("household_key").agg(
          sum(when(col("day") <= lit(Date.valueOf(mid)),
            col("amount_paid")).otherwise(lit(0.0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("pre"),
          sum(when(col("day") > lit(Date.valueOf(mid)),
            col("amount_paid")).otherwise(lit(0.0)).cast("decimal(18,4)"))
            .cast("decimal(18,4)").as("post"))
        val a = perHh.withColumn("arm",
          when(HashSplit.bucket(col("household_key"), 2) === 0,
            lit("control")).otherwise(lit("treatment")))
        val isC = col("arm") === "control"
        val cells = a.agg(
          count(when(isC, lit(1))).as("n_control"),
          count(when(!isC, lit(1))).as("n_treatment"),
          sum(when(isC, col("pre"))).as("c_pre"),
          sum(when(isC, col("post"))).as("c_post"),
          sum(when(!isC, col("pre"))).as("t_pre"),
          sum(when(!isC, col("post"))).as("t_post"))
        def m(sc: String, nc: String) =
          col(sc).cast("double") / col(nc).cast("double")
        cells.select(
          col("n_control"), col("n_treatment"),
          round(m("c_pre", "n_control"), 9).as("mean_control_pre"),
          round(m("c_post", "n_control"), 9).as("mean_control_post"),
          round(m("t_pre", "n_treatment"), 9).as("mean_treatment_pre"),
          round(m("t_post", "n_treatment"), 9).as("mean_treatment_post"),
          round((m("t_post", "n_treatment") - m("t_pre", "n_treatment"))
            - (m("c_post", "n_control") - m("c_pre", "n_control")), 9)
            .as("did"))
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |gb2 AS (
        |  SELECT min(day) AS lo,
        |    min(day) + CAST((max(day) - min(day)) // 2 AS INT) AS mid
        |  FROM tx),
        |ph AS (
        |  SELECT household_key,
        |    CAST(SUM(CAST(CASE WHEN t.day <= g.mid THEN amount_paid
        |      ELSE 0.0 END AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS pre,
        |    CAST(SUM(CAST(CASE WHEN t.day > g.mid THEN amount_paid
        |      ELSE 0.0 END AS DECIMAL(18,4))) AS DECIMAL(18,4)) AS post
        |  FROM tx t CROSS JOIN gb2 g
        |  GROUP BY household_key),
        |a AS (
        |  SELECT *,
        |    CASE WHEN ${HashSplit.bucketSql("household_key", 2)} = 0
        |      THEN 'control' ELSE 'treatment' END AS arm
        |  FROM ph),
        |cells AS (
        |  SELECT
        |    COUNT(CASE WHEN arm = 'control' THEN 1 END) AS n_control,
        |    COUNT(CASE WHEN arm = 'treatment' THEN 1 END) AS n_treatment,
        |    CAST(SUM(CASE WHEN arm = 'control' THEN pre END) AS DOUBLE)
        |      AS c_pre,
        |    CAST(SUM(CASE WHEN arm = 'control' THEN post END) AS DOUBLE)
        |      AS c_post,
        |    CAST(SUM(CASE WHEN arm = 'treatment' THEN pre END) AS DOUBLE)
        |      AS t_pre,
        |    CAST(SUM(CASE WHEN arm = 'treatment' THEN post END) AS DOUBLE)
        |      AS t_post
        |  FROM a)
        |SELECT n_control, n_treatment,
        |  ROUND(c_pre / CAST(n_control AS DOUBLE), 9) AS mean_control_pre,
        |  ROUND(c_post / CAST(n_control AS DOUBLE), 9) AS mean_control_post,
        |  ROUND(t_pre / CAST(n_treatment AS DOUBLE), 9) AS mean_treatment_pre,
        |  ROUND(t_post / CAST(n_treatment AS DOUBLE), 9)
        |    AS mean_treatment_post,
        |  ROUND((t_post / CAST(n_treatment AS DOUBLE)
        |      - t_pre / CAST(n_treatment AS DOUBLE))
        |    - (c_post / CAST(n_control AS DOUBLE)
        |      - c_pre / CAST(n_control AS DOUBLE)), 9) AS did
        |FROM cells""".stripMargin)),

    // Holt linear-trend forecast per commodity over the calendar-dense
    // daily series — EVERY update in exact 1e-4 integer units with one
    // half-up division per recurrence (α=1/4, β=1/8), zero float drift;
    // the oracle replays the recursion as a recursive CTE, so the
    // forecaster itself is hash-proven (Forecast scaladoc). Data-sized
    // work is the daily aggregate; the fold runs on the
    // calendar-bounded series (same size at any sf).
    Entry(
      "forecast_holt",
      (s, dir) => {
        val txc = FeatureBuilder.txWithCommodity(s, dir)
        val (lo, hi) = Retail.dayBounds(s, dir)
        val cal = s.range(1).select(explode(sequence(
          lit(Date.valueOf(lo)), lit(Date.valueOf(hi)))).as("day"))
        val cm = txc.select("commodity_desc").distinct()
        val daily = txc.groupBy(col("commodity_desc"), col("day"))
          .agg((sum(col("amount_paid").cast("decimal(18,4)")) * 10000)
            .cast("long").as("y4"))
        val spine = cm.crossJoin(cal)
          .join(daily, Seq("commodity_desc", "day"), "left")
          .na.fill(0L, Seq("y4"))
        graft.ops.Forecast.holt(spine, Seq("commodity_desc"), "day", "y4")
          .select(col("commodity_desc"), col("day"),
            (col("y4").cast("double") / 10000).as("y"),
            (col("level4").cast("double") / 10000).as("level"),
            (col("trend4").cast("double") / 10000).as("trend"),
            ((col("level4") + col("trend4")).cast("double") / 10000)
              .as("forecast_next"))
      },
      Some {
        val lvlExpr = graft.ops.Forecast.rndDivSql(
          "s.y4 + 3 * (h.lvl + h.tr)", 4L)
        val trExpr = graft.ops.Forecast.rndDivSql(
          s"($lvlExpr) - h.lvl + 7 * h.tr", 8L)
        s"""WITH RECURSIVE ${Oracle.txCommodity},
           |bnd AS (SELECT min(day) AS lo, max(day) AS hi FROM txc),
           |cal AS (
           |  SELECT CAST(unnest(generate_series(b.lo, b.hi,
           |    INTERVAL 1 DAY)) AS DATE) AS day
           |  FROM bnd b),
           |cm AS (SELECT DISTINCT commodity_desc FROM txc),
           |daily AS (
           |  SELECT commodity_desc, day,
           |    CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) * 10000
           |      AS BIGINT) AS y4
           |  FROM txc GROUP BY 1, 2),
           |sp AS (
           |  SELECT c.commodity_desc, k.day, COALESCE(d.y4, 0) AS y4,
           |    CAST(ROW_NUMBER() OVER (PARTITION BY c.commodity_desc
           |      ORDER BY k.day) AS BIGINT) AS rn
           |  FROM cm c CROSS JOIN cal k
           |  LEFT JOIN daily d ON d.commodity_desc = c.commodity_desc
           |    AND d.day = k.day),
           |hw AS (
           |  SELECT commodity_desc, day, y4, rn, y4 AS lvl,
           |    CAST(0 AS BIGINT) AS tr
           |  FROM sp WHERE rn = 1
           |  UNION ALL
           |  SELECT s.commodity_desc, s.day, s.y4, s.rn,
           |    $lvlExpr AS lvl,
           |    $trExpr AS tr
           |  FROM hw h JOIN sp s ON s.commodity_desc = h.commodity_desc
           |    AND s.rn = h.rn + 1)
           |SELECT commodity_desc, day,
           |  CAST(y4 AS DOUBLE) / 10000 AS y,
           |  CAST(lvl AS DOUBLE) / 10000 AS level,
           |  CAST(tr AS DOUBLE) / 10000 AS trend,
           |  CAST(lvl + tr AS DOUBLE) / 10000 AS forecast_next
           |FROM hw""".stripMargin
      }),

    // Salted replicated equi-join (ops.SkewJoin): the last week's fact
    // rows joined to the product dim on a deliberately salted key —
    // probe salt from row content, dim replicated 8×, join on
    // (product_id, salt). The oracle is the PLAIN join, so hash equality
    // proves the salting decomposition is result-invisible.
    Entry(
      "skew_salted_join",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val (_, cur) = Retail.dayBounds(s, dir)
        val probe = tx
          .filter(col("day") > lit(Date.valueOf(cur.minusDays(7))))
          .select("product_id", "basket_id", "household_key", "day",
            "amount_paid")
        val build = Catalog.table(s, dir, "part")
          .select(col("p_partkey").as("product_id"),
            col("p_brand").as("commodity_desc"))
        graft.ops.SkewJoin.saltedInner(probe, build, Seq("product_id"),
          salt = 8)
      },
      Some(s"""WITH ${Oracle.txAdjFull},
        |gb AS (SELECT max(day) AS cur FROM tx)
        |SELECT t.product_id, t.basket_id, t.household_key, t.day,
        |  t.amount_paid, p.p_brand AS commodity_desc
        |FROM tx t CROSS JOIN gb JOIN part p ON t.product_id = p.p_partkey
        |WHERE t.day > gb.cur - 7""".stripMargin)),

    // Incremental view maintenance (ops.Ivm): lifetime per-household
    // totals maintained as a 28-day-old snapshot of algebraic PARTIALS
    // merged with the delta's partials — the fact's history is never
    // rescanned. The oracle recomputes from the full fact; hash equality
    // proves merge(snapshot, delta) ≡ full recompute exactly (decimal
    // sums are associative, min/max trivially).
    Entry(
      "ivm_household_totals",
      (s, dir) => {
        val tx = TransactionsAdj(s, dir)
        val (_, cur) = Retail.dayBounds(s, dir)
        val d0 = lit(Date.valueOf(cur.minusDays(28)))
        val snap = graft.ops.Ivm.partials(tx.filter(col("day") <= d0),
          Seq("household_key"), "amount_paid", "day")
        val delta = graft.ops.Ivm.partials(tx.filter(col("day") > d0),
          Seq("household_key"), "amount_paid", "day")
        graft.ops.Ivm.finish(graft.ops.Ivm.merge(snap, delta))
      },
      Some(s"""WITH ${Oracle.txAdjFull}
        |SELECT household_key, COUNT(*) AS n_rows,
        |  ${Oracle.dsum("amount_paid", "total_value")},
        |  ROUND(CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 9) AS avg_value,
        |  min(day) AS first_day, max(day) AS last_day
        |FROM tx GROUP BY household_key""".stripMargin)),

    // Small-file compaction planner (ops.Compaction): one manifest row
    // per day partition (bytes = rows × 64 est.), next-fit packed into
    // 128 KiB output files by the exact exclusive running total in day
    // order, cumsum sharded by month. Oracle is the single-window
    // definition.
    Entry(
      "compaction_plan",
      (s, dir) => {
        val manifest = TransactionsAdj(s, dir)
          .groupBy(col("day")).agg(count(lit(1)).as("n_rows"))
          .withColumn("bytes", col("n_rows") * 64L)
          .withColumn("month", trunc(col("day"), "month"))
        graft.ops.Compaction.plan(manifest, "day", "bytes", "month",
          targetBytes = 131072L)
      },
      Some(s"""WITH ${Oracle.txAdj},
        |m AS (
        |  SELECT day, COUNT(*) AS n_rows, CAST(COUNT(*) * 64 AS BIGINT)
        |    AS bytes, date_trunc('month', day) AS month
        |  FROM transactions_adj GROUP BY day),
        |c AS (
        |  SELECT day, n_rows, bytes, month,
        |    CAST(COALESCE(SUM(bytes) OVER (ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS cum_before
        |  FROM m)
        |SELECT day, n_rows, bytes, month, cum_before,
        |  cum_before // 131072 AS out_file
        |FROM c""".stripMargin)),

    // CUBE over (commodity, week): all four grouping-set combinations —
    // detail, per-commodity, per-week, grand total — in ONE Expand +
    // aggregate pass (completes the rollup / grouping-sets family).
    Entry(
      "spend_cube",
      (s, dir) => {
        FeatureBuilder.txWithCommodity(s, dir)
          .select("commodity_desc", "week_no", "amount_paid")
          .createOrReplaceTempView("graft_cube_in")
        s.sql("""SELECT commodity_desc, week_no,
                |  CAST(grouping(commodity_desc) AS BIGINT) AS g_comm,
                |  CAST(grouping(week_no) AS BIGINT) AS g_week,
                |  CAST(SUM(CAST(amount_paid AS DECIMAL(18,4))) AS DOUBLE)
                |    AS spend
                |FROM graft_cube_in
                |GROUP BY CUBE(commodity_desc, week_no)""".stripMargin)
      },
      Some(s"""WITH ${Oracle.txCommodity}
        |SELECT commodity_desc, week_no,
        |  CAST(grouping(commodity_desc) AS BIGINT) AS g_comm,
        |  CAST(grouping(week_no) AS BIGINT) AS g_week,
        |  ${Oracle.dsum("amount_paid", "spend")}
        |FROM txc GROUP BY CUBE(commodity_desc, week_no)""".stripMargin)))
}
