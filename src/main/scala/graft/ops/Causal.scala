package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Observational causal-effect estimators over a unit table — the readout
  * layer a propensity pipeline feeds (the reference scores households,
  * `04b`/`04c`, but leaves "what did the treatment DO" open; these are the
  * standard estimators that close that loop): stratified inverse-propensity
  * weighting for the ATE, and nearest-neighbor covariate matching (with
  * replacement) for the ATT.
  *
  * Exactness contract: counts are integers, money totals accumulate as
  * DECIMAL(18,4) (combine-order independent), every per-stratum double
  * closes with one pinned association, and cross-stratum sums of doubles
  * go through DECIMAL(18,9) quantization before the (exact) sum. The
  * closings are deliberately UNROUNDED: pure rational arithmetic over
  * exact operands is already bit-identical across engines, and round(x,9)
  * at money magnitudes is itself implementation-divergent by 1 ulp (found
  * the hard way at sf0.1).
  *
  * Scale shape: IPW is ONE map-side-combinable hash aggregate over units
  * (the stratum table is control-sized); matching is a window partitioned
  * by stratum — strata are the matching blocks, so parallelism grows with
  * the block count, and within a block the match is found by a sorted
  * prev/next scan (O(n log n), no pairwise join).
  */
object Causal {

  /** Stratified IPW / exact-stratification ATE. Input: one row per unit
    * with `stratum` (string), `treated` (0/1 int), `y` (money-scale).
    * With the propensity estimated as the within-stratum treated share,
    * the IPW estimator collapses algebraically to the stratified
    * difference of means — computed that way here (no per-unit weights
    * pass): ATE = Σ_s (n_s/n)·(ȳ_t,s − ȳ_c,s).
    *
    * Output: one row per stratum (n, n_treat, e_hat, mean_treat,
    * mean_ctrl, effect) plus an `__all__` row whose `effect` is the ATE
    * over strata that have both arms (means are null there — a pooled
    * mean is Simpson-prone by construction, the per-stratum rows carry
    * the real signal).
    */
  def ipwStratified(units: DataFrame): DataFrame = {
    val strata = units
      .select(col("stratum"), col("treated").cast("long").as("t"),
        col("y").cast("decimal(18,4)").as("y"))
      .groupBy("stratum")
      .agg(
        count(lit(1)).as("n"),
        sum(col("t")).as("n_treat"),
        sum(when(col("t") === 1L, col("y"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("sy_t"),
        sum(when(col("t") === 0L, col("y"))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("sy_c"))
    val nc = col("n") - col("n_treat")
    // one-armed strata surface NULL means (not an ANSI /0 error); they
    // are likewise excluded from the __all__ term by the dim_raw guard
    val muT = when(col("n_treat") > 0L,
      col("sy_t").cast("double") / col("n_treat").cast("double"))
    val muC = when(nc > 0L, col("sy_c").cast("double") / nc.cast("double"))
    val per = strata.select(
      col("stratum"), col("n"), col("n_treat"),
      // pure rational closings (exact decimal casts + IEEE divisions)
      // are bit-identical across engines UNROUNDED; round(x, 9) at this
      // magnitude is the one step whose implementation differs by 1 ulp
      // between engines, so it is deliberately absent
      (col("n_treat").cast("double") / col("n").cast("double")).as("e_hat"),
      muT.as("mean_treat"),
      muC.as("mean_ctrl"),
      (muT - muC).as("effect"),
      // ATE building blocks: quantized per-stratum term (exact to sum)
      when(col("n_treat") > 0L && nc > 0L, (muT - muC))
        .as("dim_raw"))
    val nTot = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    // __all__ row: Σ_s (n_s/n)·dim_s with each term quantized to 9 dp
    // decimal before the exact sum (the Drift.psi_term convention)
    val overall = per
      .withColumn("n_all", sum(col("n")).over(nTot))
      .select(col("n"), col("n_treat"), col("n_all"),
        ((col("n").cast("double") / col("n_all").cast("double"))
          * col("dim_raw")).cast("decimal(18,9)").as("term"))
      .agg(
        max(col("n_all")).as("n"),
        sum(col("n_treat")).as("n_treat"),
        sum(col("term")).cast("double").as("effect"))
      .select(lit("__all__").as("stratum"), col("n"), col("n_treat"),
        (col("n_treat").cast("double") / col("n").cast("double"))
          .as("e_hat"),
        lit(null).cast("double").as("mean_treat"),
        lit(null).cast("double").as("mean_ctrl"),
        col("effect"))
    per.drop("dim_raw").unionByName(overall)
  }

  /** Nearest-neighbor covariate matching with replacement, exact on
    * `stratum`, nearest on `x` within it — the ATT estimator. Input: one
    * row per unit with unique `id`, `stratum`, `treated` (0/1), `x`, `y`.
    *
    * Each treated unit takes the control whose `x` is nearest (exact
    * decimal distance; ties prefer the ≤-side neighbor, then the sort
    * order's deterministic pick). Found via one window pass, not a join:
    * order (x, treated, id) within stratum — controls sort before treated
    * at equal x — then `last(control_y) ignoreNulls` gives the ≤-neighbor
    * and the mirrored forward window the ≥-neighbor.
    *
    * Output: per-stratum (n_treated, n_matched, att) + `__all__`, where
    * att = mean over matched treated of (y − y_match) — the cross-stratum
    * total is a ratio of exact decimal sums, so no quantization step.
    */
  def matchedAtt(units: DataFrame): DataFrame = {
    val q = units.select(col("id"), col("stratum"),
      col("treated").cast("int").as("treated"),
      col("x").cast("decimal(18,4)").as("x"),
      col("y").cast("decimal(18,4)").as("y"))
    val back = Window.partitionBy(col("stratum"))
      .orderBy(col("x"), col("treated"), col("id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // the ≥-neighbor comes from a RUNNING frame over the REVERSED sort
    // (prev-in-reverse = next-in-forward, same row set): a
    // (currentRow, unboundedFollowing) frame would make Spark recompute
    // the aggregate from scratch per row — O(n²) per stratum
    // (UnboundedFollowingWindowFunctionFrame), measured 20× slower
    val fwd = Window.partitionBy(col("stratum"))
      .orderBy(col("x").desc, col("treated").desc, col("id").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val cx = when(col("treated") === 0, col("x"))
    val cy = when(col("treated") === 0, col("y"))
    val matched = q
      .withColumn("prev_x", last(cx, ignoreNulls = true).over(back))
      .withColumn("prev_y", last(cy, ignoreNulls = true).over(back))
      .withColumn("next_x", last(cx, ignoreNulls = true).over(fwd))
      .withColumn("next_y", last(cy, ignoreNulls = true).over(fwd))
      .filter(col("treated") === 1)
      .withColumn("y_match",
        when(col("prev_x").isNull, col("next_y"))
          .when(col("next_x").isNull, col("prev_y"))
          // exact decimal distances; ≤ prefers the left neighbor on ties
          .when(col("x") - col("prev_x") <= col("next_x") - col("x"),
            col("prev_y"))
          .otherwise(col("next_y")))
    val per = matched.groupBy("stratum").agg(
      count(lit(1)).as("n_treated"),
      count(col("y_match")).as("n_matched"),
      sum(col("y") - col("y_match")).as("sdiff"))
    def close(df: DataFrame) = df.select(
      col("stratum"), col("n_treated"), col("n_matched"),
      // a block with no controls matches nobody: NULL att, not /0.
      // No round: one division over exact operands is already engine-exact
      when(col("n_matched") > 0L,
        col("sdiff").cast("double") / col("n_matched").cast("double"))
        .as("att"))
    close(per).unionByName(close(per.agg(
      sum(col("n_treated")).as("n_treated"),
      sum(col("n_matched")).as("n_matched"),
      sum(col("sdiff")).as("sdiff"))
      .select(lit("__all__").as("stratum"), col("n_treated"),
        col("n_matched"), col("sdiff"))))
  }

  /** Uplift-by-decile and cumulative Qini readout for a randomized
    * treatment with a targeting `score`. Input: one row per unit with
    * unique `id`, `treated` (0/1), `score`, `converted` (0/1).
    *
    * Deciles come from [[Ntile.global]] on (score DESC, id) — the
    * range-partitioned global ntile, not the single-task window. Per
    * decile: exact conversion counts per arm, incremental uplift, and the
    * cumulative Qini value Q(d) = C_t(d) − C_c(d)·N_t(d)/N_c(d), closed
    * as ONE division of exact integer products (the cross-multiplied
    * form), so the whole curve is engine-exact.
    */
  def upliftQini(units: DataFrame): DataFrame = {
    val tiled = Ntile.global(
      units.select(col("id"), col("treated").cast("long").as("t"),
        col("score").cast("decimal(18,4)").as("score"),
        col("converted").cast("long").as("c")),
      Seq(col("score").desc, col("id")), 10, outCol = "decile")
    val per = tiled.groupBy("decile").agg(
      count(lit(1)).as("n"),
      sum(col("t")).as("n_treat"),
      sum(col("t") * col("c")).as("conv_treat"),
      sum((lit(1L) - col("t")) * col("c")).as("conv_ctrl"))
    // no partitionBy: `per` is exactly the 10 decile rows, so the
    // cumulative window runs over a constant-sized frame
    val cum = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val nt = col("n_treat"); val nc = col("n") - col("n_treat")
    per
      .withColumn("cum_nt", sum(nt).over(cum))
      .withColumn("cum_nc", sum(nc).over(cum))
      .withColumn("cum_ct", sum(col("conv_treat")).over(cum))
      .withColumn("cum_cc", sum(col("conv_ctrl")).over(cum))
      .select(
        col("decile"), col("n"), col("n_treat"),
        col("conv_treat"), col("conv_ctrl"),
        // incremental uplift: rate_t − rate_c, one division each —
        // unrounded (pure rational arithmetic is engine-exact as is).
        // NULLIF guards: a decile holding only one arm (tiny n, or a
        // score that perfectly separates the arms) would divide by 0 —
        // an ANSI-mode query abort — so the degenerate rate is NULL.
        (col("conv_treat").cast("double")
            / nullif(nt.cast("double"), lit(0.0))
          - col("conv_ctrl").cast("double")
            / nullif(nc.cast("double"), lit(0.0)))
          .as("uplift"),
        // Qini: (C_t·N_c − C_c·N_t) / N_c — exact int128 numerator;
        // NULL until the running window has seen a control unit
        ((col("cum_ct").cast("decimal(19,0)")
            * col("cum_nc").cast("decimal(19,0)")
          - col("cum_cc").cast("decimal(19,0)")
            * col("cum_nt").cast("decimal(19,0)")).cast("double")
          / nullif(col("cum_nc").cast("double"), lit(0.0))).as("qini"))
      .orderBy("decile")
  }
}
