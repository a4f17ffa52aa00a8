package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classical time-series diagnostics over an aggregated series — the
  * autocorrelation function (is weekly spend periodic?) and the CUSUM
  * binary-segmentation changepoint (did the level shift, and when?).
  * Complements [[Forecast]] (Holt trend) and the seasonal decomposition.
  *
  * Exactness: the series value enters as an INTEGER in 1e-4 money units
  * (x·10⁴ — exact for DECIMAL(18,4) inputs), so every sum and product is
  * scale-0 int128 arithmetic, and scale-0 decimals cast to double with a
  * single correct rounding ON BOTH ENGINES (nonzero-scale decimal→double
  * is double-rounded in DuckDB — the reason the units are normalized
  * first). Both statistics close as ONE division of exact integers:
  *
  *   acf_k = (m·Σx_t·x_{t+k} − Σx_t·Σx_{t+k}) / (n·Σx² − (Σx)²)
  *   T²_t  = (n·S_t − t·S_n)² / (n·t·(n−t))      (CUSUM, maximized over t)
  *
  * Scale shape: the input series is CONTROL-SIZED by construction (a
  * calendar-bounded aggregate: weeks, days — hundreds of rows at any
  * data scale; the data-sized pass happened upstream in the groupBy that
  * produced it). Lag pairing is a broadcast self-join on t+k; prefix
  * sums run a window over the bounded series. Nothing here touches the
  * raw data again.
  */
object SeriesStats {

  /** Normalize (t, x DECIMAL(18,4)) → (t, ix) integer 1e-4 units. */
  private def toInt(series: DataFrame): DataFrame =
    series.select(col("t").cast("long").as("t"),
      (col("x").cast("decimal(18,4)") * lit(10000))
        .cast("decimal(19,0)").as("ix"))

  /** Autocorrelation at lags 1..maxLag of a (t, x) series. Output per
    * lag: (lag, n_pairs, acf) — acf is the covariance-style estimator
    * over the m matched pairs, normalized by the full-series variance
    * (the 10⁴ unit factors cancel in the ratio).
    *
    * NOT the textbook sample ACF: the numerator is the m-matched-pair
    * covariance (m = n − lag, with the PAIR means s1/m, s2/m) while the
    * denominator is the full-series n-based variance, so values differ
    * from statsmodels/R's standard biased estimator (global mean, n in
    * both) by roughly an (n−lag)/n factor. It is a DEFINED, oracle-pinned
    * statistic chosen because both sides close as exact int128 sums with
    * one final division; consumers comparing against a reference
    * implementation must rescale or use the conventional estimator.
    */
  def acf(series: DataFrame, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"SeriesStats.acf: maxLag >= 1, got $maxLag")
    val spark = series.sparkSession
    import spark.implicits._
    val s = toInt(series)
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
    val totals = s.agg(
      count(lit(1)).as("n"),
      sum(col("ix")).cast("decimal(19,0)").as("sx"),
      sum(dec(col("ix")) * dec(col("ix"))).cast("decimal(38,0)").as("ssq"))
    val lags = (1 to maxLag).toDF("lag")
    val lagged = s.select(col("t").as("t2"), col("ix").as("ix2"))
    val pairs = s.crossJoin(broadcast(lags))
      .join(lagged, col("t2") === col("t") + col("lag"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("ix")).cast("decimal(19,0)").as("s1"),
        sum(col("ix2")).cast("decimal(19,0)").as("s2"),
        sum(dec(col("ix")) * dec(col("ix2"))).cast("decimal(38,0)").as("c"))
    pairs.crossJoin(broadcast(totals))
      .select(col("lag"), col("n_pairs"),
        // one division of exact int128 numerator/denominator
        ((col("n_pairs").cast("decimal(10,0)") * col("c")
          - col("s1") * col("s2")).cast("double")
          / (col("n").cast("decimal(10,0)") * col("ssq")
            - col("sx") * col("sx")).cast("double")).as("acf"))
      .orderBy("lag")
  }

  /** Per-group ordinary-least-squares trend of x against t — slope,
    * intercept, and R², the parametric companion to the Theil-Sen robust
    * trend. Input: (group, t, x DECIMAL(18,4)); one output row per group.
    *
    * Same integer-unit exactness as [[acf]]: with iy = x·10⁴,
    *
    *   slope·10⁴ = (n·Σt·iy − Σt·Σiy) / (n·Σt² − (Σt)²)
    *   R²        = (n·Σt·iy − Σt·Σiy)² / ((n·Σt²−(Σt)²)·(n·Σiy²−(Σiy)²))
    *
    * — every operand an exact int128, each statistic closing in one or
    * two pinned IEEE operations. One map-side-combinable aggregate per
    * group; no window, no join.
    */
  def olsPerGroup(df: DataFrame): DataFrame = {
    val s = df.select(col("group"), col("t").cast("long").as("t"),
      (col("x").cast("decimal(18,4)") * lit(10000))
        .cast("decimal(19,0)").as("iy"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(19,0)")
    val m = s.groupBy("group").agg(
      count(lit(1)).as("n"),
      sum(col("t")).cast("decimal(19,0)").as("st"),
      sum(dec(col("t")) * dec(col("t"))).cast("decimal(38,0)").as("stt"),
      sum(col("iy")).cast("decimal(19,0)").as("sy"),
      sum(dec(col("t")) * col("iy")).cast("decimal(38,0)").as("sty"),
      sum(col("iy") * col("iy")).cast("decimal(38,0)").as("syy"))
    val dn = (c: org.apache.spark.sql.Column) => c.cast("decimal(10,0)")
    val num = (dn(col("n")) * col("sty") - col("st") * col("sy"))
      .cast("decimal(19,0)")
    val denT = (dn(col("n")) * col("stt") - col("st") * col("st"))
      .cast("decimal(19,0)")
    val denY = dn(col("n")) * col("syy") - col("sy") * col("sy")
    // slope in iy/t units → /10⁴ to money; intercept = ȳ − slope·t̄.
    // Guarded: a group whose rows share one t value has denT = 0, which
    // ANSI mode turns into a query-killing DIVIDE_BY_ZERO — NULL slope
    // (and, by null propagation, NULL intercept) instead.
    val slope = when(denT =!= 0,
      num.cast("double") / denT.cast("double") / lit(10000.0))
    val meanY = col("sy").cast("double") /
      (col("n").cast("double") * lit(10000.0))
    val meanT = col("st").cast("double") / col("n").cast("double")
    m.select(
      col("group"), col("n"),
      slope.as("slope"),
      (meanY - slope * meanT).as("intercept"),
      // degenerate variance (constant t or constant x) → NULL R²
      when(denT =!= 0 && denY =!= 0,
        (num * num).cast("decimal(38,0)").cast("double")
          / (denT * denY).cast("decimal(38,0)").cast("double")).as("r2"))
      .orderBy("group")
  }

  /** Single CUSUM changepoint: the split index t (1-based count of rows
    * in the "before" side, ordered by `t`) maximizing
    * T²_t = (n·S_t − t·S_n)²/(n·t·(n−t)); ties take the smallest t.
    * Output: ONE row (t_split, split_t_value, n, mean_before, mean_after,
    * tsq) — means back in money units, tsq in money² (exact integer
    * ratio divided by 10⁸).
    */
  def changepoint(series: DataFrame): DataFrame = {
    val s = toInt(series)
    // no partitionBy: the input is ONE series of per-period aggregates
    // (`spend_changepoint`'s weekly spend: one row per week of the
    // day horizon), calendar-sized at any fact size, so the running
    // window's single task holds series rows, never fact rows
    val byT = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val whole = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    val pre = s
      .withColumn("i", count(lit(1)).over(byT))
      .withColumn("st", sum(col("ix")).over(byT).cast("decimal(19,0)"))
      .withColumn("n", count(lit(1)).over(whole))
      .withColumn("sn", sum(col("ix")).over(whole).cast("decimal(19,0)"))
      .filter(col("i") < col("n"))
    val dec10 = (c: org.apache.spark.sql.Column) => c.cast("decimal(10,0)")
    val a = (dec10(col("n")) * col("st")
      - dec10(col("i")) * col("sn")).cast("decimal(19,0)")
    val cand = pre.select(col("t"), col("i"), col("n"),
      col("st"), col("sn"),
      (a * a).cast("decimal(38,0)").as("a2"),
      (dec10(col("n")) * dec10(col("i"))
        * dec10(col("n") - col("i"))).cast("decimal(19,0)").as("b"),
      // the maximized statistic, in integer-unit² terms — exact operands,
      // identical doubles on both engines, so argmax is deterministic
      ((a * a).cast("decimal(38,0)").cast("double")
        / (dec10(col("n")) * dec10(col("i"))
          * dec10(col("n") - col("i"))).cast("decimal(19,0)")
          .cast("double")).as("tsq_i"))
    val best = cand.agg(max(col("tsq_i")).as("mx"))
    cand.join(broadcast(best), col("tsq_i") === col("mx"))
      .orderBy(col("i"))
      .limit(1)
      .select(
        col("i").as("t_split"),
        col("t").as("split_t_value"),
        col("n"),
        (col("st").cast("double")
          / (col("i").cast("double") * lit(10000.0))).as("mean_before"),
        ((col("sn") - col("st")).cast("double")
          / ((col("n") - col("i")).cast("double") * lit(10000.0)))
          .as("mean_after"),
        (col("tsq_i") / lit(1.0e8)).as("tsq"))
  }
}
