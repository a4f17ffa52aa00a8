package graft.features

import java.time.LocalDate
import java.sql.Date
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative metric catalog for the feature builder.
  *
  * The reference builds ~90 metrics per window as 268 lines of sequential
  * `withColumn`s (`04a:183-525`); here each metric is DATA, declared ONCE
  * in [[aggsFor]] with every form it is executed in:
  *
  *  - `sql`: the DuckDB SQL over the fact, the oracle
  *    ([[FeatureBuilder.cteChain]]);
  *  - `reference`: the single-pass Spark column over the fact, the form
  *    FeatureSpec checks the builder against;
  *  - `engine`: what [[FeatureBuilder.build]] runs — a stage-2 column over
  *    the per-day partials ([[Engine.OverDays]]) or an exact per-entity
  *    distinct count ([[Engine.PerEntity]]).
  *
  * So the oracle SQL, the reference and the engine form can never drift
  * apart by name, and one generated `select` = one Project node = one
  * whole-stage-codegen span.
  *
  * Aggregate conventions (see queriesdef.Oracle): money sums go through
  * DECIMAL(18,4); conditional distinct counts are
  * `countDistinct(when(cond, k))` (SURVEY.md A3); recency is
  * `min(datediff)` anchored at the WINDOW'S OWN end day and floored at
  * `days_in_window - 1` (A5, `04a:527-546`: both the anchor `max_day` and
  * the floor `min_day` are the window-adjusted bounds, so the 1yr recency
  * is measured against the 1yr slice's end, not the dataset's newest day).
  */
object MetricDefs {

  /** How the builder computes an aggregate. */
  sealed trait Engine
  object Engine {
    /** Stage-2 column over the [[dayPartials]] frame: the aggregate
      * reduces exactly over per-(keys, day) partials (proof on
      * [[dayPartials]]).
      */
    final case class OverDays(fused: Column) extends Engine
    /** Exact `COUNT(DISTINCT entity)` over rows matching `cond` (over the
      * builder's helper columns): an entity may span days, so the builder
      * turns these into indicator pre-aggregates per entity instead of
      * letting Catalyst's `RewriteDistinctAggregates` Expand the input
      * ~13× (SURVEY.md §4 mitigation #1).
      */
    final case class PerEntity(entity: String, cond: Column) extends Engine
  }

  /** One aggregate output: oracle SQL and single-pass reference over the
    * fact, and the form the builder runs.
    */
  final case class AggDef(name: String, sql: String, reference: Column,
      engine: Engine)

  /** One post-aggregation (ratio) output over the cleaned agg columns. */
  final case class PostDef(name: String, col: Column, sql: String)

  /** Discount buckets decomposed by the silver layer; each acts as a
    * "flag metric" for the conditional aggregates — the reference
    * conditions on all FOUR including the derived total
    * (`04a:201-255`, `04a:531-545`).
    */
  val flagMetrics: Seq[String] = Seq(
    "instore_discount", "campaign_coupon_discount",
    "manuf_coupon_discount", "total_coupon_discount")

  val moneyMetrics: Seq[String] = Seq(
    "amount_list", "instore_discount", "campaign_coupon_discount",
    "manuf_coupon_discount", "total_coupon_discount", "amount_paid")

  private def dlit(d: LocalDate): Column = lit(Date.valueOf(d))

  /** Names of the per-row helper columns the builder's pre-projection adds
    * (see [[graft.features.FeatureBuilder.build]]) and the engine forms
    * read: one boolean per window, one boolean per flag metric, one
    * DECIMAL(18,4) copy per money metric. Hoisting them into physical
    * columns evaluates each ONCE per row instead of once per referencing
    * aggregate — the money cast in particular allocates per evaluation.
    */
  def winFlagCol(w: WindowDef): String = s"__w_${w.name}"
  def posFlagCol(m: String): String = s"__pos_$m"
  def decCol(m: String): String = s"__dec_$m"

  /** All aggregates for one window, computed over a shared grouped pass:
    * the window filter is folded into every aggregate (`when(inWin, …)`)
    * instead of the reference's filter-then-aggregate-then-join-4-windows
    * chain — one logical aggregation for all windows (scale redesign,
    * SURVEY.md §4).
    */
  def aggsFor(w: WindowDef, referenceExact: Boolean = false): Seq[AggDef] = {
    import Engine._
    val s = w.name
    // reference forms read the fact, engine forms the builder's helpers
    val inWin = col("day").between(dlit(w.start), dlit(w.end))
    val inWinSql = s"day BETWEEN ${w.startSql} AND ${w.endSql}"
    val inWinE = col(winFlagCol(w))
    def pos(m: String): Column = col(m) > 0.0
    def hasPos(m: String): Column = col(s"__dp_haspos_$m") === 1
    // exact distinct count of `k` under (window ∧ flag m); day distincts
    // fuse over the partials, basket/product ones split per entity
    def distinctOf(name: String, k: String, flag: Option[String]): AggDef = {
      val cond = flag.fold(inWin)(m => inWin && pos(m))
      val condSql = flag.fold(inWinSql)(m => s"$inWinSql AND $m > 0.0")
      val engine =
        if (k == "day")
          OverDays(count(when(flag.fold(inWinE)(m => inWinE && hasPos(m)), lit(1))))
        else PerEntity(k, flag.fold(inWinE)(m => inWinE && col(posFlagCol(m))))
      AggDef(name, s"COUNT(DISTINCT CASE WHEN $condSql THEN $k END)",
        countDistinct(when(cond, col(k))), engine)
    }

    // A2: base multi-aggregates (`04a:183-199`). Deliberate departure,
    // made OPT-OUT by `referenceExact`: the reference's `products` is a
    // plain `fn.count('product_id')` (`04a:194`) — numerically identical
    // to `line_items` whenever product_id is non-null, which makes its
    // per-product ratio family duplicate the per-line_item one. The
    // engine default counts DISTINCT products, which is what the
    // downstream ratios (products_per_basket, …_per_product) clearly
    // intend; `referenceExact = true` reproduces the reference's plain
    // count verbatim so parity audits can diff outputs bit-for-bit.
    // (Only this one metric differs: the `products_with_*` conditional
    // counts are countDistinct in the reference too, `04a:229-241`.)
    val productsAgg =
      if (referenceExact)
        AggDef(s"products_$s", s"COUNT(CASE WHEN $inWinSql THEN product_id END)",
          count(when(inWin, col("product_id"))),
          OverDays(sum(when(inWinE, col("__dp_pid")))))
      else distinctOf(s"products_$s", "product_id", None)
    val base = Seq(
      distinctOf(s"days_$s", "day", None),
      distinctOf(s"baskets_$s", "basket_id", None),
      productsAgg,
      AggDef(s"line_items_$s", s"COUNT(CASE WHEN $inWinSql THEN 1 END)",
        count(when(inWin, lit(1))),
        OverDays(sum(when(inWinE, col("__dp_lines"))))),
      AggDef(s"units_$s", s"SUM(CASE WHEN $inWinSql THEN units END)",
        sum(when(inWin, col("units"))),
        OverDays(sum(when(inWinE, col("__dp_units"))))))

    // A2: money sums (exact decimal accumulation)
    val money = moneyMetrics.map { m =>
      AggDef(s"${m}_$s",
        s"CAST(SUM(CAST(CASE WHEN $inWinSql THEN $m END AS DECIMAL(18,4))) AS DOUBLE)",
        sum(when(inWin, col(m).cast("decimal(18,4)"))).cast("double"),
        OverDays(sum(when(inWinE, col(s"__dp_dec_$m"))).cast("double")))
    }

    // A3: conditional distinct counts — 4 flag metrics × 3 entities,
    // reference-exact names (`04a:201-241`: `days_with_<metric>`, …)
    val condDistinct = flagMetrics.flatMap { m =>
      Seq("day" -> "days", "basket_id" -> "baskets", "product_id" -> "products")
        .map { case (k, kn) => distinctOf(s"${kn}_with_${m}_$s", k, Some(m)) }
    }

    // A4: conditional counts (`04a:243-255`: `line_items_with_<metric>`)
    val condCount = flagMetrics.map { m =>
      AggDef(s"line_items_with_${m}_$s",
        s"COUNT(CASE WHEN $inWinSql AND $m > 0.0 THEN 1 END)",
        count(when(inWin && pos(m), lit(1))),
        OverDays(sum(when(inWinE, col(s"__dp_licnt_$m")))))
    }

    // A5: recency (days since last event), the reference's exact form
    // (`04a:527-546`): over rows with `day <= max_day` (the window's own
    // end), flagged rows contribute their true staleness
    // `max_day - day`, un-flagged rows contribute the constant
    // `max_day - min_day` (= days_in_window - 1) — so the result is the
    // true flag recency, floored by the mere existence of ANY activity,
    // and a key with no rows at or before the window end yields NULL →
    // 0.0 after the fillna stage, exactly like the reference's missing
    // spine rows. ONE deliberate bound: the engine scans the 364-day
    // pre-filter horizon, not all history, so activity older than that
    // can neither supply the floor nor the staleness value (the
    // reference's unbounded `df.filter(day <= max_day)` rescans full
    // history per window — the bounded scan is the scale design).
    // (`days_since_<window>` without a flag is an engine extra: true
    // staleness of ANY activity, unfloored.)
    val inScan = col("day") <= dlit(w.end)
    val inScanSql = s"day <= ${w.endSql}"
    val dd = datediff(dlit(w.end), col("day"))
    val ddSql = s"datediff('day', day, ${w.endSql})"
    val sinceFloor = datediff(dlit(w.end), dlit(w.start))
    val sinceFloorSql = s"datediff('day', ${w.startSql}, ${w.endSql})"
    val daysSinceAny = min(when(inScan, dd))
    val daysSince =
      AggDef(s"days_since_$s", s"MIN(CASE WHEN $inScanSql THEN $ddSql END)",
        daysSinceAny, OverDays(daysSinceAny)) +:
        flagMetrics.map { m =>
          AggDef(s"days_since_${m}_$s",
            s"MIN(CASE WHEN $inScanSql THEN (CASE WHEN $m > 0.0 THEN $ddSql ELSE $sinceFloorSql END) END)",
            min(when(inScan, when(pos(m), dd).otherwise(sinceFloor))),
            OverDays(min(when(inScan,
              when(hasPos(m),
                when(col(s"__dp_hasnonpos_$m") === 1, least(dd, sinceFloor))
                  .otherwise(dd))
                .otherwise(sinceFloor)))))
        }

    base ++ money ++ condDistinct ++ condCount ++ daysSince
  }

  /** Stage 1 of the two-stage "day fusion" behind every [[Engine.OverDays]]
    * aggregate (guide §2.3 "aggregate before you shuffle", applied to
    * per-row CPU: the wide conditional aggregates were the measured cost
    * of a grain build — 18-48 s of task CPU at sf0.1 — and most of them
    * reduce EXACTLY over a (grain keys, day) pre-aggregate whose
    * cardinality is bounded by keys × horizon days, not by fact rows).
    *
    * Grouped by (keys, day), these ~21 WINDOW-INDEPENDENT partials are
    * row/units/product counts, exact decimal money sums, per-flag
    * conditional row counts, and per-flag has-positive / has-non-positive
    * indicators. Each `OverDays(fused)` column then reduces them per key
    * with the window conditions folded in, value-identical to its
    * `reference`:
    *
    *  - `COUNT(DISTINCT CASE WHEN inWin THEN day END)` ≡ `COUNT(CASE
    *    WHEN inWin THEN 1 END)` over one-row-per-day partials;
    *  - `SUM/COUNT over rows` ≡ `SUM over per-day SUM/COUNT partials`
    *    (decimal sums stay exact — addition is associative on the exact
    *    decimal lattice; count/int sums are exact integers);
    *  - the recency `MIN(CASE WHEN day <= end THEN (CASE WHEN pos THEN
    *    dd ELSE floor END) END)`: within one day dd and floor are
    *    constants, so the per-day minimum is `dd` if only positive rows,
    *    `floor` if only non-positive (incl. null-flag) rows, and
    *    `LEAST(dd, floor)` when both kinds occur — reconstructed from
    *    the two indicators. (`pos` null ⇒ the original CASE falls to its
    *    ELSE, i.e. null flags count as non-positive — preserved.)
    *
    * Only the basket/product exact-distinct families cannot reduce by
    * day (an entity may span days) — they are [[Engine.PerEntity]].
    * FeatureSpec pins every engine column against its `reference`.
    */
  def dayPartials(referenceExact: Boolean): Seq[Column] = {
    val base = Seq(
      count(lit(1)).as("__dp_lines"),
      sum(col("units")).as("__dp_units")) ++
      (if (referenceExact) Seq(count(col("product_id")).as("__dp_pid")) else Nil)
    val money = moneyMetrics.map(m => sum(col(decCol(m))).as(s"__dp_dec_$m"))
    val flags = flagMetrics.flatMap { m =>
      Seq(
        count(when(col(posFlagCol(m)), lit(1))).as(s"__dp_licnt_$m"),
        max(when(col(posFlagCol(m)), lit(1)).otherwise(lit(0)))
          .as(s"__dp_haspos_$m"),
        max(when(col(posFlagCol(m)), lit(0)).otherwise(lit(1)))
          .as(s"__dp_hasnonpos_$m"))
    }
    base ++ money ++ flags
  }

  /** Null-safe ratio, one definition for the builder and the oracle SQL.
    * The reference's plain divisions null out on 0 denominators and are
    * fillna'd to 0.0 downstream (`04a:595`); folding the guard in here gives the same
    * value in one step. 9-dp-quantized on BOTH engines (the suite-wide
    * computed-double convention): the division inputs are exact
    * (decimal sums / counts) so a single IEEE divide is bit-stable, but
    * quantizing here removes the whole feature family from the
    * oracle-version ULP-risk surface — ~1,170 ratio columns across the
    * three feature tables and training_set in one definition.
    */
  private def ratio(name: String, num: String, den: String): PostDef =
    PostDef(name,
      when(col(den) =!= 0.0, round(col(num) / col(den), 9)).otherwise(0.0),
      s"CASE WHEN $den <> 0.0 THEN ROUND($num / $den, 9) ELSE 0.0 END")

  /** Ratio against the constant `days_in_window` (`04a:313-367`) — the
    * denominator is a positive literal, no guard needed. Quantized like
    * [[ratio]].
    */
  private def perSet(w: WindowDef, name: String, num: String): PostDef =
    PostDef(name, round(col(num) / lit(w.days.toDouble), 9),
      s"ROUND($num / ${w.days}.0, 9)")

  /** P3: derived ratio features over one window's cleaned aggregates —
    * the reference's six ratio families at full width (`04a:258-525`),
    * reference-exact names. `products_per_day_${s}_$s` reproduces the
    * double-window-suffix quirk (`04a:263-266` suffixes inline, the
    * rename loop at `04a:555-559` suffixes again) — kept for parity.
    * `units_per_basket_$s` is an engine extra (the silver carries units).
    */
  def ratiosFor(w: WindowDef): Seq[PostDef] = {
    val s = w.name

    // per-day ratios (`04a:259-306`)
    val perDay =
      Seq(
        ratio(s"baskets_per_day_$s", s"baskets_$s", s"days_$s"),
        ratio(s"products_per_day_${s}_$s", s"products_$s", s"days_$s"),
        ratio(s"line_items_per_day_$s", s"line_items_$s", s"days_$s")) ++
      moneyMetrics.map(m => ratio(s"${m}_per_day_$s", s"${m}_$s", s"days_$s")) ++
      flagMetrics.map(m =>
        ratio(s"days_with_${m}_per_days_$s", s"days_with_${m}_$s", s"days_$s"))

    // per-day-in-set ratios (`04a:308-368`)
    val perDaysInSet =
      Seq(
        perSet(w, s"days_to_days_in_set_$s", s"days_$s"),
        perSet(w, s"baskets_per_days_in_set_$s", s"baskets_$s"),
        perSet(w, s"products_to_days_in_set_$s", s"products_$s"),
        perSet(w, s"line_items_per_days_in_set_$s", s"line_items_$s")) ++
      moneyMetrics.map(m => perSet(w, s"${m}_per_days_in_set_$s", s"${m}_$s")) ++
      flagMetrics.map(m =>
        perSet(w, s"days_with_${m}_per_days_in_set_$s", s"days_with_${m}_$s"))

    // per-basket ratios (`04a:370-419`)
    val perBasket =
      Seq(
        ratio(s"products_per_basket_$s", s"products_$s", s"baskets_$s"),
        ratio(s"line_items_per_basket_$s", s"line_items_$s", s"baskets_$s"),
        ratio(s"units_per_basket_$s", s"units_$s", s"baskets_$s")) ++
      moneyMetrics.map(m => ratio(s"${m}_per_basket_$s", s"${m}_$s", s"baskets_$s")) ++
      flagMetrics.map(m =>
        ratio(s"baskets_with_${m}_per_baskets_$s", s"baskets_with_${m}_$s", s"baskets_$s"))

    // per-product ratios (`04a:421-465`)
    val perProduct =
      Seq(ratio(s"line_items_per_product_$s", s"line_items_$s", s"products_$s")) ++
      moneyMetrics.map(m => ratio(s"${m}_per_product_$s", s"${m}_$s", s"products_$s")) ++
      flagMetrics.map(m =>
        ratio(s"products_with_${m}_per_product_$s", s"products_with_${m}_$s", s"products_$s"))

    // per-line_item ratios (`04a:467-506`)
    val perLineItem =
      moneyMetrics.map(m => ratio(s"${m}_per_line_item_$s", s"${m}_$s", s"line_items_$s")) ++
      flagMetrics.map(m =>
        ratio(s"products_with_${m}_per_line_item_$s", s"products_with_${m}_$s", s"line_items_$s"))

    // amount_list ratios (`04a:508-525`)
    val toAmountList = Seq(
      ratio(s"campaign_coupon_discount_to_amount_list_$s",
        s"campaign_coupon_discount_$s", s"amount_list_$s"),
      ratio(s"manuf_coupon_discount_to_amount_list_$s",
        s"manuf_coupon_discount_$s", s"amount_list_$s"),
      ratio(s"total_coupon_discount_to_amount_list_$s",
        s"total_coupon_discount_$s", s"amount_list_$s"),
      ratio(s"amount_paid_to_amount_list_$s",
        s"amount_paid_$s", s"amount_list_$s"))

    perDay ++ perDaysInSet ++ perBasket ++ perProduct ++ perLineItem ++ toAmountList
  }
}
