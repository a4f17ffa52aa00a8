package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream operators over the `events` table (`event_id, ts, user_id,
  * event_type, value, props`). Each has a batch form (below, oracle-
  * checked) and a streaming form (`EventStreams`) sharing the same
  * transformations — the Structured Streaming way: one logical query,
  * two execution modes.
  *
  * Timestamps are truncated to seconds first: the fixture carries
  * nanosecond parquet timestamps, which Spark reads at microsecond
  * precision and DuckDB at nanosecond — truncation makes both engines see
  * identical instants.
  */
object EventOps {

  def events(spark: SparkSession, sfDir: String): DataFrame = {
    // Fixture generations have stored `ts` as TIMESTAMP(NANOS) (which
    // Spark's vectorized reader rejects — readable only via the
    // nanosAsLong legacy conf, as an epoch-nano LONG) and, since round 5,
    // as plain TIMESTAMP(MICROS). Branch on the READ schema so both
    // encodings surface identically: seconds precision, matching the
    // oracle's CAST(date_trunc('second', ts) AS TIMESTAMP). The legacy
    // conf must stay set for the LIFETIME of the returned (lazy)
    // DataFrame — the parquet footer-to-Spark schema conversion re-runs
    // per file at scan execution and consults the session conf then, so
    // a set-and-restore here breaks the nano read (verified:
    // PARQUET_TYPE_ILLEGAL at task time). It is additive-safe: it only
    // changes how TIMESTAMP(NANOS) columns — which stock Spark cannot
    // read at all — are surfaced; MICROS columns keep their type.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` = exact long division. `floor(ts / 1e9)` would divide as
        // DOUBLE: epoch nanos (~1.8e18) exceed 2^53, so a timestamp
        // within the double grid spacing (~256ns) below a second
        // boundary could round up and truncate to the WRONG second — a
        // silent divergence from the oracle's exact date_trunc.
        raw.withColumn("ts", timestamp_seconds(expr("ts div 1000000000")))
      case _ =>
        raw.withColumn("ts", date_trunc("second", col("ts")))
    }
  }

  /** Tumbling-window aggregate (1 hour × event_type): the batch form of a
    * `groupBy(window($"ts", "1 hour"), …)` streaming agg — window() itself
    * is used so the same plan runs under readStream.
    */
  def hourlyByType(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("n_users"), col("sum_value"))

  /** Sessionization, batch form: gaps-and-islands with lag + running sum
    * (the SQL-expressible twin of the `flatMapGroupsWithState` streaming
    * sessionizer). Session gap = 30 minutes.
    */
  val sessionGapSeconds: Long = 1800L

  /** Gaps-and-islands session assignment — THE sessionizer, shared by
    * every consumer of the 30-minute rule (sessionize, sessionPaths,
    * MarkovAttribution.transitions) so the gap semantics (break at
    * diff > gap, the boundary the sf0.1 full-corpus audit pinned)
    * live in exactly one place. Appends `session_seq`; scratch columns
    * are dropped. One shuffle + one sort per user serves the whole
    * lineage.
    */
  def withSessionSeq(ev: DataFrame,
      gapSeconds: Long = sessionGapSeconds): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    ev.withColumn("__epoch", unix_timestamp(col("ts")))
      .withColumn("__prev_epoch", lag(col("__epoch"), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev_epoch").isNull ||
          col("__epoch") - col("__prev_epoch") > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum(col("__new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("__epoch", "__prev_epoch", "__new_session")
  }

  def sessionize(ev: DataFrame): DataFrame = {
    withSessionSeq(ev).groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("session_value"))
  }

  /** Session path analysis: adjacent event-type transitions WITHIN a
    * session (the clickstream "where do they go next" table, the
    * session-scoped twin of the cross-basket `basket_transitions`).
    * Reuses the sessionizer's gaps-and-islands assignment, then one lead
    * per event — both windows partition by (user, session): bounded by a
    * single session's events, never a global sort. `__START__` marks
    * session entry, so landing-type distribution falls out of the same
    * table.
    */
  def sessionPaths(ev: DataFrame): DataFrame = {
    val assigned = withSessionSeq(ev)
    val bySession = Window.partitionBy(col("user_id"), col("session_seq"))
      .orderBy(col("ts"), col("event_id"))
    val edges = assigned
      .withColumn("prev_type", lag(col("event_type"), 1).over(bySession))
      .select(
        coalesce(col("prev_type"), lit("__START__")).as("from_type"),
        col("event_type").as("to_type"))
    edges.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("from_total", sum(col("n_transitions")).over(
        Window.partitionBy(col("from_type"))))
      .withColumn("p_next",
        round(col("n_transitions").cast("double")
          / col("from_total").cast("double"), 9))
      .select("from_type", "to_type", "n_transitions", "p_next")
  }

  /** Attribution window: a purchase is credited to every same-user view
    * in the preceding `attributionWindowSeconds` (view inclusive, window
    * end exclusive).
    */
  val attributionWindowSeconds: Long = 1800L

  /** The view side of the attribution join, renamed so both sides (and
    * the streaming twin's watermarks) keep disjoint column names.
    */
  def viewsOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"),
        col("event_id").as("view_id"), col("ts").as("view_ts"))

  def purchasesOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"),
        col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))

  /** View→purchase interval join, shared verbatim by the batch entry and
    * [[EventStreams.attributionStream]] (the Structured Streaming
    * stream-stream join twin — same plan, two execution modes).
    *
    * Scale shape: an equi-join on user, shuffled on the user key, with
    * the time range as a join-level predicate — fan-out per purchase is
    * bounded by views-per-user-per-window, never a time-only cross
    * product. The timestamp-interval form of the bound (not epoch
    * subtraction) is what lets the streaming engine derive state watermark
    * bounds from the same condition.
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
      windowSeconds: Long = attributionWindowSeconds): DataFrame =
    views.join(purchases,
        col("v_user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <
            col("view_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(
        col("v_user_id").as("user_id"),
        col("view_id"), col("purchase_id"),
        col("view_ts"), col("purchase_ts"),
        (unix_timestamp(col("purchase_ts")) - unix_timestamp(col("view_ts")))
          .cast("long").as("lag_seconds"),
        col("purchase_value"))

  /** Batch attribution over the whole event history. */
  def attribution(ev: DataFrame,
      windowSeconds: Long = attributionWindowSeconds): DataFrame =
    attributionJoin(viewsOf(ev), purchasesOf(ev), windowSeconds)

  /** Per-user rolling features over event time: previous value, 3-event
    * moving sum/average, running total, and the event index — the lag /
    * moving-window feature block of a sequence model's training table.
    *
    * Window sums accumulate through DECIMAL(18,4) (exact, order-free);
    * averages are one double division of exact inputs — bit-identical in
    * the DuckDB oracle without rounding. Scale shape: ONE shuffle on
    * user_id and one sort per partition serves all five windows (same
    * partitioning + ordering → a single Window exec), state bounded by
    * the frame, never the history.
    */
  def rollingFeatures(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val w3 = w.rowsBetween(-2, Window.currentRow)
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val v4 = col("value").cast("decimal(18,4)")
    ev.select(
      col("event_id"), col("user_id"), col("ts"),
      v4.cast("double").as("value"),
      row_number().over(w).cast("long").as("event_index"),
      lag(v4, 1).over(w).cast("double").as("prev_value"),
      sum(v4).over(w3).cast("double").as("sum_3"),
      (sum(v4).over(w3).cast("double") /
        count(v4).over(w3).cast("double")).as("avg_3"),
      sum(v4).over(cum).cast("double").as("cum_value"))
  }

  /** Cohort retention: users grouped by their first-seen day, counted on
    * each later active day (the day-offset retention matrix). The
    * distinct (user, day) pre-aggregate makes the final count a plain
    * `count(*)` — no count_distinct Expand; both aggregations cluster so
    * the user-day dedup and the first-day min share one shuffle on
    * user_id, and the cohort matrix is at most |users| × horizon rows.
    */
  def cohorts(ev: DataFrame): DataFrame = {
    val days = ev.select(col("user_id"), col("ts").cast("date").as("day"))
      .distinct()
    val first = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(first, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Ordered conversion funnel: for each user, the earliest chain of
    * `steps` event types where every step happens STRICTLY after the
    * previous one (the greedy earliest chain — if any ordered chain
    * exists, the earliest-first one does too, so "reached stage k" is
    * exact, not heuristic). Users who never perform step 1 are absent;
    * unreached stages are null; `reached_stage` counts the chain length.
    *
    * Scale shape: step 1 is one user-keyed min aggregate; each later
    * step is a user-keyed join of that step's events against the
    * previous frontier (map-side-combinable min after an equi-join on
    * user) — k−1 small joins, no window sort over full history, no
    * per-user event collection. All timestamps are exact min aggregates,
    * so the DuckDB oracle matches without float conventions.
    */
  def funnel(ev: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, s"funnel: need at least 2 steps, got $steps")
    val first = ev.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("ts")).as("step1_ts"))
    val stages = steps.tail.zipWithIndex.foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"step${i + 1}_ts"
        val cur = s"step${i + 2}_ts"
        val nxt = ev.filter(col("event_type") === step)
          .select(col("user_id"), col("ts"))
          .join(acc.select(col("user_id"), col(prev)), "user_id")
          .filter(col("ts") > col(prev))
          .groupBy("user_id").agg(min(col("ts")).as(cur))
        acc.join(nxt, Seq("user_id"), "left_outer")
    }
    val reached = steps.indices.tail.foldLeft(lit(1L)) { (acc, i) =>
      acc + when(col(s"step${i + 1}_ts").isNotNull, 1L).otherwise(0L)
    }
    stages.withColumn("reached_stage", reached)
  }

  /** Earliest-anchored funnel with a per-step conversion WINDOW: step
    * k+1 must land in `(step_k_ts, step_k_ts + maxGapSeconds]`. The
    * "purchase within an hour of the click" product-analytics form; the
    * anchor is each user's EARLIEST qualifying event per step (a defined
    * statistic — the Amplitude-style first-touch convention — not a
    * search over all anchor combinations, which is exponential and not
    * what funnel tools report). Same k−1 user-keyed-join shape as
    * [[funnel]]: no window sort over history.
    */
  def funnelWindowed(ev: DataFrame, steps: Seq[String],
      maxGapSeconds: Long): DataFrame = {
    require(steps.size >= 2, s"funnelWindowed: need at least 2 steps")
    require(maxGapSeconds >= 1, "funnelWindowed: maxGapSeconds >= 1")
    val first = ev.filter(col("event_type") === steps.head)
      .groupBy("user_id").agg(min(col("ts")).as("step1_ts"))
    val stages = steps.tail.zipWithIndex.foldLeft(first) {
      case (acc, (step, i)) =>
        val prev = s"step${i + 1}_ts"
        val cur = s"step${i + 2}_ts"
        val nxt = ev.filter(col("event_type") === step)
          .select(col("user_id"), col("ts"))
          .join(acc.select(col("user_id"), col(prev)), "user_id")
          .filter(col("ts") > col(prev) &&
            unix_timestamp(col("ts")) - unix_timestamp(col(prev))
              <= maxGapSeconds)
          .groupBy("user_id").agg(min(col("ts")).as(cur))
        acc.join(nxt, Seq("user_id"), "left_outer")
    }
    val reached = steps.indices.tail.foldLeft(lit(1L)) { (acc, i) =>
      acc + when(col(s"step${i + 1}_ts").isNotNull, 1L).otherwise(0L)
    }
    stages.withColumn("reached_stage", reached)
  }

  /** Position-based (U-shaped) multi-touch attribution: per purchase,
    * in-window views weighted 0.4 first / 0.4 last / 0.2 split across
    * middles (n=1 → 1.0, n=2 → 0.5 each) — the heuristic bookend to
    * [[attributionTimeDecay]] (recency-weighted) and the Markov
    * removal-effect model (data-driven). Same interval join; the
    * position rank is a window bounded per purchase's touch list.
    */
  def attributionPosition(ev: DataFrame): DataFrame = {
    val touches = attribution(ev)
    val byPurchase = Window.partitionBy(col("purchase_id"))
    val ordered = byPurchase.orderBy(col("view_ts"), col("view_id"))
    touches
      .withColumn("pos", row_number().over(ordered).cast("long"))
      .withColumn("n_touches", count(lit(1)).over(byPurchase))
      .withColumn("weight", round(
        when(col("n_touches") === 1L, lit(1.0))
          .when(col("n_touches") === 2L, lit(0.5))
          .when(col("pos") === 1L, lit(0.4))
          .when(col("pos") === col("n_touches"), lit(0.4))
          .otherwise(lit(0.2) / (col("n_touches") - 2L).cast("double")), 9))
      .withColumn("attributed_value",
        round(col("weight") * col("purchase_value"), 6))
      .select("user_id", "purchase_id", "view_id", "pos", "n_touches",
        "weight", "attributed_value")
  }

  /** Per-user recency/frequency over event history — the events-table
    * variant of the feature A2/A5 family.
    */
  def userActivity(ev: DataFrame): DataFrame = {
    // date of the global max timestamp, cast INSIDE the session (session
    // timezone, same conversion the per-row cast below uses) — a driver-side
    // Timestamp.toLocalDateTime would apply the JVM default zone instead.
    // Empty input → any anchor works: the grouped result below has zero
    // rows regardless, and the null row would otherwise NPE here.
    val maxRow = ev.agg(max(col("ts")).cast("date")).head()
    val maxDay =
      if (maxRow.isNullAt(0)) java.time.LocalDate.ofEpochDay(0)
      else maxRow.getDate(0).toLocalDate
    ev.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("event_type")).as("n_types"),
      sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"),
      max(col("ts")).as("last_seen"),
      datediff(lit(java.sql.Date.valueOf(maxDay)),
        max(col("ts")).cast("date")).cast("long").as("days_since_last"))
  }

  /** Load-completeness monitor: daily event volume against its trailing
    * 28-day mean, with MISSING days materialized as explicit zero rows —
    * the partial-load detector a nightly-ingest table needs (a day that
    * simply never arrived is invisible to any per-existing-row check).
    * `alarm` fires when a day carries under half its trailing-mean
    * volume with at least 14 baseline days.
    *
    * Scale shape: one hash aggregate over the facts to daily counts;
    * the calendar spine (sequence + explode over the driver-collected
    * bounds — one control-row action), the left join, and the trailing
    * window all run on the DAY table, calendar-bounded at any corpus
    * size. Exact integer sums close the mean/ratio in one fixed double
    * association; the alarm compares the 9-dp-rounded ratio so the
    * threshold predicate cannot straddle an ulp.
    */
  def loadCompleteness(ev: DataFrame): DataFrame = {
    val daily = ev.groupBy(col("ts").cast("date").as("day"))
      .agg(count(lit(1)).as("n_events"))
    val b = daily.agg(min(col("day")), max(col("day"))).head()
    if (b.isNullAt(0)) return daily
      .select(col("day"), col("n_events"), lit(0L).as("n_base"),
        lit(null).cast("double").as("trailing_mean"),
        lit(null).cast("double").as("ratio"), lit(false).as("alarm"))
    val cal = ev.sparkSession.range(1).select(explode(sequence(
      lit(b.getDate(0)), lit(b.getDate(1)),
      expr("INTERVAL 1 DAY"))).as("day"))
    val full = cal.join(daily, Seq("day"), "left_outer")
      .select(col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
    // no partitionBy: `full` is the calendar spine, one row per day
    // between the bounds, so the single-task window is calendar-sized
    val w = Window.orderBy(col("day")).rowsBetween(-28, -1)
    full
      .withColumn("n_base", count(lit(1)).over(w))
      .withColumn("s_base", sum(col("n_events")).over(w))
      .select(col("day"), col("n_events"), col("n_base"),
        when(col("n_base") > 0, round(
          col("s_base").cast("double") / col("n_base").cast("double"), 9))
          .as("trailing_mean"),
        when(col("s_base") > 0, round(
          col("n_events").cast("double")
            / (col("s_base").cast("double") / col("n_base").cast("double")),
          9)).as("ratio"))
      .withColumn("alarm",
        col("n_base") >= 14 && col("ratio").isNotNull &&
          col("ratio") < 0.5)
  }

  /** Latest-wins CDC compaction: reduce an ordered change log to current
    * state. The event stream is read as a change feed keyed by
    * `(user_id, k)` (`k` from the JSON props): every non-`error` event
    * UPSERTs the key's value, an `error` event DELETEs the key; the
    * newest event per key (by `ts`, ties by `event_id`) decides. This is
    * the table-maintenance primitive a CDC sink (Debezium feed, Delta
    * change feed) runs on every compaction cycle.
    *
    * Scale shape: ONE partial-aggregable `max(struct(ts, event_id, op,
    * value))` per key — map-side combine reduces each input partition to
    * its per-key champion before the shuffle, so the exchange carries one
    * narrow row per live key, never the change history; no window sort,
    * no per-key collection. (The streaming twin is the same argmax kept
    * in `mapGroupsWithState`.) Deletes are dropped AFTER the argmax —
    * a delete only wins (and suppresses the key) if nothing newer exists.
    */
  def cdcLatestState(ev: DataFrame): DataFrame =
    cdcLatestWithTombstones(ev).filter(col("op") === "upsert")
      .drop("op")

  /** [[cdcLatestState]] with the winning op KEPT: one row per key with
    * `op` ∈ {upsert, delete} — the form a change-applying sink needs
    * (deletes arrive as tombstones instead of silently vanishing). This
    * exact plan also runs under readStream in Update output mode
    * ([[EventStreams.cdcLatestStream]]): the aggregation state per key is
    * the same one champion struct, bounded by live keys, never the
    * change history.
    */
  def cdcLatestWithTombstones(ev: DataFrame): DataFrame = {
    val keyed = ev.select(
      col("user_id"),
      get_json_object(col("props"), "$.k").cast("long").as("k"),
      col("ts"), col("event_id"),
      when(col("event_type") === "error", lit("delete"))
        .otherwise(lit("upsert")).as("op"),
      col("value"))
    keyed.groupBy("user_id", "k")
      .agg(
        max(struct(col("ts"), col("event_id"), col("op"), col("value")))
          .as("last"),
        count(lit(1)).as("n_changes"))
      .select(col("user_id"), col("k"),
        col("last.op").as("op"),
        col("last.value").as("value"),
        col("last.ts").as("updated_ts"),
        col("n_changes"))
  }

  /** Time-decay multi-touch attribution: every view inside the window
    * before a purchase gets credit weighted by recency,
    * `w = 1 / (1 + lag/600)` (rational decay — chosen over `exp` because
    * both engines evaluate `/` and `+` to the identical IEEE double,
    * while libm `exp` may differ in the last ulp), normalized per
    * purchase so the shares sum to 1, and the purchase value is split by
    * share. Reduces to last-touch when one view matched.
    *
    * Scale shape: the interval join is [[attributionJoin]] (user-keyed
    * equi-join, fan-out bounded by views-per-user-per-window); the
    * normalizer is a purchase-keyed aggregate over that join's output —
    * weights are quantized to DECIMAL(18,9) before the per-purchase sum
    * so the total is independent of partial-aggregation order, and the
    * share/value divisions are single double ops on exact inputs.
    */
  def attributionTimeDecay(ev: DataFrame,
      windowSeconds: Long = attributionWindowSeconds,
      halfScaleSeconds: Double = 600.0): DataFrame = {
    val touches = attribution(ev, windowSeconds)
      .withColumn("weight",
        round(lit(1.0) / (lit(1.0) +
          col("lag_seconds").cast("double") / lit(halfScaleSeconds)), 9)
          .cast("decimal(18,9)"))
    val totals = touches.groupBy("purchase_id")
      .agg(sum(col("weight")).as("w_total"), count(lit(1)).as("n_touches"))
    touches.join(totals, Seq("purchase_id"))
      .select(
        col("user_id"), col("purchase_id"), col("view_id"),
        col("lag_seconds"), col("n_touches"),
        col("weight").cast("double").as("weight"),
        round(col("weight").cast("double") /
          col("w_total").cast("double"), 9).as("share"),
        round(col("weight").cast("double") / col("w_total").cast("double")
          * col("purchase_value"), 6).as("attributed_value"))
  }
}
