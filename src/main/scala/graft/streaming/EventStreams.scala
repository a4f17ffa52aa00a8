package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming forms of the event operators (SURVEY.md §2.9
  * notes the reference has none — freshness there is daily batch re-runs;
  * this engine adds the true streaming path so the same pipeline can run
  * incrementally: readStream → shared transform → writeStream).
  */
object EventStreams {

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(start: Timestamp, last: Timestamp,
      nEvents: Long, sumValue: Double)

  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long, session_value: Double)

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over an events directory (parquet). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)
      .withColumn("ts", date_trunc("second", col("ts")))

  /** Watermarked tumbling-window aggregate — same shape as
    * EventOps.hourlyByType, plus the 2-hour late-data bound. Distinct
    * users use approx_count_distinct: exact distinct state is unbounded in
    * append-mode streams, the sketch is mergeable and bounded.
    */
  def hourlyByTypeStream(ev: DataFrame): DataFrame =
    ev.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("n_users_approx"),
        // decimal accumulation like the batch twin (EventOps.hourlyByType):
        // a raw double sum would depend on micro-batch slicing order
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("n_users_approx"), col("sum_value"))

  /** Stateful sessionization with flatMapGroupsWithState: the streaming
    * twin of EventOps.sessionize (same 30-minute gap). State per user is
    * one open session; a session closes (emits) when a new event arrives
    * past the gap. No timeout is armed, so a bounded replay (AvailableNow)
    * terminates, and each user's last session stays open in state.
    */
  def sessionizeStream(spark: SparkSession, ev: DataFrame): Dataset[SessionOut] = {
    import spark.implicits._
    val gapMs = EventOps.sessionGapSeconds * 1000L
    ev.select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, events: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = events.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var closed = List.empty[SessionOut]
          var cur = state.getOption
          sorted.foreach { e =>
            cur match {
              case Some(s) if e.ts.getTime - s.last.getTime <= gapMs =>
                cur = Some(s.copy(last = e.ts, nEvents = s.nEvents + 1,
                  sumValue = s.sumValue + e.value))
              case Some(s) =>
                closed ::= SessionOut(userId, s.start, s.last, s.nEvents, s.sumValue)
                cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
              case None =>
                cur = Some(SessionState(e.ts, e.ts, 1L, e.value))
            }
          }
          cur.foreach(state.update)
          closed.reverseIterator
      }
  }

  /** Stream-stream interval join: the streaming twin of
    * EventOps.attribution. Both sides carry a watermark and the join
    * condition bounds purchase_ts to a window after view_ts, which is
    * exactly what the engine needs to derive per-side state retention
    * (a view's state is dropped once the purchase watermark passes
    * view_ts + window + delay; a purchase's once the view watermark
    * passes purchase_ts + delay) — bounded state at any stream length.
    * The join itself is [[EventOps.attributionJoin]], verbatim: one
    * logical query, two execution modes.
    */
  def attributionStream(ev: DataFrame,
      windowSeconds: Long = EventOps.attributionWindowSeconds,
      watermarkDelay: String = "1 hour"): DataFrame =
    EventOps.attributionJoin(
      EventOps.viewsOf(ev).withWatermark("view_ts", watermarkDelay),
      EventOps.purchasesOf(ev).withWatermark("purchase_ts", watermarkDelay),
      windowSeconds)

  /** Streaming CDC compaction: [[EventOps.cdcLatestWithTombstones]]
    * verbatim, run in Update output mode — each micro-batch emits the
    * NEW champion row for every key the batch touched (tombstones
    * included, so an upsert sink can apply deletes). State per key is
    * one struct + a count: bounded by live keys at any stream length;
    * max/count are both partial-aggregable so each micro-batch combines
    * map-side before touching the state store. One logical query, two
    * execution modes — the batch form is the oracle-verified
    * `cdc_latest_state` entry.
    */
  def cdcLatestStream(ev: DataFrame): DataFrame =
    EventOps.cdcLatestWithTombstones(ev)

  /** Run a streaming query into an in-memory table and drain it — the
    * harness for tests and local smoke (file-driven batch ≡ stream).
    */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append): StreamingQuery = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }
}
