package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{EventOps, EventStreams}

/** Streaming ≡ batch: the same event transformations through readStream
  * (file source, AvailableNow) must agree with the batch operators.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    (1L, ts("2024-01-01 10:00:00"), 100L, "click", 1.0, ""),
    (2L, ts("2024-01-01 10:10:00"), 100L, "click", 2.0, ""),
    (3L, ts("2024-01-01 11:05:00"), 100L, "view", 3.0, ""),   // > 30 min gap → new session
    (4L, ts("2024-01-01 10:20:00"), 200L, "click", 4.0, ""),
    (5L, ts("2024-01-01 10:30:00"), 200L, "purchase", 5.0, "")
  )

  private lazy val dir: String = {
    val d = Files.createTempDirectory("events-stream").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(d)
    d
  }

  test("windowed stream agg matches batch hourlyByType counts") {
    val stream = EventStreams.readEvents(spark, dir)
    // complete mode over a watermarked agg would hold back the open window;
    // for a bounded file source AvailableNow + complete gives the full result
    val q = EventStreams.hourlyByTypeStream(stream)
      .writeStream.outputMode("complete").format("memory").queryName("hourly")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // sum_value included: both sides accumulate through DECIMAL(18,4),
    // so the totals are EXACTLY equal regardless of micro-batch slicing
    val streamed = spark.table("hourly")
      .select("hour_start", "event_type", "n_events", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    val batch = EventOps.hourlyByType(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
      .select("hour_start", "event_type", "n_events", "sum_value")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    assert(streamed == batch)
    assert(batch.exists { case (_, t, n, _) => t == "click" && n == 3 })
  }

  test("stream-stream attribution join matches the batch interval join") {
    val attRows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 100L, "view", 0.0, ""),
      (2L, ts("2024-01-01 10:20:00"), 100L, "purchase", 9.0, ""),  // ← view 1 (20 min)
      (3L, ts("2024-01-01 10:25:00"), 100L, "view", 0.0, ""),
      (4L, ts("2024-01-01 10:40:00"), 100L, "purchase", 7.0, ""),  // ← views 1? (40 min: no) and 3 (15 min)
      (5L, ts("2024-01-01 10:30:00"), 100L, "view", 0.0, ""),      // also credits purchase 4 (10 min)
      (6L, ts("2024-01-01 12:00:00"), 100L, "purchase", 5.0, ""),  // no view within 30 min
      (7L, ts("2024-01-01 10:05:00"), 200L, "view", 0.0, ""),
      (8L, ts("2024-01-01 10:10:00"), 300L, "purchase", 3.0, "")   // other users: no cross-credit
    )
    val d = Files.createTempDirectory("events-attr").toString
    val batchDf = attRows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    batchDf.write.mode("overwrite").parquet(d)
    val stream = spark.readStream
      .schema(spark.read.parquet(d).schema).parquet(d)
      .withColumn("ts", date_trunc("second", col("ts")))
    EventStreams.runToMemory(
      EventStreams.attributionStream(stream), "attr_stream")
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("user_id", "view_id", "purchase_id", "lag_seconds", "purchase_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val streamed = rows(spark.table("attr_stream"))
    val batch = rows(EventOps.attribution(batchDf))
    assert(streamed == batch)
    // the hand-checked credit set: (view, purchase) pairs within 30 min
    assert(batch.map(t => (t._2, t._3)) ==
      Set((1L, 2L), (3L, 4L), (5L, 4L)))
  }

  test("streaming exact dedup keeps one doc per content, agrees with batch") {
    val docRows = Seq(
      (1L, "alpha beta", ts("2024-01-01 10:00:00")),
      (2L, "gamma delta", ts("2024-01-01 10:01:00")),
      (3L, "alpha beta", ts("2024-01-01 10:02:00")), // dup of 1 within watermark
      (4L, "gamma delta", ts("2024-01-01 10:03:00")), // dup of 2
      (5L, "epsilon", ts("2024-01-01 10:04:00"))
    )
    val d = Files.createTempDirectory("docs-stream").toString
    docRows.toDF("doc_id", "text", "ts").write.mode("overwrite").parquet(d)
    val stream = spark.readStream
      .schema(spark.read.parquet(d).schema).parquet(d)
    EventStreams.runToMemory(
      graft.dedup.Dedup.exactStream(stream), "dedup_stream")
    val survivors = spark.table("dedup_stream")
      .select("content_md5").as[String].collect().toSeq
    // one survivor per distinct content — same count the batch op reports
    val batch = graft.dedup.Dedup.exact(docRows.toDF("doc_id", "text", "ts"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(survivors.sorted == batch.keys.toSeq.sorted)
    assert(survivors.size == 3 && batch.values.sum == 5L)
  }

  test("streaming model scoring ≡ batch scoring (same PipelineModel)") {
    import graft.score.Scorer
    import graft.train.PropensityTrainer
    // tiny separable training set (same toy as TrainerSpec)
    val train = PropensityTrainer.withWeights(
      (0 until 100).map { i =>
        val f1 = (i % 10) / 10.0
        (i.toLong, f1, (i % 3) / 3.0, if (f1 > 0.5) 1 else 0)
      }.toDF("id", "household__f1", "household__f2", "purchased"),
      posRatio = 0.4)
    val model = PropensityTrainer.train(train,
      Seq("household__f1", "household__f2"),
      PropensityTrainer.Config(algo = "lr", regParams = Seq(0.01),
        maxIter = 5, parallelism = 1))
    // a featurized spine to score, parked as a file-source directory
    val spine = (0 until 20).map { i =>
      (i.toLong, java.sql.Date.valueOf("2024-06-01"), "CMD",
        (i % 10) / 10.0, (i % 3) / 3.0)
    }.toDF("household_key", "day", "commodity_desc",
      "household__f1", "household__f2")
    val d = Files.createTempDirectory("score-stream").toString
    spine.write.mode("overwrite").parquet(d)
    val stream = spark.readStream.schema(spine.schema).parquet(d)
    val q = Scorer.score(model, stream).writeStream
      .format("memory").queryName("graft_scored_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("household_key") ->
        r.getAs[Double]("prediction")).toMap
    val streamed = keyed(spark.table("graft_scored_stream"))
    val batch = keyed(Scorer.score(model, spine))
    assert(streamed == batch)
    assert(streamed.size == 20)
  }

  test("stateful sessionizer closes sessions on gap, matches batch islands") {
    val stream = EventStreams.readEvents(spark, dir)
    val sessions = EventStreams.sessionizeStream(spark, stream)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // append mode emits only CLOSED sessions: user 100's first session
    // (2 events) closed by the 65-minute gap; open sessions stay in state
    val closed = spark.table("sessions")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSet
    assert(closed.contains((100L, 2L)))
    val batch = EventOps.sessionize(
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val batchSessions = batch.select("user_id", "n_events")
      .as[(Long, Long)].collect().toSet
    // every closed streaming session is a batch session
    assert(closed.subsetOf(batchSessions))
    assert(batchSessions == Set((100L, 2L), (100L, 1L), (200L, 2L)))
  }
}
