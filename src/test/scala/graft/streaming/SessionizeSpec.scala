package graft.streaming

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Batch + Structured Streaming event operators (SURVEY.md §7.5d). */
class SessionizeSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    ("u1", ts("2024-01-01 10:00:00"), 1L, 5.0),
    ("u1", ts("2024-01-01 10:10:00"), 2L, 5.0), // same session (gap 10m < 30m)
    ("u1", ts("2024-01-01 11:00:00"), 3L, 5.0), // new session (gap 50m)
    ("u2", ts("2024-01-01 10:00:00"), 4L, 2.0)
  ).toDF("user_id", "ts", "event_id", "value")

  test("sessionizeBatch breaks sessions on gap > threshold, per user") {
    val out = Sessionize.sessionizeBatch(events, "user_id", "ts", "event_id", 30)
      .select($"user_id", $"event_id", $"session_id")
    assert(
      rows(out) == Seq(
        Seq("u1", 1L, 1L), Seq("u1", 2L, 1L), Seq("u1", 3L, 2L), Seq("u2", 4L, 1L)
      ).sortBy(_.mkString("|"))
    )
  }

  test("sessionStats aggregates per (user, session)") {
    val sessions = Sessionize.sessionizeBatch(events, "user_id", "ts", "event_id", 30)
    val stats = Sessionize.sessionStats(sessions, "user_id", "ts", "value")
    val u1s1 = stats.filter($"user_id" === "u1" && $"session_id" === 1L).collect().head
    assert(u1s1.getAs[Long]("n_events") == 2L)
    assert(u1s1.getAs[Double]("total_value") == 10.0)
  }

  test("tumblingCounts groups by hour and type") {
    val typed = events.withColumn("event_type", lit("click"))
    val out = Sessionize.tumblingCounts(typed, "ts", "event_type")
    assert(out.count() == 2) // 10:00 and 11:00 hours
    assert(out.agg(sum($"n")).collect().head.getLong(0) == 4L)
  }

  test("slidingCounts: each event lands in width/slide overlapping windows") {
    val typed = events.withColumn("event_type", lit("click"))
    val out = Sessionize.slidingCounts(typed, "ts", "event_type", 60, 30)
    // 4 events × 2 windows each (60m width, 30m slide)
    assert(out.agg(sum($"n")).collect().head.getLong(0) == 8L)
    val at0945 = out.filter($"window_start" === ts("2024-01-01 09:30:00")).collect()
    assert(at0945.head.getAs[Long]("n") == 3L) // the three 10:00–10:10 events
  }

  test("tumblingCountsStream: watermarked streaming twin matches batch counts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp, String)]
    val stream = mem.toDF().toDF("user_id", "ts", "event_type")
    val agg = Sessionize.tumblingCountsStream(stream, "ts", "event_type")
    // data must be queued before an AvailableNow query snapshots its offsets
    mem.addData(
      ("u1", ts("2024-01-01 10:00:00"), "click"),
      ("u1", ts("2024-01-01 10:30:00"), "click"),
      ("u2", ts("2024-01-01 11:00:00"), "view")
    )
    val q = agg.writeStream
      .format("memory").queryName("tumbling_test").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("tumbling_test").collect()
      .map(r => (r.getAs[Timestamp]("window_start").toString, r.getAs[String]("event_type"), r.getAs[Long]("n")))
      .toSet
    assert(out == Set(
      ("2024-01-01 10:00:00.0", "click", 2L),
      ("2024-01-01 11:00:00.0", "view", 1L)
    ))
  }

  test("sessionizeWithState closes sessions on gap and flushes on timeout") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Sessionize.SessionEvent]
    val out = Sessionize.sessionizeWithState(mem.toDS(), gapMinutes = 30)
    val q = out.writeStream
      .format("memory").queryName("state_sessions").outputMode("append").start()
    // batch 1: two sessions' worth of u1 events — first closes when the
    // second begins (gap > 30m)
    mem.addData(
      Sessionize.SessionEvent("u1", ts("2024-01-01 10:00:00"), 5.0),
      Sessionize.SessionEvent("u1", ts("2024-01-01 10:10:00"), 5.0),
      Sessionize.SessionEvent("u1", ts("2024-01-01 12:00:00"), 2.0)
    )
    q.processAllAvailable()
    // batch 2: advance the watermark far past 12:00 so the open session
    // times out and flushes
    mem.addData(Sessionize.SessionEvent("u2", ts("2024-01-01 20:00:00"), 1.0))
    q.processAllAvailable()
    mem.addData(Sessionize.SessionEvent("u2", ts("2024-01-01 23:00:00"), 1.0))
    q.processAllAvailable()
    q.stop()
    val sessions = spark.table("state_sessions").as[Sessionize.ClosedSession].collect()
      .filter(_.user_id == "u1").sortBy(_.start_us)
    assert(sessions.length == 2)
    assert(sessions(0).n_events == 2L && sessions(0).total_value == 10.0)
    assert(sessions(1).n_events == 1L && sessions(1).total_value == 2.0)
  }

  test("sessionizeWithState: checkpoint stop/restart recovers open sessions from the state store") {
    // State-store round-trip for the custom session state machine: run 1
    // leaves u1's 12:00 session OPEN in the store and stops; run 2 resumes
    // from the checkpoint, a later event times the session out, and the
    // flushed rows must equal the uninterrupted run's (two u1 sessions).
    // File sink because memory sinks refuse checkpoint recovery.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = tempDir("sess_ckpt")
    val outDir = tempDir("sess_out")
    val mem = MemoryStream[Sessionize.SessionEvent]
    def start() = Sessionize.sessionizeWithState(mem.toDS(), gapMinutes = 30)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    mem.addData(
      Sessionize.SessionEvent("u1", ts("2024-01-01 10:00:00"), 5.0),
      Sessionize.SessionEvent("u1", ts("2024-01-01 10:10:00"), 5.0),
      Sessionize.SessionEvent("u1", ts("2024-01-01 12:00:00"), 2.0))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // u1's 12:00 session is open — it exists only as serialized state
    mem.addData(Sessionize.SessionEvent("u2", ts("2024-01-01 20:00:00"), 1.0))
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(Sessionize.SessionEvent("u2", ts("2024-01-01 23:00:00"), 1.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val sessions = spark.read.parquet(outDir).as[Sessionize.ClosedSession].collect()
      .filter(_.user_id == "u1").sortBy(_.start_us)
    assert(sessions.length == 2, s"expected both u1 sessions after recovery: ${sessions.toSeq}")
    assert(sessions(0).n_events == 2L && sessions(0).total_value == 10.0)
    assert(sessions(1).n_events == 1L && sessions(1).total_value == 2.0)
  }

  test("streamingExactDedup keeps first occurrence per digest within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, String)]
    val stream = mem.toDF().toDF("doc_id", "ts", "text")
    val deduped = graft.ext.Dedup.streamingExactDedup(stream, col("text"), "ts", "1 hour")
    mem.addData(
      (1L, ts("2024-01-01 10:00:00"), "alpha"),
      (2L, ts("2024-01-01 10:05:00"), "alpha"), // dup content within horizon
      (3L, ts("2024-01-01 10:10:00"), "beta")
    )
    val q = deduped.writeStream
      .format("memory").queryName("dedup_test").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_test").collect().map(_.getAs[Long]("doc_id")).sorted
    assert(out.toSeq == Seq(1L, 3L)) // the duplicate "alpha" is dropped
  }

  test("sessionWindowStream: gap-based session windows over a stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val stream = mem.toDF().toDF("user_id", "ts")
    val agg = Sessionize.sessionWindowStream(stream, "user_id", "ts", 30)
    mem.addData(
      ("u1", ts("2024-01-01 10:00:00")),
      ("u1", ts("2024-01-01 10:10:00")), // merges into one session
      ("u1", ts("2024-01-01 12:00:00"))  // separate session
    )
    val q = agg.writeStream
      .format("memory").queryName("session_test").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("session_test").collect()
      .map(r => (r.getAs[String]("user_id"), r.getAs[Long]("n_events")))
    assert(out.sortBy(_._2).toSeq == Seq(("u1", 1L), ("u1", 2L)))
  }

  test("stream-static broadcast enrichment joins every micro-batch against the dimension") {
    // the standard streaming lookup: each micro-batch hash-joins the
    // broadcast dimension map-side — no shuffle of the stream, no state
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val dim = Seq(("u1", "gold"), ("u2", "basic")).toDF("user_id", "tier")
    val enriched = mem.toDF().toDF("user_id", "event_id")
      .join(broadcast(dim), Seq("user_id"), "left")
    mem.addData(("u1", 1L), ("u3", 2L))
    mem.addData(("u2", 3L))
    val q = enriched.writeStream
      .format("memory").queryName("enrich_test").outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("enrich_test").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[String]("tier"))).toSet
    assert(out == Set((1L, "gold"), (2L, null), (3L, "basic")))
  }

  test("sessionPaths renders in-session order, counts across users, truncates to K") {
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // user 1: [view, click] then (after the gap) [view, click]
    // user 2: [view, click] and a lone [purchase]
    val ev = Seq(
      (1L, ts(0), 1L, "view"), (1L, ts(10), 2L, "click"),
      (1L, ts(10000), 3L, "view"), (1L, ts(10010), 4L, "click"),
      (2L, ts(0), 5L, "view"), (2L, ts(5), 6L, "click"),
      (2L, ts(20000), 7L, "purchase")
    ).toDF("user_id", "ts", "event_id", "event_type")
    val out = Sessionize
      .sessionPaths(ev, "user_id", "ts", "event_id", "event_type", gapMinutes = 30, topK = 1)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("view->click", 3L)), s"got $out") // top-1 keeps only the winner
  }
}
