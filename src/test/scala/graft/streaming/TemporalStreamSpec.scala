package graft.streaming

import graft.SparkSpecBase
import graft.ops.TemporalOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** The streaming temporal-join twins: the as-of state machine must match
  * the batch operator ACROSS micro-batch boundaries (the carried
  * running-last register is exactly what the single-batch parity harness
  * can't exercise), and the native stream-stream interval join must
  * reproduce the bucketized batch lookback join at its boundaries.
  */
class TemporalStreamSpec extends SparkSpecBase {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // rights (side 0) carry payload; lefts (side 1) probe.
  // u1: right@10:00(v=1), left@10:00 (same-instant -> inclusive match),
  //     two rights@10:30 tie (ids 7<8 -> greatest tie wins), left@10:40,
  //     left@09:00 (before any right -> null match)
  // u2: left only -> null match
  private val taggedRows = Seq(
    TemporalStream.AsofIn(1L, ts("2024-01-01 09:00:00"), 1, 100L, 0.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 10:00:00"), 0, 7L, 1.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 10:00:00"), 1, 101L, 0.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 10:30:00"), 0, 7L, 2.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 10:30:00"), 0, 8L, 3.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 10:40:00"), 1, 102L, 0.0),
    TemporalStream.AsofIn(2L, ts("2024-01-01 10:00:00"), 1, 200L, 0.0)
  )

  private val expectedAsof = Set(
    (100L, 1L, None: Option[Double]),
    (101L, 1L, Some(1.0)),
    (102L, 1L, Some(3.0)), // greatest tie id at the 10:30 instant
    (200L, 2L, None: Option[Double])
  )

  private def runAsof(
      batches: Seq[Seq[TemporalStream.AsofIn]],
      registerTtlSec: Long = 0L): Set[(Long, Long, Option[Double])] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TemporalStream.AsofIn]
    val sink = s"temporal_asof_${System.nanoTime()}"
    val q = TemporalStream
      .asofJoinStream(mem.toDS(), watermarkDelay = "0 seconds", registerTtlSec = registerTtlSec)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // final flush: a sentinel far past everything
      mem.addData(TemporalStream.AsofIn(-1L, ts("2024-01-02 00:00:00"), 1, -1L, 0.0))
      q.processAllAvailable()
      mem.addData(TemporalStream.AsofIn(-1L, ts("2024-01-03 00:00:00"), 1, -1L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sink)
      .filter($"key" =!= -1L)
      .select($"tie", $"key", $"asof_payload")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toSet
    spark.catalog.dropTempView(sink)
    got
  }

  test("asofJoinStream: single staged batch matches the batch operator's semantics") {
    assert(runAsof(Seq(taggedRows)) == expectedAsof)
  }

  test("asofJoinStream: checkpoint stop/restart recovers state-store state (output == uninterrupted)") {
    // The one failure mode the single-run parity harnesses can't see:
    // flatMapGroupsWithState state SERIALIZED to the state store by run 1
    // and DESERIALIZED by run 2. Split the feed across two query starts
    // sharing a checkpoint — run 1 buffers key 1's early rows (register +
    // pending) and stops; run 2 must resume from the persisted state and
    // finish with output identical to the uninterrupted run's expectation.
    // Memory sinks refuse checkpoint recovery, so this uses the
    // fault-tolerant file sink (exactly-once via the _spark_metadata log).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = tempDir("asof_ckpt")
    val outDir = tempDir("asof_out")
    val mem = MemoryStream[TemporalStream.AsofIn]
    def start() = TemporalStream
      .asofJoinStream(mem.toDS(), watermarkDelay = "0 seconds")
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val (early, late) = taggedRows.partition(_.ts.getTime <= ts("2024-01-01 10:00:00").getTime)
    mem.addData(early: _*)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // key 1's register + unfinalized buffer now live ONLY in the state store
    mem.addData(late: _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      mem.addData(TemporalStream.AsofIn(-1L, ts("2024-01-02 00:00:00"), 1, -1L, 0.0))
      q2.processAllAvailable()
      mem.addData(TemporalStream.AsofIn(-1L, ts("2024-01-03 00:00:00"), 1, -1L, 0.0))
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(outDir)
      .filter($"key" =!= -1L)
      .select($"tie", $"key", $"asof_payload")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
      .toSet
    assert(got == expectedAsof,
      s"recovered run diverged from the uninterrupted expectation: $got vs $expectedAsof")
  }

  test("asofJoinStream register TTL: idle registers are evicted; ttl=0 keeps batch semantics") {
    // key 1: right@10:00 then left@10:15 (matches), a long idle gap while
    // sentinels advance the watermark past lastRight+ttl (flushing the key
    // register-only and — under the TTL — evicting it), then a late probe
    // left@13:30. With ttl=0 the register lingers and the late probe still
    // matches (exact batch semantics); with ttl=1h it emits null — the
    // documented state-TTL trade for unbounded key spaces.
    val batches = Seq(
      Seq(
        TemporalStream.AsofIn(1L, ts("2024-01-01 10:00:00"), 0, 7L, 1.0),
        TemporalStream.AsofIn(1L, ts("2024-01-01 10:15:00"), 1, 100L, 0.0)),
      Seq(TemporalStream.AsofIn(-1L, ts("2024-01-01 12:30:00"), 1, -1L, 0.0)),
      Seq(TemporalStream.AsofIn(-1L, ts("2024-01-01 13:00:00"), 1, -1L, 0.0)),
      Seq(TemporalStream.AsofIn(1L, ts("2024-01-01 13:30:00"), 1, 101L, 0.0)))
    val kept = runAsof(batches, registerTtlSec = 0L)
    assert(kept.contains((100L, 1L, Some(1.0))) && kept.contains((101L, 1L, Some(1.0))),
      s"ttl=0 must keep the register for the late probe: $kept")
    val evicted = runAsof(batches, registerTtlSec = 3600L)
    assert(evicted.contains((100L, 1L, Some(1.0))), s"in-window probe must still match: $evicted")
    assert(evicted.contains((101L, 1L, None)),
      s"probe ${3600}s past the last right must see an evicted register: $evicted")
  }

  test("asofJoinStream: same answer when rows arrive across micro-batches (carried register)") {
    // split mid-timeline IN EVENT-TIME ORDER (watermark semantics only
    // guarantee results for in-order arrival at delay 0): batch 1 holds
    // everything through 10:00, batch 2 the rest. The 10:40 left row must
    // match a right row carried from an EARLIER batch whose buffered form
    // was already emitted-and-evicted — the running-last register path.
    val (early, late) = taggedRows.partition(_.ts.getTime <= ts("2024-01-01 10:00:00").getTime)
    assert(runAsof(Seq(early, late)) == expectedAsof)
  }

  private def runNearest(
      batches: Seq[Seq[TemporalStream.AsofIn]],
      horizonSec: Long): Set[(Long, Long, Option[Long], Option[String], Option[Double])] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TemporalStream.AsofIn]
    val sink = s"temporal_nearest_${System.nanoTime()}"
    val q = TemporalStream
      .nearestJoinStream(mem.toDS(), horizonSec, watermarkDelay = "0 seconds")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      val far = ts("2024-01-01 00:00:00").getTime + (horizonSec + 48L * 3600) * 1000
      mem.addData(TemporalStream.AsofIn(-1L, new Timestamp(far), 1, -1L, 0.0))
      q.processAllAvailable()
      mem.addData(TemporalStream.AsofIn(-1L, new Timestamp(far + 3600 * 1000), 1, -1L, 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(sink)
      .filter($"key" =!= -1L)
      .collect()
      .map(r => (r.getLong(1), r.getLong(0),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[String]),
        Option(r.get(5)).map(_.asInstanceOf[Double])))
      .toSet
    spark.catalog.dropTempView(sink)
    got
  }

  // u1: rights at 10:00 (tie 7, v=1) and 12:00 (tie 9, v=9).
  //   left@09:30 -> F to 10:00 (no backward)
  //   left@10:00 -> B at distance 0 (same instant)
  //   left@10:45 -> B to 10:00 (45m back < 75m forward)
  //   left@11:30 -> F to 12:00 (30m forward < 90m back)
  //   left@11:00 -> B to 10:00 (equidistant 60m: ties resolve backward)
  // u3: left only -> no match
  private val nearestRows = Seq(
    TemporalStream.AsofIn(1L, ts("2024-01-01 09:30:00"), 1, 100L, 0.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 10:00:00"), 0, 7L, 1.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 10:00:00"), 1, 101L, 0.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 10:45:00"), 1, 102L, 0.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 11:00:00"), 1, 103L, 0.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 11:30:00"), 1, 104L, 0.0),
    TemporalStream.AsofIn(1L, ts("2024-01-01 12:00:00"), 0, 9L, 9.0),
    TemporalStream.AsofIn(3L, ts("2024-01-01 10:00:00"), 1, 300L, 0.0)
  )

  private def us(s: String) = ts(s).getTime * 1000L

  private val expectedNearest = Set(
    (100L, 1L, Some(us("2024-01-01 10:00:00")), Some("F"), Some(1.0)),
    (101L, 1L, Some(us("2024-01-01 10:00:00")), Some("B"), Some(1.0)),
    (102L, 1L, Some(us("2024-01-01 10:00:00")), Some("B"), Some(1.0)),
    (103L, 1L, Some(us("2024-01-01 10:00:00")), Some("B"), Some(1.0)),
    (104L, 1L, Some(us("2024-01-01 12:00:00")), Some("F"), Some(9.0)),
    (300L, 3L, None, None, None)
  )

  test("nearestJoinStream: directions, distance-0, and equidistant-backward match the batch operator") {
    val got = runNearest(Seq(nearestRows), horizonSec = 7L * 86400L)
    assert(got == expectedNearest)
    // cross-check the expectation against the batch operator itself
    val clicks = nearestRows.filter(_.side == 1)
      .map(r => (r.key, r.ts, r.tie)).toDF("user_id", "ts", "event_id")
    val purch = nearestRows.filter(_.side == 0)
      .map(r => (r.key, r.ts, r.payload, r.tie)).toDF("user_id", "pts", "value", "pid")
    val batch = TemporalOps
      .asofJoinNearest(clicks, purch, "user_id", "ts", "pts", Seq("value"), "pid")
      .select($"event_id", $"user_id", unix_micros($"asof_ts"), $"asof_dir", $"asof_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        Option(r.get(3)).map(_.asInstanceOf[String]),
        Option(r.get(4)).map(_.asInstanceOf[Double])))
      .toSet
    assert(batch == expectedNearest)
  }

  test("nearestJoinStream: same answer across micro-batch boundaries (compacted register)") {
    val (early, late) = nearestRows.partition(_.ts.getTime <= ts("2024-01-01 10:00:00").getTime)
    assert(runNearest(Seq(early, late), horizonSec = 7L * 86400L) == expectedNearest)
  }

  test("nearestJoinStream: a forward match beyond the horizon is out of reach") {
    // left@09:30 with horizon 15m: the 10:00 right is 30m ahead -> no match;
    // left@10:45 keeps its backward match regardless of horizon
    val got = runNearest(Seq(nearestRows), horizonSec = 15L * 60L)
    val e100 = got.find(_._1 == 100L).get
    assert(e100 == ((100L, 1L, None, None, None)))
    val e102 = got.find(_._1 == 102L).get
    assert(e102._4 == Some("B"))
  }

  test("randomized cross-check: both state machines match their batch twins under arbitrary data and batch splits") {
    // seeded RNG -> deterministic CI; the hour grid forces same-instant
    // collisions (both sides), equidistant forward/backward pairs, and
    // right-timestamp ties — every tie rule the machines implement
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val rows = (1 to 60).map { i =>
        val key = 1L + rnd.nextInt(3)
        val t = ts("2024-01-01 00:00:00").getTime + rnd.nextInt(30) * 3600L * 1000L
        val side = if (rnd.nextBoolean()) 0 else 1
        TemporalStream.AsofIn(
          key, new Timestamp(t), side, 1000L + i,
          if (side == 0) rnd.nextInt(100) / 10.0 else 0.0)
      }
      val clicks = rows.filter(_.side == 1).map(r => (r.key, r.ts, r.tie))
        .toDF("user_id", "ts", "event_id")
      val purch = rows.filter(_.side == 0).map(r => (r.key, r.ts, r.payload, r.tie))
        .toDF("user_id", "pts", "value", "pid")
      if (rows.exists(_.side == 1)) {
        // event-time-ordered random split into up to 3 micro-batches. With
        // delay 0 a cut may only fall where the timestamp strictly
        // increases: rows equal to the watermark arriving in a LATER batch
        // are late data under Spark's stateful-op filter (a real
        // deployment's delay covers its disorder; the engine's strict
        // finalization bound covers same-instant straddle there)
        val ordered = rows.sortBy(r => (r.ts.getTime, r.side, r.tie))
        val cutsOk = 0 +: (1 until ordered.length)
          .filter(i => ordered(i - 1).ts.getTime < ordered(i).ts.getTime) :+ ordered.length
        def pick() = cutsOk(rnd.nextInt(cutsOk.length))
        val Seq(cut1, cut2) = Seq(pick(), pick()).sorted
        val batches = Seq(
          ordered.slice(0, cut1), ordered.slice(cut1, cut2), ordered.slice(cut2, ordered.length)
        ).filter(_.nonEmpty)

        def tuple5(r: org.apache.spark.sql.Row) =
          (r.getLong(0), r.getLong(1),
            Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[String]),
            Option(r.get(4)).map(_.asInstanceOf[Double]))

        // compare on (tie, key, payload) — runAsof drops the matched ts
        val batchAsof = TemporalOps
          .asofJoin(clicks, purch, "user_id", "ts", "pts", Seq("value"), "pid")
          .select($"event_id", $"user_id", $"asof_value")
          .collect()
          .map(r => (r.getLong(0), r.getLong(1),
            Option(r.get(2)).map(_.asInstanceOf[Double])))
          .toSet
        assert(runAsof(batches) == batchAsof, s"asof mismatch in trial $trial")

        val horizon = 72L * 3600L // beyond the 30h grid: parity is unbounded
        val batchNearest = TemporalOps
          .asofJoinNearest(clicks, purch, "user_id", "ts", "pts", Seq("value"), "pid")
          .select($"event_id", $"user_id", unix_micros($"asof_ts"), $"asof_dir", $"asof_value")
          .collect().map(tuple5).toSet
        val streamNearest = runNearest(batches, horizon)
        assert(streamNearest == batchNearest, s"nearest mismatch in trial $trial")
      }
    }
  }

  test("lookbackJoinStream matches the batch lookbackJoin at the horizon boundaries") {
    implicit val sqlCtx = spark.sqlContext
    // boundary cases: exactly at ts (include), exactly at ts - H (include),
    // one second before the horizon (exclude), after ts (exclude)
    val purchases = Seq((1L, ts("2024-01-02 00:00:00"), 10L))
    val clicks = Seq(
      (1L, ts("2024-01-02 00:00:00"), 21L), // dt = 0        -> in
      (1L, ts("2024-01-01 00:00:00"), 22L), // dt = H        -> in
      (1L, ts("2023-12-31 23:59:59"), 23L), // dt = H + 1s   -> out
      (1L, ts("2024-01-02 00:00:01"), 24L), // future        -> out
      (2L, ts("2024-01-02 00:00:00"), 25L)  // wrong key     -> out
    )
    val horizon = 86400L
    val batch = TemporalOps.lookbackJoin(
      purchases.toDF("user_id", "ts", "purchase_id"),
      clicks.toDF("user_id", "cts", "click_id"),
      "user_id", "ts", "cts", horizon)
      .select($"purchase_id", $"click_id")
    val memP = MemoryStream[(Long, Timestamp, Long)]
    val memC = MemoryStream[(Long, Timestamp, Long)]
    val sink = s"temporal_lookback_${System.nanoTime()}"
    val q = TemporalStream.lookbackJoinStream(
      memP.toDF().toDF("user_id", "ts", "purchase_id"),
      memC.toDF().toDF("user_id", "cts", "click_id"),
      "user_id", "ts", "cts", horizon)
      .select($"purchase_id", $"click_id")
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      memP.addData(purchases: _*)
      memC.addData(clicks: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = rows(spark.table(sink).select($"purchase_id", $"click_id"))
    spark.catalog.dropTempView(sink)
    assert(got == rows(batch))
    assert(got == Seq(Seq(10L, 21L), Seq(10L, 22L)))
  }
}
