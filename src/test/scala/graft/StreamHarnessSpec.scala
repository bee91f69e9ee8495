package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.queries.StreamHarness

/** The contracts of the two stream run loops every stream_* query goes
  * through: [[StreamHarness.sinkRun]] (memory-sink parity) and
  * [[StreamHarness.cycles]] (one cycle per fed batch), plus stream/batch
  * parity for one query of each remaining input shape.
  */
class StreamHarnessSpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def sinkViews(s: org.apache.spark.sql.SparkSession): Seq[String] =
    s.catalog.listTables().collect().map(_.name).filter(_.startsWith("stream_sink_")).toSeq

  test("sinkRun with a flush runs exactly two micro-batches and drains no sentinel row") {
    val s = StreamHarness.streamSession(spark)
    // progress events arrive on the listener bus in order, so once the
    // termination event is seen every batch's progress has been too
    val batches = new ConcurrentLinkedQueue[java.lang.Long]()
    val terminated = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = batches.add(e.progress.batchId)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.countDown()
    }
    s.streams.addListener(listener)
    try {
      val feed = s.range(1, 65).select(col("id").as("k"), timestamp_seconds(col("id")).as("ts"))
      // a projection passes the sentinels straight into the sink, so only
      // the flush's `real` filter keeps them out of the drained frame
      val out = StreamHarness.sinkRun(
        feed, flush = Some(StreamHarness.Flush("ts", Row(-1L, _), col("k") =!= -1L)))(identity)(identity)
      assert(terminated.await(60, TimeUnit.SECONDS), "the stream never reported termination")
      assert(batches.asScala.toSeq.map(_.longValue) == Seq(0L, 1L))
      assert(out.collect().map(_.getLong(0)).sorted.toSeq == (1L to 64L))
    } finally s.streams.removeListener(listener)
  }

  test("cycles hands each fed batch to the cycle as its own micro-batch, in order, with exactly its rows") {
    val s = StreamHarness.streamSession(spark)
    import s.implicits._
    val fed = Seq(Seq(3L, 1L, 2L), Seq(4L), Seq(6L, 5L))
    val seen = new ConcurrentLinkedQueue[Seq[Long]]()
    StreamHarness.cycles(fed.map(_.toDF("id")))(b => seen.add(b.as[Long].collect().toSeq.sorted): Unit)
    assert(seen.asScala.toSeq == fed.map(_.sorted))
  }

  test("sinkRun drops the memory sink's temp view from the clone's catalog after the drain") {
    val s = StreamHarness.streamSession(spark)
    var during = Seq.empty[String]
    val out = StreamHarness.sinkRun(s.range(0, 10).toDF("k"))(identity) { df =>
      during = sinkViews(s)
      df
    }
    assert(during.size == 1, s"the sink view should exist while draining: $during")
    assert(sinkViews(s).isEmpty, s"leaked memory-sink views: ${sinkViews(s)}")
    assert(out.count() == 10L)
  }

  /** Rows of `df` with its columns in name order, sorted. */
  private def byName(df: DataFrame): Seq[Seq[Any]] = rows(df.select(df.columns.sorted.toIndexedSeq.map(col): _*))

  for ((stream, batch, shape) <- Seq(
      ("stream_changelog_parity", "scd_changelog_apply", "complete mode"),
      ("stream_lookback_parity", "ev_attribution_linear", "two inputs"),
      ("stream_incremental_parity", "dedup_incremental", "stream-static probe")))
    test(s"$stream equals its batch twin $batch ($shape)") {
      val streamed = byName(SparkEntry.queries(stream)(spark, sfDir))
      assert(streamed.nonEmpty, s"$stream drained nothing: the comparison would be vacuous")
      assert(streamed == byName(SparkEntry.queries(batch)(spark, sfDir)))
    }
}
