package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The MemoryStream parity-harness runtime shared by every stream_* query:
  * the low-partition clone session, the pre-staged chunked feed, and the
  * two run loops every query goes through — [[sinkRun]] (feed, operator,
  * memory sink, drain) and [[cycles]] (one foreachBatch cycle per fed
  * batch). Only this object starts and stops streams, so every stream's
  * statefulness is observed ([[stopRecording]]) and [[harnessFloor]] times
  * the very loop the queries run.
  */
private[graft] object StreamHarness {

  /** Test hook: the clone the most recent stream-parity query ran on.
    * Sink views register in the CLONE's catalog, so hygiene specs must
    * inspect this session — listing the base session's tables would pass
    * vacuously even if `drainSink` stopped dropping the view.
    */
  @volatile private[graft] var lastStreamSession: SparkSession = _

  /** Isolated session for the streaming parity harnesses. Stateful
    * streaming tasks commit one state store per shuffle partition per
    * micro-batch; at harness scale (thousands of rows, 2-3 micro-batches)
    * 32 partitions is pure commit overhead — a production deployment sizes
    * this to its key cardinality, and the parity claim is partition-count
    * independent. `newSession` shares the SparkContext but NOT runtime-set
    * SQL confs, so the session time zone is copied over explicitly (confs
    * set at session build, such as the parquet nanos decoding, carry over).
    */
  private[graft] def streamSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    // 2, measured as the local-harness sweet spot (r21): 32 is pure
    // state-store commit overhead at harness scale, but 1 SERIALIZES the
    // foreachBatch maintenance work the index loops route through this
    // clone (probes/appends/compactions) — a measured -20 s regression
    // across the stream family. Production sizes this to key cardinality.
    s2.conf.set("spark.sql.shuffle.partitions", "2")
    // every micro-batch pays fixed planning + state-store load/commit
    // (~0.3-0.6 s measured at harness scale), so the harness feeds each
    // stream as ONE deterministic batch (feedChunked) plus at most one
    // sentinel batch — and the automatic no-data batches that would fire
    // after each watermark advance are pure overhead here (the explicit
    // sentinel batch is what flushes append-mode state, and parity is
    // batch-cadence independent)
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    // each parity query lives for 1-2 micro-batches and is never resumed
    // (nanoTime-unique sinks), so checkpoint history and background state
    // maintenance are pure overhead: retain one batch, push maintenance
    // past the query lifetime
    s2.conf.set("spark.sql.streaming.minBatchesToRetain", "1")
    s2.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    // checkpoints (offset/commit logs + state snapshots) are fsync-heavy
    // tiny-file writes: they go under the scratch root (RAM-backed by
    // default, see graft.EngineIO), which dies with the JVM; every sink
    // name is nanoTime-unique so a run never resumes a prior checkpoint.
    s2.conf.set("spark.sql.streaming.checkpointLocation", Scratch.dir("stream_ckpt", "root"))
    s2.conf.set(
      "spark.sql.session.timeZone",
      s.conf.get("spark.sql.session.timeZone", "UTC"))
    lastStreamSession = s2
    s2
  }

  /** Run a stream_* query body on a fresh [[streamSession]] clone of the
    * caller's session: its feeds, batch-side models and index tables are
    * built there, and the run loops run on the feed's session.
    */
  private[queries] def onClone(
      q: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => q(streamSession(s), dir)

  /** Stage `data` into the MemoryStream as ~16 blocks BEFORE the query
    * starts. One addData call is one source block is one input partition,
    * so a monolithic feed serializes the first micro-batch's map side on
    * one thread; and feeding after `start()` races the trigger loop into
    * an arbitrary batch split (observed: a 100k-row feed landing as 25k +
    * 75k batches, each paying the fixed batch overhead). Pre-staged
    * chunked blocks give exactly ONE micro-batch with a parallel map side
    * — the availableNow shape. A SECOND deterministic batch (the flush
    * sentinel, a [[cycles]] batch) is added after the first
    * processAllAvailable returns, when the trigger loop is idle.
    */
  private def feedChunked(mem: MemoryStream[Row], data: Seq[Row]): Unit =
    if (data.nonEmpty) {
      val chunk = math.max(1, (data.length + 15) / 16)
      data.grouped(chunk).foreach(g => mem.addData(g: _*))
    }

  /** A MemoryStream of rows of `schema`, on the session `s`. */
  private def memoryStream(s: SparkSession, schema: org.apache.spark.sql.types.StructType) =
    MemoryStream[Row](Encoders.row(schema), s)

  /** The watermark flush append-mode state needs: a far-future sentinel
    * row `sentinel(ts)` is staged with the data at `ts = max(tsCol) +
    * pastMs + 4 h`, which advances the watermark at the end of batch 0;
    * a second sentinel at `+ 8 h` is fed alone, and its batch runs under
    * that watermark, so every real window/session/row emits — two
    * micro-batches in all. `real` selects the non-sentinel output rows;
    * the sentinel's own output never reaches the drain shape.
    */
  final case class Flush(
      tsCol: String,
      sentinel: java.sql.Timestamp => Row,
      real: Column,
      pastMs: Long = 0L)

  /** Memory-sink parity run of one operator over one feed: see the
    * multi-feed form below.
    */
  private[graft] def sinkRun(
      feed: DataFrame,
      mode: String = "append",
      flush: Option[Flush] = None)(op: DataFrame => DataFrame)(
      drain: DataFrame => DataFrame): DataFrame =
    sinkRun(Seq(feed), mode, flush)(ins => op(ins.head))(drain)

  /** The memory-sink run loop. Each feed frame is collected once and
    * pre-staged into its own MemoryStream (on the feeds' session, a
    * [[streamSession]] clone); `op` gets the streaming frames, with the
    * feeds' column names, and its output runs into a nanoTime-unique
    * memory sink in output `mode`. Without a flush that is ONE
    * micro-batch; with one, two (see [[Flush]], which stages into the
    * first feed). The stream stops through [[stopRecording]], and the
    * sink is drained through `drain` into a driver-local frame
    * ([[drainSink]]).
    */
  private[graft] def sinkRun(feeds: Seq[DataFrame], mode: String, flush: Option[Flush])(
      op: Seq[DataFrame] => DataFrame)(drain: DataFrame => DataFrame): DataFrame = {
    val s = feeds.head.sparkSession
    val fed = feeds.map(f => (memoryStream(s, f.schema), f.collect().toSeq))
    // the sentinel `h` hours past the first feed's last event (+ pastMs)
    val sentinelAt = flush.map { f =>
      val maxMs = fed.head._2.iterator.map(_.getAs[java.sql.Timestamp](f.tsCol).getTime).max
      (h: Long) => f.sentinel(new java.sql.Timestamp(maxMs + f.pastMs + h * 3600L * 1000L))
    }
    fed.zipWithIndex.foreach { case ((mem, rows), i) =>
      feedChunked(mem, if (i == 0) rows ++ sentinelAt.map(_(4L)) else rows)
    }
    val sink = s"stream_sink_${System.nanoTime()}"
    val q = op(fed.map(_._1.toDF()))
      .writeStream.format("memory").queryName(sink).outputMode(mode).start()
    try {
      q.processAllAvailable()
      sentinelAt.foreach { at =>
        fed.head._1.addData(at(8L))
        q.processAllAvailable()
      }
    } finally stopRecording(q)
    drainSink(s, sink)(df => drain(flush.fold(df)(f => df.filter(f.real))))
  }

  /** The foreachBatch run loop: each of `batches` (all collected before
    * the stream starts, on the first batch's session and schema) is fed
    * as its OWN micro-batch, after the previous one's processAllAvailable
    * returned — so whatever one cycle commits is visible to the next.
    * `cycle` runs once per micro-batch on the persisted batch frame,
    * unpersisted after it; the stream stops through [[stopRecording]].
    */
  private[graft] def cycles(batches: Seq[DataFrame])(cycle: DataFrame => Unit): Unit = {
    val mem = memoryStream(batches.head.sparkSession, batches.head.schema)
    val rows = batches.map(_.collect().toSeq)
    val q = mem.toDF().writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val b = batch.persist()
        try cycle(b) finally { b.unpersist(); () }
      }
      .start()
    try rows.foreach { r =>
      mem.addData(r: _*)
      q.processAllAvailable()
    } finally stopRecording(q)
  }

  /** The CDC maintenance loop over one persisted bucketed index: events
    * `(op, id, payload…)` with op U (ingest) or D (takedown) arrive as
    * [[cycles]], and each cycle, in this order,
    *   - refreshes the index (and its tombstone table, if any) in `s`,
    *     the session `probe` reads through: appends run under the
    *     stream-execution clone (the batch frame's session), which
    *     invalidates only ITS relation cache, so without the refresh the
    *     probe would silently miss every band appended since cycle 1;
    *   - probes with the batch's U rows and appends the result to
    *     `outDir` — BEFORE the append, so a batch never pairs with itself,
    *     and before the delete, so a batch still sees what it retracts;
    *   - appends the U rows to the index;
    *   - deletes the D ids, if there are any.
    * Returns everything the probes wrote (`outDir` is reset first).
    */
  private[queries] def indexCycles(s: SparkSession, table: String, outDir: String, batches: Seq[DataFrame])(
      probe: DataFrame => DataFrame,
      append: DataFrame => Unit,
      delete: DataFrame => Unit): DataFrame = {
    val tomb = graft.ext.BucketedIndex.tombTable(table)
    Scratch.reset(outDir)
    cycles(batches) { b =>
      s.catalog.refreshTable(table)
      if (s.catalog.tableExists(tomb)) s.catalog.refreshTable(tomb)
      val ups = b.filter(col("op") === "U").drop("op")
      probe(ups).write.mode("append").parquet(outDir)
      append(ups)
      val dels = b.filter(col("op") === "D").drop("op")
      if (!dels.isEmpty) delete(dels)
    }
    s.read.parquet(outDir)
  }

  /** Fixed per-run cost of the parity harness itself: [[sinkRun]] — the
    * same clone, chunked feed, memory sink, stop and drain every stream_*
    * query runs — around a near-empty operator. Every stream_* bench
    * entry pays this floor regardless of the operator under test, so
    * BenchDiff subtracts it before applying the relative noise band —
    * otherwise a 0.5 s operator regression drowns in a 2-4 s harness
    * constant. Two shapes because they have different floors:
    *   - stateless: projection only (no state store), one micro-batch —
    *     the lower bound
    *   - stateful: watermarked window count in append mode with the
    *     two-batch [[Flush]] — pays state-store provider load + commit per
    *     partition per batch, the shape most stateful parity queries have
    */
  private[graft] def harnessFloor(spark: SparkSession, stateful: Boolean): Double = {
    val t0 = System.nanoTime()
    val feed = streamSession(spark).range(1, 65)
      .select(col("id").as("k"), timestamp_seconds(col("id")).as("ts"))
    if (stateful)
      sinkRun(feed, flush = Some(Flush("ts", ts => Row(-1L, ts), col("k") =!= -1L)))(
        _.withWatermark("ts", "10 seconds").groupBy(window(col("ts"), "1 minute"), col("k")).count())(
        identity): Unit
    else sinkRun(feed)(_.select(col("k") + 1 as "k2"))(identity): Unit
    (System.nanoTime() - t0) / 1e9
  }

  /** Observed state-operator count across the streaming queries the
    * current stream_* run drove: −1 = nothing observed yet, 0 = streams
    * ran stateless, >0 = at least one state-store operator executed.
    * [[stopRecording]] max-accumulates (a run driving several streams is
    * stateful if ANY of them is); Bench resets per measured run and uses
    * the observation to attribute each entry's harness floor.
    *
    * THREAD-LOCAL: a stream query function runs start() →
    * processAllAvailable → stopRecording inline on its caller's thread, so
    * keying the observation by thread makes reset/read pair up with
    * exactly the query that thread drove — concurrent stream queries in
    * one JVM (Verify runs queries in parallel) no longer cross-contaminate
    * a Bench observation the way a process-global max did.
    */
  private val stateOps = ThreadLocal.withInitial[Integer](() => -1)

  private[graft] def stateOpsSeen: Int = stateOps.get()

  private[graft] def resetStateObservation(): Unit = stateOps.set(-1)

  /** Record the finished stream's statefulness OFF THE EXECUTED PLAN'S
    * progress (`lastProgress.stateOperators` is populated synchronously at
    * batch completion, so it is reliable after `processAllAvailable`),
    * then stop. Both run loops stop their stream here — that is what lets
    * floor attribution be derived instead of hand-pinned.
    */
  private def stopRecording(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      val p = q.lastProgress
      val n = if (p == null || p.stateOperators == null) 0 else p.stateOperators.length
      stateOps.set(math.max(stateOpsSeen, n))
    } finally q.stop()

  /** Materialize a memory-sink table into a local DataFrame and DROP the
    * temp view. A memory sink holds its whole result set on the driver and
    * bench runs each parity query three times (warmup + two timed passes),
    * so leaving the per-invocation views registered accumulates dead result
    * copies for the JVM's lifetime.
    */
  private def drainSink(s: SparkSession, sink: String)(shape: DataFrame => DataFrame): DataFrame = {
    val shaped = shape(s.table(sink))
    val rows = shaped.collect()
    val schema = shaped.schema
    s.catalog.dropTempView(sink)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }
}
