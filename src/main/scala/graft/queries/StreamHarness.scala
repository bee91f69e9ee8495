package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ext.{Curation, Dedup, Multimodal, Ranking, Similarity, Sketches, Stats, TextStats}
import graft.ops.{TemporalOps, ZOrderOps}
import graft.streaming.Sessionize

/** The MemoryStream parity-harness runtime shared by every stream_* query
  * (split out of Extensions.scala): the low-partition clone session, the
  * pre-staged chunked feed, and the memory-sink drain.
  */
private[graft] object StreamHarness {

  /** Materialize a memory-sink table into a local DataFrame and DROP the
    * temp view. A memory sink holds its whole result set on the driver and
    * bench runs each parity query three times (warmup + two timed passes),
    * so leaving the per-invocation views registered accumulates dead result
    * copies for the JVM's lifetime.
    */
  /** Isolated session for the streaming parity harnesses. Stateful
    * streaming tasks commit one state store per shuffle partition per
    * micro-batch; at harness scale (thousands of rows, 2-3 micro-batches)
    * 32 partitions is pure commit overhead — a production deployment sizes
    * this to its key cardinality, and the parity claim is partition-count
    * independent. `newSession` shares the SparkContext but NOT runtime-set
    * SQL confs, so the session time zone is copied over explicitly (confs
    * set at session build, such as the parquet nanos decoding, carry over).
    */
  /** Test hook: the clone the most recent stream-parity query ran on.
    * Sink views register in the CLONE's catalog, so hygiene specs must
    * inspect this session — listing the base session's tables would pass
    * vacuously even if `drainSink` stopped dropping the view.
    */
  @volatile private[graft] var lastStreamSession: SparkSession = _

  private[queries] def streamSession(s: SparkSession): SparkSession = {
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
    // tiny-file writes; a RAM-backed root removes that fixed per-batch
    // disk cost. Pid-scoped and deleted at JVM exit (Scratch); every sink
    // name is nanoTime-unique so a run never resumes a prior checkpoint.
    val ckptRoot =
      if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else "/tmp"
    s2.conf.set(
      "spark.sql.streaming.checkpointLocation",
      graft.queries.Scratch.dirAt(ckptRoot, "stream_ckpt", "root"))
    s2.conf.set(
      "spark.sql.session.timeZone",
      s.conf.get("spark.sql.session.timeZone", "UTC"))
    lastStreamSession = s2
    s2
  }

  /** Stage `data` into the MemoryStream as ~16 blocks BEFORE the query
    * starts. One addData call is one source block is one input partition,
    * so a monolithic feed serializes the first micro-batch's map side on
    * one thread; and feeding after `start()` races the trigger loop into
    * an arbitrary batch split (observed: a 100k-row feed landing as 25k +
    * 75k batches, each paying the fixed batch overhead). Pre-staged
    * chunked blocks give exactly ONE micro-batch with a parallel map side
    * — the availableNow shape. Callers needing a SECOND deterministic
    * batch (sentinels, the index-maintenance cycles) addData after the
    * first processAllAvailable returns, when the trigger loop is idle.
    */
  private[queries] def feedChunked[A](
      mem: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[A],
      data: Seq[A]): Unit =
    if (data.nonEmpty) {
      val chunk = math.max(1, (data.length + 15) / 16)
      data.grouped(chunk).foreach(g => mem.addData(g: _*))
    }

  /** Fixed per-run cost of the MemoryStream parity harness itself, measured
    * by running the harness machinery (streamSession clone, pre-staged feed,
    * memory sink, two micro-batches, drain) around a near-empty query. Every
    * stream_* bench entry pays this floor regardless of the operator under
    * test, so BenchDiff subtracts it before applying the relative noise band
    * — otherwise a 0.5 s operator regression drowns in a 2-4 s harness
    * constant. Two shapes because they have different floors:
    *   - stateless: projection only (no state store) — the lower bound
    *   - stateful: watermarked window count in append mode — pays state-store
    *     provider load + commit per partition per batch, the shape most
    *     stream_* parity queries actually have
    */
  private[graft] def harnessFloor(spark: SparkSession, stateful: Boolean): Double = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val t0 = System.nanoTime()
    val s = streamSession(spark)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val mem = MemoryStream[(Long, java.sql.Timestamp)]
    val base = new java.sql.Timestamp(86400000L)
    feedChunked(mem, (1L to 64L).map(i => (i, new java.sql.Timestamp(i * 1000))))
    val df =
      if (stateful)
        mem
          .toDF()
          .toDF("k", "ts")
          .withWatermark("ts", "10 seconds")
          .groupBy(window(col("ts"), "1 minute"))
          .count()
      else mem.toDF().toDF("k", "ts").select(col("k") + 1 as "k2")
    val sink = s"harness_floor_${System.nanoTime()}"
    val q = df.writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      q.processAllAvailable()
      // second batch: the watermark-advancing sentinel every stateful parity
      // query issues to flush append-mode state — part of the fixed shape
      mem.addData((-1L, base))
      q.processAllAvailable()
    } finally q.stop()
    drainSink(s, sink)(identity): Unit
    (System.nanoTime() - t0) / 1e9
  }

  /** Observed state-operator count across the streaming queries the
    * current stream_* run drove: −1 = nothing observed yet, 0 = streams
    * ran stateless, >0 = at least one state-store operator executed.
    * [[stopRecording]] max-accumulates (a run driving several streams is
    * stateful if ANY of them is); Bench resets per measured run and uses
    * the observation — not the hand-pinned StreamQ.statefulQueries set —
    * to attribute each entry's harness floor, cross-checking the pin and
    * reporting any misclassification in the bench JSON.
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
    * then stop. Every stream_* call site routes its stop here — that is
    * what lets floor attribution be derived instead of hand-pinned.
    */
  private[graft] def stopRecording(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    try {
      val p = q.lastProgress
      val n = if (p == null || p.stateOperators == null) 0 else p.stateOperators.length
      stateOps.set(math.max(stateOpsSeen, n))
    } finally q.stop()

  private[queries] def drainSink(s: SparkSession, sink: String)(shape: DataFrame => DataFrame): DataFrame = {
    val shaped = shape(s.table(sink))
    val rows = shaped.collect()
    val schema = shaped.schema
    s.catalog.dropTempView(sink)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

}
