package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.ext.{Curation, Dedup, Maintenance, Multimodal, Similarity, Sketches}
import graft.streaming.{Sessionize, TemporalStream}

/** Stream/batch parity surfaces (split out of Extensions.scala): every
  * stream_* query drives an operator through one of the [[StreamHarness]]
  * run loops on its low-partition clone session and hash-matches its
  * batch twin's DuckDB oracle — layout is execution, meaning must not
  * change. An entry declares only its feed, its operator and its drain
  * shape (or, for the index loops, its batches and per-cycle work).
  */
object StreamQ {
  import QShared._
  import StreamHarness._
  import OracleSql._

  /** One fixed event time for the document feeds: every doc arrives
    * inside one watermark horizon, so the streaming answer is the batch
    * one.
    */
  private def docTime: Column = lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00"))

  /** (ts, event_type) events, flushed by a "~sentinel"-typed event. */
  private def eventTypes(s: SparkSession, dir: String): DataFrame =
    Fixtures.events(s, dir).select(col("ts"), col("event_type"))

  private val eventTypeFlush =
    Some(Flush("ts", Row(_, "~sentinel"), col("event_type") =!= "~sentinel"))

  /** The drained window counts in the batch twins' string form. */
  private def windowCounts(df: DataFrame): DataFrame =
    df.select(
      date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      col("event_type"),
      col("n"))

  /** As-of join input: purchases are side 0 (payload = value), clicks
    * side 1 (the probes); the event id is the tie-break on both sides.
    */
  private def asofFeed(s: SparkSession, dir: String): DataFrame =
    Fixtures.events(s, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id").as("key"),
        col("ts"),
        when(col("event_type") === "click", 1).otherwise(0).as("side"),
        col("event_id").as("tie"),
        when(col("event_type") === "click", 0.0).otherwise(col("value")).as("payload"))

  private def asofIn(in: DataFrame) = in.as(Encoders.product[TemporalStream.AsofIn])

  /** Flush for [[asofFeed]] (key -1 never matches a real user); the
    * nearest join finalizes a row only once the watermark passes
    * ts + horizon, so its sentinels sit `pastMs` further out.
    */
  private def asofFlush(pastMs: Long) =
    Some(Flush("ts", Row(-1L, _, 1, -1L, 0.0), col("key") =!= -1L, pastMs))

  /** Exact-Jaccard verification (≥ 0.7) of candidate pairs `(a, b)`
    * against the shared gram spill: `(a, b, jac)` with jac rounded to 6
    * places. The spill is plan-keyed, not session-keyed, so the parity
    * clones (fresh sessions) and their bench re-runs compute it once.
    */
  private def gramVerify(s: SparkSession, dir: String): (DataFrame, String, String) => DataFrame = {
    val g = graft.Memo.planFrame(
      Dedup.shingled(t(s, dir, "documents"), col("doc_id"), col("text"), 3), "stream_grams")
    (cands, a, b) =>
      cands
        .join(g.select(col("doc_id").as(a), col("grams").as("g_a")), a)
        .join(g.select(col("doc_id").as(b), col("grams").as("g_b")), b)
        .select(col(a), col(b), Dedup.jaccardSorted(col("g_a"), col("g_b")).as("jac_raw"))
        .filter(col("jac_raw") >= 0.7)
        .select(col(a), col(b), round(col("jac_raw"), 6).as("jac"))
  }

  /** CDC events for [[StreamHarness.indexCycles]]: the rows of `ups` as
    * op U, then the ids of each `dels` frame as op D (payload null).
    */
  private def cdc(ups: DataFrame, dels: DataFrame*): DataFrame =
    dels.foldLeft(ups.withColumn("op", lit("U"))) { (acc, d) =>
      acc.unionByName(d.withColumn("op", lit("D")), allowMissingColumns = true)
    }

  /** LAYOUT TIME for the LSH loops: every invocation resets the index
    * (bench reruns the query in one JVM; a stale appended index or
    * tombstone set would change what the batches see) through the one
    * layout writer — tombstones dropped, versions reset, era 0. The band
    * frame is deterministic and shared via the plan-keyed spill, so only
    * the small bucketed write repeats.
    */
  private def resetLshIndex(corpus: DataFrame, table: String): Unit =
    Dedup.LshLayout.persist(
      graft.Memo.planFrame(
        Dedup.lshIndex(corpus, col("doc_id"), col("text"), n = 3, k = 8, bands = 4),
        "lsh_maint_bands"),
      table, 8, era = 0L)

  /** The LSH text family's CDC loop: banded probe + gram verify, band
    * append, era-stamped delete.
    */
  private def lshIndexCycles(
      s: SparkSession, dir: String, table: String, outDir: String, batches: Seq[DataFrame]): DataFrame = {
    val verify = gramVerify(s, dir)
    indexCycles(s, table, outDir, batches)(
      ups => verify(
        Dedup.probeLshIndex(s, table, ups, col("doc_id"), col("text"), n = 3, k = 8, bands = 4),
        "new_id", "corpus_id"),
      Dedup.appendLshIndex(_, col("doc_id"), col("text"), table, buckets = 8, n = 3, k = 8, bands = 4),
      Dedup.deleteFromLshIndex(s, table, _, col("doc_id")))
  }

  /** The IVF-PQ family's CDC loop, under the PINNED memoized model: top-k
    * probe, append encoded with that same model (no retrain), delete.
    */
  private def annIndexCycles(
      s: SparkSession,
      table: String,
      outDir: String,
      coarse: Array[Seq[Long]],
      books: Array[Array[Seq[Long]]],
      batches: Seq[DataFrame]): DataFrame =
    indexCycles(s, table, outDir, batches)(
      Similarity.scoreAgainstAnnIndex(s, table, _, "vec_id", "embedding", coarse, books, nprobe = 2, k = 3),
      Similarity.appendAnnIndex(_, "vec_id", "embedding", coarse, books, table, buckets = 8),
      Similarity.deleteFromAnnIndex(s, table, _, "vec_id"))

  /** A scheduled maintenance loop over `fleet`, one tick per batch:
    * `tick` does the tick's mutations and returns its batch id and
    * maintenance plan (None skips an empty tick). The plan is collected
    * ONCE — the recorded rows and the applied decisions must be the same
    * observation (a lazy plan would re-census) — recorded with the batch
    * id, and applied with `audit = false` (the loop records the plan
    * rows; the discarded per-tick re-census was pure overhead). The trace
    * is fleet-metadata grain, so it is buffered on the driver.
    */
  private def maintenanceTrace(
      s: SparkSession, fleet: Map[String, Maintenance.ManagedIndex], batches: Seq[DataFrame])(
      tick: DataFrame => Option[(Long, DataFrame)]): DataFrame = {
    // concurrent: the cycle body runs on the stream-execution thread
    val trace = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    cycles(batches) { b =>
      tick(b).foreach { case (bid, plan) =>
        val planRows = plan.collect()
        planRows.foreach(r => trace.add(Row.fromSeq(r.toSeq :+ bid)))
        Maintenance.applyMaintenancePlan(
          s, s.createDataFrame(java.util.Arrays.asList(planRows: _*), plan.schema), fleet,
          audit = false): Unit
      }
    }
    s.createDataFrame(
      java.util.Arrays.asList(trace.toArray(Array.empty[Row]): _*),
      Maintenance.planSchema.add("batch", LongType))
      .select(
        col("batch"), col("index_name"), col("index_docs"), col("tomb_entries"),
        col("append_eras"), col("tomb_ppm"), col("drift_ppm"), col("capped_ppm"),
        col("decision"))
  }

  /** Every entry runs on a fresh [[StreamHarness.streamSession]] clone. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map[String, (SparkSession, String) => DataFrame](
    // STREAM/BATCH PARITY: the Structured Streaming session_window twin run
    // over the events fixture, hash-checked against the batch DuckDB
    // oracle — proof the watermarked streaming formulation computes
    // byte-identical sessions. The flush sentinels (user -1) push the
    // event-time watermark past every real session so append mode
    // finalizes them all.
    "stream_session_parity" -> { (s, dir) =>
      sinkRun(
        Fixtures.events(s, dir).select(col("user_id"), col("ts")),
        flush = Some(Flush("ts", Row(-1L, _), col("user_id") =!= -1L)))(
        Sessionize.sessionWindowStream(_, "user_id", "ts", gapMinutes = 30))(
        _.select(
          col("user_id"),
          unix_micros(col("start")).as("start_us"),
          unix_micros(col("end")).as("end_us"),
          col("n_events")))
    },
    // sixth stream/batch parity surface: the CUSTOM-STATE sessionizer
    // (flatMapGroupsWithState, the explicit state machine) against the
    // batch window oracle. Gated on the integer-exact session fields
    // (bounds + event count); total_value accumulates doubles in stream
    // order and is audited in SessionizeSpec instead, since no SQL engine
    // reproduces that exact float stream
    "stream_state_session_parity" -> { (s, dir) =>
      sinkRun(
        Fixtures.events(s, dir)
          .select(col("user_id").cast("string"), col("ts"), col("value").cast("double")),
        flush = Some(Flush("ts", Row("~sentinel", _, 0.0), col("user_id") =!= "~sentinel")))(
        in => Sessionize.sessionizeWithState(
          in.as(Encoders.product[Sessionize.SessionEvent]), gapMinutes = 30).toDF())(
        _.select(col("user_id"), col("start_us"), col("end_us"), col("n_events")))
    },
    // STREAM/BATCH PARITY for the as-of join: Structured Streaming has no
    // native as-of, so this drives the explicit flatMapGroupsWithState
    // state machine (TemporalStream.asofJoinStream — watermark-buffered
    // prefix merge, one carried running-last register per key) and
    // hash-matches the batch ev_asof_join oracle. Everything buffers at
    // watermark 0 in batch 0; the flush batch runs with the advanced
    // watermark and finalizes every real row via the event-time timeout.
    "stream_asof_parity" -> { (s, dir) =>
      sinkRun(asofFeed(s, dir), flush = asofFlush(0L))(
        in => TemporalStream.asofJoinStream(asofIn(in)).toDF())(
        _.select(
          col("tie").as("event_id"),
          col("key").as("user_id"),
          col("ts_us"),
          col("asof_us").as("purchase_us"),
          col("asof_payload").as("purchase_value")))
    },
    // STREAM/BATCH PARITY for the NEAREST as-of join: the bidirectional
    // state machine (TemporalStream.nearestJoinStream) — rows buffer per
    // key, a left row finalizes once the watermark passes ts + horizon
    // (the bounded peek-ahead every streaming nearest-join needs to
    // finalize at all), equidistant ties resolve backward, right ties to
    // the greatest id. The harness horizon (400 days) exceeds the
    // fixture's forward-match spread, so the result hash-matches the
    // UNBOUNDED batch ev_asof_nearest oracle exactly; sentinels sit past
    // maxTs + horizon so the watermark can finalize every real row.
    "stream_nearest_parity" -> { (s, dir) =>
      val horizonSec = 400L * 86400L
      sinkRun(asofFeed(s, dir), flush = asofFlush(horizonSec * 1000L))(
        in => TemporalStream.nearestJoinStream(asofIn(in), horizonSec).toDF())(
        _.select(
          col("tie").as("event_id"),
          col("key").as("user_id"),
          col("ts_us"),
          col("asof_us").as("purchase_us"),
          col("asof_dir"),
          col("asof_payload").as("purchase_value")))
    },
    // STREAM/BATCH PARITY for the bounded-lookback interval join: the
    // NATIVE watermarked stream-stream inner join (both sides watermarked,
    // horizon as the time-range condition the engine derives its state
    // eviction bound from) — exactly the machinery where watermark bugs
    // hide. Purchases and clicks ride two streams; matched pairs emit in
    // the join batch (inner-join append semantics need no sentinel), and
    // the linear credit split — a deterministic per-purchase window —
    // runs on the drained sink, hash-matched against the batch
    // ev_attribution_linear oracle.
    "stream_lookback_parity" -> { (s, dir) =>
      val ev = Fixtures.events(s, dir)
      sinkRun(
        Seq(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"), col("value")),
          ev.filter(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("cts"), col("event_id").as("click_id"))),
        "append", None) { case Seq(purchases, clicks) =>
        TemporalStream.lookbackJoinStream(
          purchases.withColumn("cents", floor(col("value") * 100 + 0.5).cast("long")).drop("value"),
          clicks, "user_id", "ts", "cts", horizonSec = 3L * 86400L)
      } { df =>
        val byP = Window.partitionBy(col("purchase_id"))
        df.withColumn("n_touches", count(lit(1)).over(byP))
          .withColumn(
            "rn",
            row_number().over(byP.orderBy(col("cts").desc, col("click_id").desc)))
          .select(
            col("user_id"),
            col("purchase_id"),
            col("click_id"),
            col("n_touches"),
            (expr("cents div n_touches") +
              when(col("rn") === 1, expr("cents % n_touches")).otherwise(0L)).as("credit_cents"))
      }
    },
    // third stream/batch parity surface: watermarked exact dedup — first
    // occurrences emit immediately in append mode, so no sentinel is
    // needed; the surviving doc per digest is arrival-order-dependent, so
    // the gated output is the DIGEST set (deterministic)
    "stream_dedup_parity" -> { (s, dir) =>
      sinkRun(t(s, dir, "documents").select(docTime.as("ts"), col("text")))(
        Dedup.streamingExactDedup(_, col("text"), "ts", "1 hour"))(
        _.select(md5(col("text")).as("h")))
    },
    // second stream/batch parity surface: the watermarked tumbling-window
    // aggregate, hash-checked against the batch groupBy oracle (same
    // flush technique as stream_session_parity)
    "stream_tumbling_parity" -> { (s, dir) =>
      sinkRun(eventTypes(s, dir), flush = eventTypeFlush)(
        Sessionize.tumblingCountsStream(_, "ts", "event_type"))(windowCounts)
    },
    // fourth stream/batch parity surface: the watermarked SLIDING-window
    // aggregate vs the batch window() oracle — same flush technique as
    // tumbling; every real window finalizes in append mode once the
    // sentinels push the watermark past max ts
    "stream_sliding_parity" -> { (s, dir) =>
      sinkRun(eventTypes(s, dir), flush = eventTypeFlush)(
        Sessionize.slidingCountsStream(_, "ts", "event_type", 60, 30))(windowCounts)
    },
    // streaming DP release parity: the grouped count is the ONLY stateful
    // piece (complete-mode streaming aggregate); the Laplace release is
    // stateless post-state algebra applied on drain — and must equal the
    // batch privacy_dp_counts release bit-for-bit
    "stream_dp_release_parity" -> { (s, dir) =>
      sinkRun(eventTypes(s, dir), "complete")(
        _.withColumn("day", to_date(col("ts")))
          .groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"))) { df =>
        val noise = Curation.dpLaplaceNoise(
          concat_ws("|", col("event_type").cast("string"), col("day").cast("string")), eps = 1.0)
        df.select(
          col("event_type"), col("day"),
          round(col("n").cast("double") + noise, 6).as("n_dp"),
          lit(1.0).as("epsilon"))
      }
    },
    // fifth stream/batch parity surface: count-min cells accumulated by the
    // single-stage streaming sketch (complete mode — legal unwatermarked
    // because the group domain is the bounded depth×width cell grid), then
    // probed exactly like the batch sketch; the drained cell table must be
    // bit-identical for the estimates to hash-match the batch oracle
    "stream_countmin_parity" -> { (s, dir) =>
      import s.implicits._
      // token explosion feeds BOTH the stream and the batch-side exact
      // counts; the plan-keyed spill tokenizes once across the two reads
      // and across bench re-runs
      val tokens = graft.Memo.planFrame(
        t(s, dir, "documents")
          .select(explode(split(trim(col("text")), "\\s+")).as("token"))
          .filter(length(col("token")) > 0),
        "stream_toks")
      val cells = sinkRun(tokens, "complete")(
        Sketches.countMinCellsStream(_, col("token"), depth = 4, width = 256))(identity)
      val probes = Seq("spark", "table", "the", "zebra").toDF("item")
      val est = Sketches.countMinEstimate(cells, probes, col("item"), depth = 4, width = 256)
      val exact = tokens.groupBy(col("token").as("item")).agg(count(lit(1)).as("exact"))
      est
        .join(exact, Seq("item"), "left")
        .select(col("item").as("token"), col("est"), coalesce(col("exact"), lit(0L)).as("exact"))
    },
    // seventh stream/batch parity surface: streaming LSH near-dup
    // CANDIDATES — the watermarked stream-stream self-join on the band
    // buckets — gated against the batch minhashLshPairs oracle. All docs
    // share one event time inside the horizon, so the banding (identical
    // signature pipeline) must yield exactly the batch candidate-pair set;
    // inner-join matches emit as both sides arrive, no sentinel needed.
    // A pair surfaces once per colliding band in the stream; the batch
    // twin reports it once — distinct on drain is the parity shape
    "stream_lsh_parity" -> { (s, dir) =>
      sinkRun(t(s, dir, "documents").select(col("doc_id"), docTime.as("ts"), col("text")))(
        Dedup.streamingLshCandidates(
          _, col("doc_id"), col("text"), "ts",
          watermark = "1 hour", horizonSeconds = 3600, n = 3, k = 8, bands = 4))(
        _.select(col("id_lo"), col("id_hi")).distinct())
    },
    // ninth stream/batch parity surface: the REAL image decode running
    // INSIDE a streaming plan. decodeImages is a stateless typed
    // mapPartitions, so the exact same operator composes into Structured
    // Streaming unchanged (append mode, no watermark/state) — the drained
    // decode output must hash-match the batch mm_decode_real oracle
    "stream_mm_decode_parity" -> { (s, dir) =>
      sinkRun(Multimodal.synthImages(tPar(s, dir, "documents"), "doc_id"))(
        Multimodal.decodeImages(_).toDF())(identity)
    },
    // the full streaming near-dedup chain: streaming LSH candidates →
    // exact-Jaccard verification (two stream-STATIC joins against the gram
    // table — stateless, so the whole verify stage lives inside the
    // watermarked streaming plan) → survivor selection. Cluster resolution
    // is inherently iterative (connected components), so it runs on the
    // drained verified-pair set — the per-batch shape a production
    // pipeline uses for the non-incremental tail
    "stream_lsh_survivors" -> { (s, dir) =>
      val docsDf = t(s, dir, "documents")
      val verify = gramVerify(s, dir)
      val pairs = sinkRun(docsDf.select(col("doc_id"), docTime.as("ts"), col("text")))(in =>
        verify(
          Dedup.streamingLshCandidates(
            in, col("doc_id"), col("text"), "ts",
            watermark = "1 hour", horizonSeconds = 3600, n = 3, k = 8, bands = 4),
          "id_lo", "id_hi"))(
        _.select(col("id_lo"), col("id_hi")).distinct())
      // plain CC over THIS run's drained pairs: the keyed memo that briefly
      // lived here served the first run's labels to every later invocation,
      // which weakened the parity witness (a dropped micro-batch would have
      // gone unnoticed) and only flattered min-of-passes (r21 verdict)
      val clusters = Dedup.connectedComponents(pairs)
      val labeled = docsDf
        .select(col("doc_id"), col("n_chars"))
        .join(clusters, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("canonical_id"), col("doc_id")))
      val w = Window.partitionBy(col("cluster_id")).orderBy(col("n_chars").desc, col("doc_id").asc)
      labeled
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("doc_id"), col("cluster_id"), col("n_chars"))
    },
    // tenth stream/batch parity surface: INCREMENTAL ingestion dedup as a
    // STATELESS stream-static join — the incoming batch arrives as a
    // stream, probes the static corpus (band, bh) index, and the verified
    // output must hash-match the batch dedup_incremental oracle. No
    // watermark, no state store: the join is stateless by construction.
    // A pair surfaces once per colliding band; distinct on drain is the
    // parity shape (same as stream_lsh_parity)
    "stream_incremental_parity" -> { (s, dir) =>
      val docsDf = t(s, dir, "documents")
      val verify = gramVerify(s, dir)
      sinkRun(docsDf.filter(col("doc_id") % 5 === 0).select(col("doc_id"), col("text")))(in =>
        verify(
          Dedup.streamingIncrementalCandidates(
            docsDf.filter(col("doc_id") % 5 =!= 0), in, col("doc_id"), col("text"),
            n = 3, k = 8, bands = 4),
          "new_id", "corpus_id"))(
        _.distinct())
    },
    // twelfth stream/batch parity surface: the END-TO-END incremental-dedup
    // MAINTENANCE loop. Each micro-batch cycle (the production shape the
    // incremental family implies): probe the PERSISTED bucketed index →
    // verify with exact Jaccard → append the batch's own bands back into
    // the index — so batch B's docs can match batch A's, which the
    // stateless stream-static probe cannot do. The drained pair set must
    // hash-match a batch oracle where (a, b) pairs exactly when a arrived
    // strictly after b (corpus = epoch 0, batch A = 1, batch B = 2).
    "stream_index_maintain" -> { (s, dir) =>
      val docsDf = t(s, dir, "documents")
      // incoming class 2 (mod 5), split A/B on mod 10: at sf0.01 this puts
      // the near-dup pair (72, 377) in DIFFERENT stream batches, so one
      // emitted pair exists ONLY because batch A's bands were appended —
      // the split that actually witnesses the append-back semantics
      // (incoming %5==0 had no cross-batch near-dups in the fixture)
      val table = Scratch.table("lsh_maint")
      resetLshIndex(docsDf.filter(col("doc_id") % 5 =!= 2), table)
      def docs(f: Column) = docsDf.filter(f).select(col("doc_id"), col("text"))
      lshIndexCycles(s, dir, table, Scratch.dir("lsh_maint", dir), Seq(
        cdc(docs(col("doc_id") % 10 === 2)),
        cdc(docs(col("doc_id") % 10 === 7))))
    },
    // the CDC MAINTENANCE loop — stream_index_maintain plus the RETRACT
    // half: events carry an op column (U = ingest, D = takedown). Each
    // cycle probes the persisted index with the batch's U docs (seeing
    // the index state from STRICTLY EARLIER batches), then appends the U
    // bands and tombstones the D ids. Batch A carries the takedowns, so
    // batch A's own probes still match the retracted docs
    // (probe-before-delete), batch B's probes must NOT — and must still
    // match batch A's appended docs. The oracle encodes exactly that
    // arrival-order × retraction visibility; at sf0.01 the fixture
    // witnesses all three clauses (92→450 kept pre-delete, 267→45/413 and
    // 447→70 dropped post-delete, 377→72 kept via the append-back)
    "stream_index_retract" -> { (s, dir) =>
      val docsDf = t(s, dir, "documents")
      val corpus = docsDf.filter(col("doc_id") % 5 =!= 2)
      val table = Scratch.table("lsh_retract")
      resetLshIndex(corpus, table)
      def docs(f: Column) = docsDf.filter(f).select(col("doc_id"), col("text"))
      // takedowns target EXISTING corpus docs (batch A); batch B then
      // RE-APPENDS two of them as fresh U events — the D-then-U case the
      // r17 id-only tombstone could not express. Era-stamped tombstones
      // hide only rows appended at era <= tomb_seq, so the re-appended
      // docs are visible to batch C's probes immediately (no compaction
      // between the takedown and the re-crawl). At sf0.01 the witnesses:
      // 267->45 and 447->70 are emitted ONLY via the re-append (their
      // probes moved to batch C), while 267->413 (retracted, not
      // re-appended) stays dropped.
      lshIndexCycles(s, dir, table, Scratch.dir("lsh_retract", dir), Seq(
        cdc(
          docs(col("doc_id") % 10 === 2),
          corpus
            .filter(graft.ops.Hashing.md5Mod(col("doc_id").cast("string"), 3L) === 0)
            .select(col("doc_id"))),
        cdc(
          docs(col("doc_id") % 10 === 7 && !col("doc_id").isin(267L, 447L))
            .unionByName(docs(col("doc_id").isin(45L, 70L)))),
        cdc(docs(col("doc_id").isin(267L, 447L)))))
    },
    // the VECTOR index maintenance cycle on a stream — the ANN twin of
    // stream_index_maintain: vectors arrive in micro-batches; each batch
    // probes the persisted bucketed IVFPQ index (top-k under the PINNED
    // memoized model), then appends itself encoded with that same model
    // (appendAnnIndex — no retrain). Batch B's probe sees batch A's
    // vectors ONLY because the append ran; the oracle replays the
    // arrival-order visibility (era-0 always, batch A visible to batch B)
    "stream_ann_index_maintain" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
      val table = Scratch.table("ann_maint")
      // layout time: persist resets the index each invocation (bench
      // reruns the query in one JVM; a stale appended index would
      // double-count batch A) — the model itself rides the memo, so only
      // the small bucketed write repeats
      Similarity.persistAnnIndex(
        e.filter(g =!= 0), "vec_id", "embedding", coarse, books, table, buckets = 8)
      def vecs(f: Column) = e.filter(f).select(col("vec_id"), col("embedding"))
      annIndexCycles(s, table, Scratch.dir("ann_maint", dir), coarse, books, Seq(
        cdc(vecs(g === 0 && col("vec_id") % 2 === 0)),
        cdc(vecs(g === 0 && col("vec_id") % 2 === 1))))
    },
    // the vector index's CDC loop — stream_ann_index_maintain plus the
    // RETRACT half (the ANN twin of stream_index_retract): batch A
    // carries U vectors AND D takedowns of an era-0 md5%5 stratum; each
    // cycle probes under the pinned model (probe-before-delete), appends
    // the U rows, tombstones the D ids. Batch-A queries still rank the
    // soon-to-be-deleted vectors; batch-B queries must not — and must
    // still see batch A's appends. One oracle encodes the joint
    // visibility (streamAnnRetractSql)
    "stream_ann_index_retract" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
      val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
      val table = Scratch.table("ann_retract")
      // layout time: persist resets the index AND its tombstones each
      // invocation (bench reruns in one JVM — stale tombstones would hide
      // batch-A probes' retracted partners too early)
      Similarity.persistAnnIndex(
        e.filter(g =!= 0), "vec_id", "embedding", coarse, books, table, buckets = 8)
      // takedowns target era-0 vectors (batch A); batch B then RE-APPENDS
      // the retracted stratum's even half as fresh U events — the
      // D-then-U case. Era-stamped tombstones hide only rows appended at
      // era <= tomb_seq, so the re-appended vectors are rankable to batch
      // C's queries immediately (no compaction between takedown and
      // re-crawl); the odd half stays retracted.
      val del5 = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 5L) === 0
      def vecs(f: Column) = e.filter(f).select(col("vec_id"), col("embedding"))
      annIndexCycles(s, table, Scratch.dir("ann_retract", dir), coarse, books, Seq(
        cdc(vecs(g === 0 && col("vec_id") % 2 === 0), e.filter(g =!= 0 && del5).select(col("vec_id"))),
        cdc(
          vecs(g === 0 && col("vec_id") % 4 === 1)
            .unionByName(vecs(g =!= 0 && del5 && col("vec_id") % 2 === 0))),
        cdc(vecs(g === 0 && col("vec_id") % 4 === 3))))
    },
    // the FINGERPRINT index's CDC loop — the Hamming family was the one
    // persisted index without a streaming lifecycle witness: frame-grain
    // events (op, frame_key = asset·8 + frame, dhash) arrive in three
    // micro-batches over the CAPPED corpus index (maxBucket = 64, the
    // frame family's production posture). Each cycle probes the batch's
    // U fingerprints (seeing the index state from strictly earlier
    // batches), appends them back (appends are never re-capped — the
    // documented posture, so the stream also witnesses the cap/append
    // interplay), and tombstones the D keys. Batch A carries takedowns
    // of the md5%3 corpus-asset stratum at FRAME grain
    // (probe-before-delete keeps batch A's matches); batch B re-appends
    // the even-asset half of the takedowns as fresh U events — the
    // D-then-U case on the composite frame_key, pinning that the
    // asset·8+frame id scheme survives at-least-once delivery; batch
    // C's probes must see the re-appended rows (their era beats the
    // tombstone) and must NOT see the still-retracted odd half. The
    // oracle replays arrival-order × retraction visibility with the
    // layout cap riding ONLY the era-0 corpus rows
    "stream_mm_index_retract" -> { (s, dir) =>
      val fh = frameHashes(s, dir)
      val corpus = fh.filter(col("asset_id") % 5 =!= 0)
      val table = Scratch.table("mm_retract")
      // layout time: persist resets index, tombstones AND version history
      // each invocation (bench reruns in one JVM); the spilled hash frame
      // keeps the GIF decode out of the per-invocation cost
      Multimodal.persistHammingIndex(
        corpus, "frame_key", "dhash", table, buckets = 8, maxBucket = 64)
      val g3 = graft.ops.Hashing.md5Mod(col("asset_id").cast("string"), 3L) === 0
      def keyed(df: DataFrame) = df.select(col("frame_key"), col("dhash"))
      indexCycles(s, table, Scratch.dir("mm_retract", dir), Seq(
        cdc(keyed(fh.filter(col("asset_id") % 15 === 0)), corpus.filter(g3).select(col("frame_key"))),
        cdc(
          keyed(fh.filter(col("asset_id") % 15 === 5))
            .unionByName(keyed(corpus.filter(g3 && col("asset_id") % 2 === 0)))),
        cdc(keyed(fh.filter(col("asset_id") % 15 === 10)))))(
        Multimodal.probeHammingIndex(s, table, _, "frame_key", "dhash", maxHamming = 8),
        Multimodal.appendHammingIndex(_, "frame_key", "dhash", table, buckets = 8),
        Multimodal.deleteFromHammingIndex(s, table, _, col("frame_key")))
    },
    // the SEMANTIC index's CDC loop — the last of the four persisted
    // families to gain a streaming lifecycle witness (LSH r18, IVFPQ r18,
    // Hamming r19): vectors arrive as (op, vec_id, embedding) events in
    // three micro-batches over the cell-bucketed semantic index under the
    // PINNED full-corpus centroids; each cycle probes (cosine ≥ τ within
    // the assigned cell, seeing strictly-earlier state), appends, and
    // tombstones the D ids. Batch A carries takedowns of the era-0 md5%5
    // stratum (probe-before-delete keeps batch A's matches); batch B
    // re-appends its even half (D-then-U — fresh era beats the
    // tombstone); batch C's probes see the re-appends, not the
    // still-retracted odd half. Same strata as the ANN twin so the two
    // families' fixtures stay comparable; the oracle replays the
    // arrival-order × retraction visibility over the trained-quantizer
    // cell assignment
    "stream_sem_index_retract" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val g = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 4L)
      val table = Scratch.table("sem_retract")
      // layout time: persist resets the index AND its tombstones each
      // invocation (bench reruns in one JVM — stale tombstones would hide
      // batch-A probes' retracted partners too early)
      Dedup.persistSemanticIndex(
        e.filter(g =!= 0), col("vec_id"), col("embedding"), cents, table, buckets = 8)
      val del5 = graft.ops.Hashing.md5Mod(col("vec_id").cast("string"), 5L) === 0
      def vecs(f: Column) = e.filter(f).select(col("vec_id"), col("embedding"))
      indexCycles(s, table, Scratch.dir("sem_retract", dir), Seq(
        cdc(vecs(g === 0 && col("vec_id") % 2 === 0), e.filter(g =!= 0 && del5).select(col("vec_id"))),
        cdc(
          vecs(g === 0 && col("vec_id") % 4 === 1)
            .unionByName(vecs(g =!= 0 && del5 && col("vec_id") % 2 === 0))),
        cdc(vecs(g === 0 && col("vec_id") % 4 === 3))))(
        // tau = 0.25, witness-driven: at 0.42 the g0 stratum splits
        // produce only era-0 pairs at sf0.01 (the append-back and
        // D-then-U clauses would pass vacuously); at 0.25 every
        // visibility clause has measured witnesses (6 re-append
        // pairs, 30+ cross-batch append pairs, 39 probe-before-delete)
        Dedup.probeSemanticIndex(s, table, _, col("vec_id"), col("embedding"), cents, tau = 0.25),
        Dedup.appendSemanticIndex(_, col("vec_id"), col("embedding"), cents, table, buckets = 8),
        Dedup.deleteFromSemanticIndex(s, table, _, col("vec_id")))
    },
    // the maintenance POLICY as a SCHEDULED LOOP — the production shape
    // the batch plan/apply/fixpoint queries rehearse one arc of: four
    // micro-batches of incoming docs append into the persisted LSH
    // index, and EVERY cycle runs census → indexMaintenancePlan →
    // applyMaintenancePlan (the real executor, real compactLshIndex).
    // Era pressure builds (persist = 1 era, each append +1), the
    // compactAppendEras = 3 literal fires on every second batch, the
    // compact collapses the survivors to ONE era (the r19 era-horizon
    // contract — without it the policy would re-trigger forever), and
    // the NEXT cycle's census replans over the healed state: the
    // decision trace none → compact → none → compact IS the policy's
    // limit cycle under constant append pressure. Output = the per-cycle
    // plan rows (batch, census, decision); the oracle re-derives the era
    // recurrence and the cumulative doc census arithmetically
    "stream_index_maintenance_loop" -> { (s, dir) =>
      val docsDf = t(s, dir, "documents")
      val table = Scratch.table("lsh_mloop")
      resetLshIndex(docsDf.filter(col("doc_id") % 5 =!= 0), table)
      val fleet = Map("lsh_text" -> Maintenance.ManagedIndex(
        table, "corpus_id",
        compact = () => Dedup.compactLshIndex(s, table, buckets = 8),
        // drift is 0 for a model-free text index, so this fixture never
        // reaches rebuild; the registration is still the real authority
        // rebuild (the executor contract wants a complete ManagedIndex)
        rebuild = () =>
          Dedup.rebuildLshIndex(s, table, docsDf, col("doc_id"), col("text"), buckets = 8)))
      // four batches: the incoming %5 stratum split by (doc_id%20)/5
      val feed = (0 until 4).map { b4 =>
        docsDf.filter(col("doc_id") % 5 === 0 && (col("doc_id") % 20) / 5 === b4)
          .select(lit(b4 + 1L).as("batch"), col("doc_id"), col("text"))
      }
      maintenanceTrace(s, fleet, feed) { b =>
        // empty micro-batch (a feed stratum can be empty at small SF):
        // max over zero rows is null — skip the cycle. One aggregate
        // probes emptiness AND reads the batch id (isEmpty + a second
        // agg was two jobs per tick for the same answer).
        val bidRow = b.agg(max(col("batch"))).collect()(0)
        if (bidRow.isNullAt(0)) None
        else {
          s.catalog.refreshTable(table)
          Dedup.appendLshIndex(
            b.select(col("doc_id"), col("text")), col("doc_id"), col("text"),
            table, buckets = 8, n = 3, k = 8, bands = 4)
          // the appended files land through the stream-execution clone;
          // THIS session's census must see them
          s.catalog.refreshTable(table)
          val census = Maintenance
            .indexCensus(s, table, "corpus_id", "lsh_text")
            .withColumn("drift_ppm", lit(0L))
          Some(bidRow.getLong(0) -> Maintenance.indexMaintenancePlan(
            census,
            rebuildDriftPpm = 1200000L,
            compactTombPpm = 100000L,
            compactAppendEras = 3L))
        }
      }
    },
    // the scheduled loop GENERALIZED TO THE FLEET: every micro-batch runs
    // ONE census→plan→apply over all four persisted-index families
    // through the shared registry recipe (QAnn.maintenanceRegistry — the
    // same ManagedIndex entries the batch plan/apply/fixpoint queries
    // use), with per-family pressure STAGGERED so each tick's decision
    // vector mixes compact and none: cycle 1 finds the LSH index carrying
    // its md5%3 takedown tombstones (compact; the other three healthy),
    // cycle 2 arrives carrying the frame index's %3 append stratum —
    // appends are never re-capped, so the quarantined boilerplate buckets
    // regrow and ONLY capped_ppm demands that compact (LSH is healed by
    // now: none). ANN and semantic members never mutate, so their tables
    // build once per corpus (Memo.once); the two mutated members rebuild
    // per run. Output = the per-cycle plan rows; the oracle re-derives
    // both cycles' censuses from the md5/modulo strata and the shared
    // frame-hash replay arithmetically
    "stream_fleet_maintenance_loop" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val coarse = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 8, iters = 2)
      val dcorp = docs.filter(col("doc_id") % 5 =!= 0)
      val scorp = e.filter(col("vec_id") % 5 =!= 0)
      val hcorp = frameHashes(s, dir).filter(col("asset_id") % 5 =!= 0)
      val annTbl = Scratch.table("ann_floop")
      graft.Memo.once(annTbl, dir) {
        val books = Similarity.pqTrainCached(e, "vec_id", "embedding", nsub = 4, nlistSub = 4, iters = 1)
        Similarity.persistAnnIndex(e, "vec_id", "embedding", coarse, books, annTbl, buckets = 8)
      }
      val semTbl = Scratch.table("sem_floop")
      graft.Memo.once(semTbl, dir)(
        Dedup.persistSemanticIndex(scorp, col("vec_id"), col("embedding"), coarse, semTbl, buckets = 8))
      val lshTbl = Scratch.table("lsh_floop")
      Dedup.persistLshIndex(
        dcorp, col("doc_id"), col("text"), table = lshTbl, buckets = 8, n = 3, k = 8, bands = 4)
      Dedup.deleteFromLshIndex(
        s, lshTbl,
        dcorp.filter(graft.ops.Hashing.md5Mod(col("doc_id").cast("string"), 3L) === 0),
        col("doc_id"))
      val hamTbl = Scratch.table("frm_floop")
      Multimodal.persistHammingIndex(
        hcorp.filter(col("asset_id") % 3 =!= 0), "frame_key", "dhash", hamTbl,
        buckets = 8, maxBucket = 64)
      // the loop models the steady-state scheduler: each tick's crawl is
      // fresh and undrifted, so the ANN drift thunk is the zero literal
      // (the MEASURED-drift arc is index_maintenance_plan/fixpoint's job)
      val registry = QAnn.maintenanceRegistry(
        s, dir, annTbl, lshTbl, semTbl, hamTbl,
        annDrift = () => s.range(1).select(lit(0L).as("drift_ppm")))
      // cycle 1: a bare scheduler tick (marker row, no appends);
      // cycle 2: the frame index's never-re-capped append stratum
      val feed = Seq(
        s.range(1).select(lit(1L).as("batch"), lit(-1L).as("frame_key"), lit(0L).as("dhash")),
        hcorp.filter(col("asset_id") % 3 === 0)
          .select(lit(2L).as("batch"), col("frame_key"), col("dhash")))
      maintenanceTrace(s, registry, feed) { b =>
        // one aggregate probes emptiness, the batch id AND whether any
        // append rows arrived (three separate jobs before)
        val probe = b.agg(
          max(col("batch")),
          sum(when(col("frame_key") >= 0, 1L).otherwise(0L))).collect()(0)
        if (probe.isNullAt(0)) None
        else {
          s.catalog.refreshTable(hamTbl)
          if (probe.getLong(1) > 0L) {
            val appends =
              b.filter(col("frame_key") >= 0).select(col("frame_key"), col("dhash"))
            Multimodal.appendHammingIndex(appends, "frame_key", "dhash", hamTbl, buckets = 8)
            // appended files land through the stream-execution clone;
            // THIS session's census must see them
            s.catalog.refreshTable(hamTbl)
          }
          Some(probe.getLong(0) -> Maintenance.indexMaintenancePlan(
            Maintenance.fleetCensus(s, registry),
            rebuildDriftPpm = 1200000L,
            compactTombPpm = 100000L,
            compactAppendEras = 4L,
            compactCappedPpm = 50000L))
        }
      }
    },
    // eleventh stream/batch parity surface: CDC apply as a STREAMING
    // max_by aggregation (complete mode, no watermark — state is one row
    // per key, planned by Catalyst, no custom state code). The drained
    // snapshot must hash-match the batch scd_changelog_apply oracle
    "stream_changelog_parity" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      val asInserts = base.withColumn("op", lit("U")).withColumn("seq", lit(Long.MinValue))
      val upserts = base
        .filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000)
        .withColumn("op", lit("U"))
        .withColumn("seq", lit(1L))
      val deletes = base
        .filter(col("o_orderkey") % 11 === 0)
        .withColumn("op", lit("D"))
        .withColumn("seq", lit(2L))
      sinkRun(asInserts.unionByName(upserts).unionByName(deletes), "complete")(
        graft.ops.ChangeOps.applyChangelogAgg(
          _, Seq("o_orderkey"), "op", "seq",
          Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")))(identity)
    },
    // thirteenth stream/batch parity surface: the KLL gate is a pure
    // per-row filter (stateless, append mode) — stream the orders rows,
    // drain the surviving sample, and the quantile read off the drained
    // sketch must hash-match the batch sketch_kll_quantiles oracle
    // verbatim (the sketch is a pure function of the multiset, so HOW the
    // rows arrived cannot matter)
    "stream_kll_parity" -> { (s, dir) =>
      val sample = sinkRun(t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")))(
        Sketches.kllSketch(_, col("o_totalprice"), col("o_orderkey"), level = 4))(identity)
      Sketches.kllQuantiles(sample, (1 to 9).map(_ / 10.0))
    },
    // streaming twin of corpus_mix_temperature (SAME oracle): the √n̅
    // weight table + bottleneck train relationally once, bake into the
    // plan as literals, and the stream filter is a pure stateless gate —
    // no state store, no join, the DSIR-serving pattern for mixing
    "stream_mix_parity" -> { (s, dir) =>
      val docsDf = t(s, dir, "documents").select(col("doc_id"), col("source"))
      val model = Curation.temperatureMixModel(docsDf, col("source"))
      sinkRun(docsDf)(_.filter(Curation.temperatureGate(col("doc_id"), col("source"), model)))(identity)
    },
    // streaming twin of the ingest-boundary quarantine: the routing flag
    // is a pure map-only column (JacksonParser in codegen, no state), so
    // the SAME parseWithQuarantine call classifies the firehose — corrupt
    // records on a stream must route, never kill the query. Hash-matches
    // the batch json_valid oracle verbatim.
    "stream_ingest_quarantine_parity" -> { (s, dir) =>
      import org.apache.spark.sql.types._
      val p0 = concat(
        lit("{\"id\":"), col("doc_id").cast("string"),
        lit(",\"lang\":\""), coalesce(col("lang"), lit("xx")),
        lit("\",\"n\":"), col("n_chars").cast("string"), lit("}"))
      val payloads = t(s, dir, "documents")
        .select(
          col("doc_id"),
          when(col("doc_id") % 7 === 3, substring(p0, 2, 1000000))
            .when(col("doc_id") % 11 === 5, concat(lit("garbage-"), col("doc_id").cast("string")))
            .otherwise(p0)
            .as("payload"))
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("lang", StringType), StructField("n", LongType)))
      sinkRun(payloads)(
        graft.ops.IngestOps
          .parseWithQuarantine(_, col("payload"), schema, required = Seq("id", "lang", "n"))
          .select(
            col("doc_id"),
            col("ingest_ok"),
            when(col("ingest_ok"), col("parsed.lang")).as("lang_parsed"),
            when(col("ingest_ok"), col("parsed.n")).as("n_parsed")))(identity)
    },
    // streaming twin of the NB classifier's serving half: the model fits
    // relationally batch-side (bounded state, vocabK × |classes|), bakes
    // into the plan as literals via Classify.nbServe, and the stream is a
    // pure stateless map — no join, no state store, the same discipline as
    // DSIR/mixing serving. Per-doc predictions hash-match the batch
    // argmax oracle, so "classify the firehose" is certified against
    // "classify the table".
    "stream_nb_classify_parity" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val model = graft.ext.Classify.nbFit(
        docs, col("doc_id"), col("text"), col("lang"),
        trainPermille = 800, vocabK = 64, corpusKey = s"documents|$dir")
      // harness feed: the held-out stratum (bounded fixture rows)
      sinkRun(
        docs
          .filter(graft.ops.Hashing.md5Mod(col("doc_id").cast("string"), 1000L) >= 800)
          .select(col("doc_id"), col("lang").as("label"), col("text")))(
        _.select(
          col("doc_id"), col("label"),
          graft.ext.Classify.nbServe(col("text"), model).as("predicted")))(identity)
    },
    // fit-batch / serve-stream for the PCA family (the NB precedent): the
    // component is fitted once relationally (through the fitted-model memo,
    // so the batch emb_pca_project query and this twin share the pass) and
    // baked into the plan as literals — the IDENTICAL map-only column then
    // scores the firehose, and the output hash-matches the batch oracle.
    "stream_pca_serve_parity" -> { (s, dir) =>
      val e = t(s, dir, "embeddings")
      val cov = graft.ext.EmbAlgebra.covPpmMatrixCached(e, col("embedding"), dim = 64)
      val (v, prev, lambda) = graft.ext.EmbAlgebra.topComponent(cov, rounds = 6)
      val delta = v.zip(prev).map { case (a, b) => math.abs(a - b) }.max
      sinkRun(e.select(col("vec_id"), col("embedding")))(
        _.select(
          col("vec_id"),
          graft.ext.EmbAlgebra.projectScore(col("embedding"), v).as("score"),
          lit(lambda).as("lambda_ppm"),
          lit(delta).as("conv_delta")))(identity)
    },
    // fourteenth stream/batch parity surface: DSIR model SERVING. The
    // weight table is trained batch-side (256 longs — model state), baked
    // into a literal array, and the document stream is scored stateless
    // map-only (dsirScoreColumn: one HOF pass, no explode/join/shuffle,
    // append mode with no state store). The drained scores hash-match the
    // exploded batch form's oracle, shared verbatim — the layout-vs-
    // meaning contract for model serving.
    "stream_dsir_parity" -> { (s, dir) =>
      val docsDf = t(s, dir, "documents")
      val weights: Seq[Long] = Curation
        .dsirBucketWeights(docsDf, docsDf.filter(col("lang") === "en"), col("text"))
        .orderBy(col("bucket"))
        .collect()
        .map(_.getLong(1))
        .toSeq
      sinkRun(docsDf.select(col("doc_id"), col("text")))(
        // the relational batch form DROPS tokenless docs; mirror that here
        // (the serving column scores them 0) so the row sets agree
        _.filter(size(filter(split(trim(col("text")), "\\s+"), t => t =!= "")) > 0)
          .select(col("doc_id"), Curation.dsirScoreColumn(col("text"), weights).as("score")))(identity)
    },
  ).map { case (name, q) => name -> onClone(q) }

  val oracles: Map[String, String] = Map(
    // parity: the streaming candidate set must be EXACTLY the batch one
    "stream_lsh_parity" -> minhashPairsOracleSql,
    "stream_lsh_survivors" ->
      (verifiedClusterChainSql + """
        , cl AS (SELECT id AS doc_id, min(r) AS canonical_id FROM reach GROUP BY id)
        , lab AS (
          SELECT d.doc_id, d.n_chars, coalesce(cl.canonical_id, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN cl USING (doc_id))
        SELECT doc_id, cluster_id, n_chars FROM (
          SELECT *, row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rk
          FROM lab)
        WHERE rk = 1"""),
    // the streaming stream-static probe must reduce to the batch answer
    "stream_incremental_parity" -> incrementalProbeSql,
    // maintenance-loop parity: (a, b) pairs exactly when a ARRIVED strictly
    // after b — corpus is epoch 0, stream batch A (doc_id%10=2) is 1,
    // batch B (doc_id%10=7) is 2. Same banding and verify tail as the
    // other incremental oracles. At sf0.01 the pair (377 -> 72) crosses
    // the two stream batches: it is emitted ONLY via the append-back.
    "stream_index_maintain" ->
      (gramsCte + sigBandedCte + """
        , cands AS (
          SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
          FROM banded a JOIN banded b ON a.b = b.b AND a.bh = b.bh
          WHERE (CASE WHEN a.doc_id % 5 <> 2 THEN 0 WHEN a.doc_id % 10 = 2 THEN 1 ELSE 2 END)
              > (CASE WHEN b.doc_id % 5 <> 2 THEN 0 WHEN b.doc_id % 10 = 2 THEN 1 ELSE 2 END)
        )
        SELECT new_id, corpus_id,
          round(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
                / len(list_distinct(list_concat(ga.grams, gb.grams))), 6) AS jac
        FROM cands
        JOIN g ga ON ga.doc_id = new_id
        JOIN g gb ON gb.doc_id = corpus_id
        WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
              / len(list_distinct(list_concat(ga.grams, gb.grams))) >= 0.7"""),
    // CDC-loop parity: arrival order, retraction AND re-append — a pair
    // exists when the corpus doc has a live index row from a batch
    // strictly earlier than the new doc's. Epoch 1 queries (doc_id%10=2)
    // see all of epoch 0 (probe-before-delete); epoch 2 queries (%10=7
    // minus the two moved probes, plus the re-appended 45/70 themselves)
    // see epoch 0 minus the md5%3 takedowns, plus epoch 1's appends;
    // epoch 3 queries (267, 447) ADDITIONALLY see epoch 2's appends —
    // including the RE-APPENDED 45/70, whose fresh era beats their
    // tombstone (the D-then-U visibility era-aware tombstones add).
    "stream_index_retract" ->
      incrementalProbeSqlFor(
        "a.doc_id % 10 IN (2, 7) OR a.doc_id IN (45, 70)",
        s"""(a.doc_id % 10 = 2 AND b.doc_id % 5 <> 2)
              OR (((a.doc_id % 10 = 7 AND a.doc_id NOT IN (267, 447)) OR a.doc_id IN (45, 70)) AND (
                   (b.doc_id % 5 <> 2 AND NOT (${md5GateSql("b.doc_id", 3)}))
                   OR b.doc_id % 10 = 2))
              OR (a.doc_id IN (267, 447) AND (
                   (b.doc_id % 5 <> 2 AND NOT (${md5GateSql("b.doc_id", 3)}))
                   OR b.doc_id % 10 = 2
                   OR (b.doc_id % 10 = 7 AND b.doc_id NOT IN (267, 447))
                   OR b.doc_id IN (45, 70)))"""),
    // the ANN index maintenance cycle: arrival-order candidate visibility
    // (era-0 always; batch A only to batch B) under the pinned model
    "stream_ann_index_maintain" -> streamAnnMaintainSql,
    // plus retraction: the md5%5 era-0 stratum vanishes for batch-B
    // queries (probe-before-delete keeps it for batch A's)
    "stream_ann_index_retract" -> streamAnnRetractSql,
    // the semantic family's CDC loop: the trained-quantizer cell probe
    // (qz + kmeans CTEs shared with the batch semantic twins) under
    // arrival-order × retraction visibility. Probe epochs: the g0 (md5%4)
    // incoming stratum splits 1/2/3 on %2 / %4, and the re-appended
    // takedown ids (corpus ∧ md5%5 ∧ even) probe as batch B (epoch 2).
    // Candidate visibility: era-0 corpus rows vanish for epochs ≥ 2 when
    // tombstoned; epoch-1 appends visible to 2+; epoch-2 appends
    // (incoming %4=1 AND the re-appends, whose fresh era beats their
    // tombstone) visible to epoch 3 only
    "stream_sem_index_retract" ->
      (qzCte + "\n        " + ivfKmeansCtesSql + s"""
        , av AS (
          SELECT a.cell, a.vec_id, z.q FROM assign a JOIN qz z USING (vec_id)
        ), pr AS (
          SELECT av.*,
                 CASE WHEN (${md5GateSql("vec_id", 4)}) AND vec_id % 2 = 0 THEN 1
                      WHEN (${md5GateSql("vec_id", 4)}) AND vec_id % 4 = 1 THEN 2
                      WHEN (${md5GateSql("vec_id", 4)}) AND vec_id % 4 = 3 THEN 3
                      ELSE 2 END AS e
          FROM av
          WHERE (${md5GateSql("vec_id", 4)})
             OR (NOT (${md5GateSql("vec_id", 4)}) AND (${md5GateSql("vec_id", 5)})
                 AND vec_id % 2 = 0)
        ), sprs AS (
          SELECT x.vec_id AS new_id, y.vec_id AS corpus_id,
                 round(${cosSql("x.q", "y.q")}, 6) AS sim
          FROM pr x JOIN av y ON x.cell = y.cell
          WHERE (NOT (${md5GateSql("y.vec_id", 4)})
                 AND (NOT (${md5GateSql("y.vec_id", 5)}) OR x.e = 1))
             OR ((${md5GateSql("y.vec_id", 4)}) AND y.vec_id % 2 = 0 AND x.e >= 2)
             OR ((((${md5GateSql("y.vec_id", 4)}) AND y.vec_id % 4 = 1)
                  OR (NOT (${md5GateSql("y.vec_id", 4)}) AND (${md5GateSql("y.vec_id", 5)})
                      AND y.vec_id % 2 = 0))
                 AND x.e = 3)
        )
        SELECT new_id, corpus_id, sim FROM sprs WHERE sim >= 0.25"""),
    // the scheduled-maintenance-loop trace, re-derived arithmetically:
    // index_docs at batch b = |corpus| + Σ strata ≤ b (appends add
    // distinct ids, nothing retracts); the era recurrence under the
    // compactAppendEras = 3 literal is a period-2 limit cycle — persist
    // holds 1 era, each append adds one, the compact that fires at 3
    // collapses the survivors to ONE era (the era-horizon contract), so
    // eras(b) = 2 for odd b (→ none), 3 for even b (→ compact); all the
    // other signals are identically zero for a model-free, uncapped,
    // untombstoned text index
    "stream_index_maintenance_loop" ->
      """WITH c AS (
           SELECT CAST(count(*) AS BIGINT) AS n FROM documents WHERE doc_id % 5 <> 0),
         i AS (
           SELECT (doc_id % 20) // 5 + 1 AS b, CAST(count(*) AS BIGINT) AS n
           FROM documents WHERE doc_id % 5 = 0 GROUP BY 1),
         t AS (SELECT CAST(unnest([1, 2, 3, 4]) AS BIGINT) AS batch)
         SELECT t.batch, 'lsh_text' AS index_name,
                CAST(c.n + (SELECT COALESCE(sum(n), 0) FROM i WHERE i.b <= t.batch)
                     AS BIGINT) AS index_docs,
                CAST(0 AS BIGINT) AS tomb_entries,
                CAST(CASE WHEN t.batch % 2 = 1 THEN 2 ELSE 3 END AS BIGINT) AS append_eras,
                CAST(0 AS BIGINT) AS tomb_ppm,
                CAST(0 AS BIGINT) AS drift_ppm,
                CAST(0 AS BIGINT) AS capped_ppm,
                CASE WHEN t.batch % 2 = 1 THEN 'none' ELSE 'compact' END AS decision
         FROM t CROSS JOIN c""",
    // the fleet loop's two-cycle decision trace, re-derived
    // arithmetically per family: ANN/semantic are single-era pristine
    // builds (none both cycles); LSH carries the md5%3 takedown stratum
    // at cycle 1 (tomb_ppm ≈ 333 333 ≥ 100 000 → compact) and reads
    // healed at cycle 2 (docs minus the folded stratum, none); the frame
    // index is the capped persist stratum (%3≠0, capped_ppm 0, none) at
    // cycle 1, then the never-re-capped %3 append regrows the
    // boilerplate buckets — cycle 2's capped_ppm is the over-cap stored
    // mass from the shared frame-hash replay (≥ 50 000 → compact)
    "stream_fleet_maintenance_loop" ->
      ("WITH " + QMultimodal.frameHashCtesBody + s""",
         hper AS (
           SELECT band, bv, count(*) AS n FROM bands
           WHERE id % 5 <> 0 AND id % 3 <> 0 GROUP BY 1, 2),
         hkept AS (
           SELECT b.key, b.band, b.bv FROM bands b
           JOIN hper c ON c.band = b.band AND c.bv = b.bv
           WHERE b.id % 5 <> 0 AND b.id % 3 <> 0 AND c.n <= 64),
         happ AS (SELECT key, band, bv FROM bands WHERE id % 5 <> 0 AND id % 3 = 0),
         hstored AS (SELECT * FROM hkept UNION ALL SELECT * FROM happ),
         hbc AS (SELECT band, bv, count(*) AS n FROM hstored GROUP BY 1, 2),
         hstats AS (
           SELECT CAST(sum(CASE WHEN n > 64 THEN n ELSE 0 END) AS BIGINT) AS capped_rows,
                  CAST(sum(n) AS BIGINT) AS total_rows FROM hbc),
         nl AS (
           SELECT CAST(count(*) AS BIGINT) AS docs,
                  CAST(count(CASE WHEN ${md5GateSql("doc_id", 3)} THEN 1 END) AS BIGINT)
                    AS tombs
           FROM documents WHERE doc_id % 5 <> 0),
         ne AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
         ns AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings WHERE vec_id % 5 <> 0),
         hk AS (SELECT CAST(count(DISTINCT key) AS BIGINT) AS n FROM hkept),
         hs AS (SELECT CAST(count(DISTINCT key) AS BIGINT) AS n FROM hstored)
         SELECT CAST(1 AS BIGINT) AS batch, 'ann_ivfpq' AS index_name,
                (SELECT n FROM ne) AS index_docs, CAST(0 AS BIGINT) AS tomb_entries,
                CAST(1 AS BIGINT) AS append_eras, CAST(0 AS BIGINT) AS tomb_ppm,
                CAST(0 AS BIGINT) AS drift_ppm, CAST(0 AS BIGINT) AS capped_ppm,
                'none' AS decision
         UNION ALL
         SELECT 1, 'lsh_text', (SELECT docs FROM nl), (SELECT tombs FROM nl), 1,
                (SELECT (tombs * 1000000) // greatest(docs, 1) FROM nl), 0, 0, 'compact'
         UNION ALL
         SELECT 1, 'semantic_cell', (SELECT n FROM ns), 0, 1, 0, 0, 0, 'none'
         UNION ALL
         SELECT 1, 'hamming_frame', (SELECT n FROM hk), 0, 1, 0, 0, 0, 'none'
         UNION ALL
         SELECT 2, 'ann_ivfpq', (SELECT n FROM ne), 0, 1, 0, 0, 0, 'none'
         UNION ALL
         SELECT 2, 'lsh_text', (SELECT docs - tombs FROM nl), 0, 1, 0, 0, 0, 'none'
         UNION ALL
         SELECT 2, 'semantic_cell', (SELECT n FROM ns), 0, 1, 0, 0, 0, 'none'
         UNION ALL
         SELECT 2, 'hamming_frame', (SELECT n FROM hs), 0, 2, 0, 0,
                (SELECT capped_rows * 1000000 // greatest(total_rows, 1) FROM hstats),
                'compact'"""),
    // the Hamming-family CDC loop: arrival-order × retraction visibility
    // over the shared frame-hash replay. Probe epochs: %15=0 → 1,
    // %15=5 → 2, %15=10 → 3, the re-appended takedown assets (corpus ∧
    // md5%3 ∧ even) probe as batch B (epoch 2). A candidate row is
    // visible when it arrived strictly earlier AND is live: era-0
    // corpus rows ride the layout cap (bucket ≤ 64) and vanish for
    // epochs ≥ 2 if tombstoned (md5%3); appended rows are UNCAPPED by
    // contract — epoch-1 appends visible to 2+, epoch-2 appends
    // (incoming %15=5 AND the re-appends, whose fresh era beats their
    // tombstone) visible to epoch 3 only
    "stream_mm_index_retract" ->
      ("WITH " + QMultimodal.frameHashCtesBody + s""",
        cbv AS (SELECT band, bv, count(*) AS n FROM bands WHERE id % 5 <> 0 GROUP BY 1, 2),
        probes AS (
          SELECT b.*,
                 CASE WHEN id % 15 = 0 THEN 1 WHEN id % 15 = 5 THEN 2
                      WHEN id % 15 = 10 THEN 3 ELSE 2 END AS e
          FROM bands b
          WHERE id % 5 = 0
             OR (id % 5 <> 0 AND (${md5GateSql("id", 3)}) AND id % 2 = 0))
        SELECT DISTINCT l.key AS new_id, r.key AS corpus_id,
               CAST(bit_count(xor(l.dhash, r.dhash)) AS INTEGER) AS hamming
        FROM probes l
        JOIN bands r ON l.band = r.band AND l.bv = r.bv
        LEFT JOIN cbv ON cbv.band = r.band AND cbv.bv = r.bv
        WHERE l.key <> r.key AND bit_count(xor(l.dhash, r.dhash)) <= 8
          AND ( (r.id % 5 <> 0 AND cbv.n <= 64
                 AND (NOT (${md5GateSql("r.id", 3)}) OR l.e = 1))
             OR (r.id % 15 = 0 AND l.e >= 2)
             OR ((r.id % 15 = 5
                  OR (r.id % 5 <> 0 AND (${md5GateSql("r.id", 3)}) AND r.id % 2 = 0))
                 AND l.e = 3) )"""),
    // the streaming max_by aggregation must drain to the batch snapshot
    "stream_changelog_parity" -> changelogApplySql,
    // the state-machine sessionizer uses sessionizeBatch's strict-> gap
    // rule, so its oracle is the batch session derivation projected to the
    // integer-exact fields
    "stream_state_session_parity" ->
      """WITH x AS (
           SELECT user_id, ts, event_id,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           FROM events
         ), y AS (
           SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                          THEN 1 ELSE 0 END AS brk
           FROM x
         ), z AS (
           SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM y
         )
         SELECT CAST(user_id AS VARCHAR) AS user_id,
                epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
                count(*) AS n_events
         FROM z GROUP BY user_id, session_id""",
    // session_window merges on OVERLAP: a gap of exactly 30min starts a
    // NEW session (>=), unlike sessionizeBatch's > — and end = last + gap
    "stream_session_parity" ->
      """WITH x AS (
           SELECT user_id, ts,
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
           FROM events
         ), y AS (
           SELECT user_id, ts, CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
                          THEN 1 ELSE 0 END AS brk
           FROM x
         ), z AS (
           SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
           FROM y
         )
         SELECT user_id, epoch_us(min(ts)) AS start_us,
           epoch_us(max(ts)) + 1800000000 AS end_us,
           count(*) AS n_events
         FROM z GROUP BY user_id, session_id""",
    "stream_tumbling_parity" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, count(*) AS n
         FROM events GROUP BY 1, 2""",
    "stream_dedup_parity" ->
      """SELECT DISTINCT md5(text) AS h FROM documents""",
    "stream_sliding_parity" ->
      """WITH half AS (
           SELECT event_type,
             to_timestamp(CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT)) AS w0
           FROM events
         ), windows AS (
           SELECT event_type, unnest([w0, w0 - INTERVAL 30 MINUTE]) AS window_start
           FROM half
         )
         SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
                event_type, count(*) AS n
         FROM windows GROUP BY 1, 2""",
    "stream_countmin_parity" ->
      """WITH tok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS item FROM documents),
         tok2 AS (SELECT item FROM tok WHERE length(item) > 0),
         cells AS (
           SELECT j,
             CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '_', item)), 1, 8)) AS BIGINT) % 256 AS cell,
             CAST(count(*) AS BIGINT) AS cnt
           FROM tok2, range(0, 4) t(j) GROUP BY 1, 2),
         probes AS (SELECT unnest(['spark', 'table', 'the', 'zebra']) AS item),
         pc AS (SELECT item, j,
                  CAST(concat('0x', substr(md5(concat(CAST(j AS VARCHAR), '_', item)), 1, 8)) AS BIGINT) % 256 AS cell
                FROM probes, range(0, 4) t(j)),
         est AS (SELECT item, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
                 FROM pc LEFT JOIN cells USING (j, cell) GROUP BY 1),
         ex AS (SELECT item, CAST(count(*) AS BIGINT) AS exact FROM tok2 GROUP BY 1)
         SELECT e.item AS token, e.est, coalesce(x.exact, 0) AS exact
         FROM est e LEFT JOIN ex x USING (item)""",
    // parity: the streaming decode must be EXACTLY the batch decode
    "stream_mm_decode_parity" -> decodeRealOracleSql,
    "stream_dsir_parity" -> dsirScoresSql,
    // the batch NB argmax per held-out doc, shared with text_nb_confusion
    "stream_nb_classify_parity" -> nbPredictionsSql,
    // serve == batch on the same rows, so the stream twin shares the
    // emb_pca_project oracle verbatim
    "stream_pca_serve_parity" -> embPcaProjectSql,
    // the batch routing oracle, shared with ingest_json_quarantine
    "stream_ingest_quarantine_parity" -> ingestQuarantineSql,
    // layout differs (stateless stream gate vs batch join), meaning must
    // not: the oracle is corpus_mix_temperature's verbatim
    "stream_mix_parity" -> tempMixSql,
    // the streaming as-of state machine must land byte-identical to the
    // batch operator, so the twins share ONE oracle
    "stream_asof_parity" -> evAsofJoinSql,
    // the streaming nearest state machine shares the batch twin's oracle:
    // the harness horizon exceeds the fixture's forward spread, so the
    // bounded-peek-ahead answer IS the unbounded one
    "stream_nearest_parity" -> evAsofNearestSql,
    // the streaming release must equal the batch release bit-for-bit:
    // state carries only the counts, the noise is post-state algebra
    "stream_dp_release_parity" -> dpCountsOracleSql,
    // the native watermarked stream-stream interval join must reproduce
    // the batch lookback join exactly, so the twins share ONE oracle
    "stream_lookback_parity" -> evAttributionLinearSql,
    "stream_kll_parity" -> kllQuantilesSql,
  )
}
