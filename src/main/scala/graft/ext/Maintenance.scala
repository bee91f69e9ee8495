package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Index-maintenance POLICY: compose the observability signals the
  * persisted-index lifecycles emit (tombstone load, append-era count,
  * quantizer drift, file amplification, capped-bucket regrowth) into a
  * none/compact/rebuild decision per index — the loop-closer over the
  * lifecycle actions every index family shares ([[BucketedIndex]]:
  * [[BucketedIndex.Layout.compact]], [[BucketedIndex.rebuild]],
  * [[BucketedIndex.sweepTick]], [[BucketedIndex.dropAbandonedBuilds]]).
  * The reference's pipelines encode the same shape manually (re-pull
  * cache vs reuse, chicago permit_cleaning.py's per-year CSV memo); at
  * 100 TB the decision has to be an operator, not an operator's
  * operator.
  *
  * Everything here is declarative column logic over a CENSUS frame, so
  * the decision replays exactly in any engine given the same census —
  * the driver's `index_maintenance_plan` oracle does precisely that. The
  * one census signal that does NOT port to another engine is the physical
  * file count (Spark's bucket hash decides which buckets are non-empty),
  * so the file-amplification branch is spec-pinned (MaintenanceSpec)
  * rather than oracle-checked.
  */
object Maintenance {

  /** One census row for a persisted index table: distinct indexed ids,
    * live tombstone entries, distinct append eras, and — for a CAPPED
    * banded layout ([[Multimodal.persistHammingIndex]]'s `maxBucket`,
    * [[Dedup.persistLshIndex]]'s) — the capped-bucket REGROWTH signal
    * `capped_ppm`: stored rows sitting in buckets whose membership
    * exceeds the layout cap, per million stored rows. Appends are never
    * re-capped (the documented posture: the cap is a layout-epoch
    * census), so an append-heavy loop regrows quarantined buckets and
    * probe cost degrades until a compact/rebuild re-caps — this signal
    * is how the policy notices, instead of an operator reading
    * SCALING.md. All table-derived and aggregation-only (no collect).
    *
    * The id, era, tombstone and sweep-watermark counts are ONE pass: the
    * serving scan (one id row and one era row per stored row), the
    * tombstone rows and the watermark's two values are tagged by kind and
    * unioned, deduplicated on (kind, value) and rolled up to one row —
    * one distinct group, so no Expand, and no join. The bucket census is
    * its own aggregate, planned only for a capped layout: it groups on
    * the table's own bucket keys, so its scan is exchange-free, and its
    * one row is cross-joined in.
    *
    * The bucket census counts STORED rows (layout grain — what a probe's
    * join touches), not tombstone-filtered live rows: retraction load is
    * already its own signal (`tomb_entries`), and mixing the two would
    * let heavy takedowns mask genuine bucket regrowth.
    *
    * @param idColName  the stored id column (`cand_id` / `corpus_id`)
    * @param bucketKeys the banded layout's bucket key columns (e.g.
    *                   `band, bv`) — required with `bucketCap` for the
    *                   regrowth signal; empty ⇒ `capped_ppm = 0`
    * @param bucketCap  the `maxBucket` cap actually used at layout time;
    *                   0 (uncapped layout) ⇒ `capped_ppm = 0`
    */
  def indexCensus(
      s: SparkSession,
      table: String,
      idColName: String,
      name: String,
      bucketKeys: Seq[String] = Nil,
      bucketCap: Int = 0
  ): DataFrame = {
    val idx = s.table(BucketedIndex.servingTable(s, table))
    def tagged(df: DataFrame, kinds: (Int, Column)*): DataFrame =
      df.select(explode(array(kinds.map { case (k, v) =>
        struct(lit(k).as("k"), v.as("v"))
      }: _*)).as("t")).select("t.k", "t.v")
    // the sweep watermark of a capped layout's persisted quarantine
    // ([[Multimodal.quarantineHammingIndex]]): how far the bounded
    // recovery sweep has progressed, and how many quarantined buckets
    // remain unswept — the policy's `sweep` pressure signal, read from a
    // one-row table, absent (zeros) for indexes without a quarantine
    val sides = Seq(
      Some(tagged(idx, IdKind -> col(idColName), EraKind -> col("seq"))),
      Some(BucketedIndex.tombTable(table)).filter(s.catalog.tableExists)
        .map(t => tagged(s.table(t), TombKind -> lit(null).cast("long"))),
      Some(BucketedIndex.quarWmTable(table)).filter(s.catalog.tableExists)
        .map(t => tagged(s.table(t), SweptKind -> col("swept_through"),
          QuarKind -> col("quar_buckets")))).flatten
    def distinctOf(k: Int): Column =
      coalesce(sum(when(col("k") === k && col("v").isNotNull, 1L)), lit(0L))
    def valueOf(k: Int): Column =
      coalesce(max(when(col("k") === k, col("v"))).cast("long"), lit(0L))
    val counts = sides.reduce(_.unionByName(_))
      .groupBy("k", "v")
      .agg(count(lit(1)).as("n"))
      .agg(
        distinctOf(IdKind).as("index_docs"),
        coalesce(sum(when(col("k") === TombKind, col("n"))), lit(0L)).as("tomb_entries"),
        distinctOf(EraKind).as("append_eras"),
        valueOf(SweptKind).as("swept_through"),
        (valueOf(QuarKind) - valueOf(SweptKind)).as("quar_unswept"))
    val withCapped =
      if (bucketKeys.nonEmpty && bucketCap > 0) {
        val perBucket = idx
          .groupBy(bucketKeys.map(col): _*)
          .agg(count(lit(1)).as("__n"))
        val totals = perBucket.agg(
          coalesce(sum(when(col("__n") > bucketCap, col("__n")).otherwise(0L)), lit(0L))
            .as("__capped"),
          coalesce(sum(col("__n")), lit(0L)).as("__total"))
        // exact integer floor-div (same remainder-subtraction form as
        // tomb_ppm below, so the value hash-matches an integer-division
        // oracle bit-for-bit)
        val num: Column = col("__capped") * lit(1000000L)
        val den: Column = greatest(col("__total"), lit(1L))
        counts.crossJoin(totals.select(((num - pmod(num, den)) / den).cast("long").as("capped_ppm")))
      } else counts.withColumn("capped_ppm", lit(0L))
    withCapped
      .select(
        lit(name).as("index_name"),
        col("index_docs"),
        col("tomb_entries"),
        col("append_eras"),
        col("capped_ppm"),
        col("swept_through"),
        col("quar_unswept"),
        // abandoned-rebuild storage pressure: build stages a killed
        // publishVersion left behind (catalog-state snapshot at census
        // time, like the tombstone existence check above — spec-pinned
        // beside files_per_bucket, since catalog state is not
        // oracle-portable). The `janitor` decision drops them.
        lit(BucketedIndex.abandonedBuilds(s, table).size.toLong).as("stale_builds"))
  }

  // [[indexCensus]]'s row kinds in its one tagged union
  private final val IdKind = 0
  private final val EraKind = 1
  private final val TombKind = 2
  private final val SweptKind = 3
  private final val QuarKind = 4

  /** Physical file amplification of a bucketed index table — the
    * compaction-pressure signal [[graft.sources.Sources.tableFileCount]]
    * exposes, normalized per bucket (each append cycle adds up to one
    * file per bucket). Driver-side catalog listing; spec-pinned, not
    * oracle-portable (see object doc).
    */
  def filesPerBucket(s: SparkSession, table: String, buckets: Int): Long = {
    val n = graft.sources.Sources.tableFileCount(s, BucketedIndex.servingTable(s, table))
    (n + buckets - 1L) / buckets
  }

  /** The POLICY: per census row emit `rebuild` / `compact` / `none`, with
    * every threshold a PLAN LITERAL (visible in explain, replayable in
    * any engine):
    *
    *   - `rebuild` when the quantizer drift ratio (`drift_ppm`, appended
    *     batch's mean PQ quantization error vs the training population's,
    *     in ppm — [[Similarity.pqQuantError]] is the measurement) is at
    *     least `rebuildDriftPpm`: append-only maintenance under a pinned
    *     model can only drift, and past this point the model, not the
    *     layout, is the problem.
    *   - else `compact` when tombstones hide at least `compactTombPpm`
    *     ppm of the indexed ids (every probe pays the anti-join over
    *     them), or the index has accumulated `compactAppendEras`+ append
    *     eras (listing/open cost grows per cycle), or the caller-supplied
    *     `files_per_bucket` column reaches `compactFilesPerBucket`, or —
    *     for a capped banded layout — at least `compactCappedPpm` ppm of
    *     the stored rows have regrown into over-cap buckets
    *     ([[indexCensus]]'s `capped_ppm`; compaction is the cheap re-cap
    *     point, so bucket regrowth is compaction pressure, not rebuild
    *     pressure).
    *   - else `janitor` when at least `janitorStaleBuilds` ABANDONED
    *     build stages exist ([[indexCensus]]'s `stale_builds`: a rebuild
    *     killed between staging and publication leaks a fully-written
    *     `__v<N>__build` table nothing resolves) — the executor drops
    *     them ([[BucketedIndex.dropAbandonedBuilds]]); ranked below the
    *     rewrites (a successful publish recycles the stage name anyway)
    *     and above sweep (metadata-cheap storage reclaim first).
    *   - else `sweep` when the index keeps a persisted quarantine with at
    *     least `sweepUnsweptBuckets` buckets not yet swept
    *     ([[indexCensus]]'s `quar_unswept`): the capped layout's dropped
    *     recall is recovered in bounded installments
    *     ([[Multimodal.sweepHammingQuarantine]]). Sweep ranks BELOW
    *     compact/rebuild: both rewrites re-decide the quarantine and
    *     reset the watermark, so sweeping first would be work thrown
    *     away.
    *   - else `none`.
    *
    * Required census columns: `index_name`, `index_docs`,
    * `tomb_entries`, `append_eras` ([[indexCensus]]); `drift_ppm`
    * (caller-measured; 0 for modalities without a trained quantizer) and
    * optionally `capped_ppm` ([[indexCensus]] with bucket keys + cap;
    * absent ⇒ 0), `quar_unswept` ([[indexCensus]] reads it from the
    * quarantine sweep watermark; absent ⇒ 0) and `files_per_bucket`
    * ([[filesPerBucket]] as a literal).
    *
    * @return (index_name, index_docs, tomb_entries, append_eras,
    *         tomb_ppm, drift_ppm, capped_ppm, decision)
    */
  def indexMaintenancePlan(
      census: DataFrame,
      rebuildDriftPpm: Long,
      compactTombPpm: Long,
      compactAppendEras: Long = Long.MaxValue,
      compactFilesPerBucket: Long = Long.MaxValue,
      compactCappedPpm: Long = Long.MaxValue,
      sweepUnsweptBuckets: Long = Long.MaxValue,
      janitorStaleBuilds: Long = Long.MaxValue
  ): DataFrame = {
    val withFiles =
      if (census.columns.contains("files_per_bucket")) census
      else census.withColumn("files_per_bucket", lit(0L))
    val withStale =
      if (withFiles.columns.contains("stale_builds")) withFiles
      else withFiles.withColumn("stale_builds", lit(0L))
    val withQuar =
      if (withStale.columns.contains("quar_unswept")) withStale
      else withStale.withColumn("quar_unswept", lit(0L))
    val withCapped =
      if (withQuar.columns.contains("capped_ppm")) withQuar
      else withQuar.withColumn("capped_ppm", lit(0L))
    // exact integer floor-div (long `/` is double division in Spark — the
    // remainder subtraction makes the quotient exact, so the ppm value
    // hash-matches an integer-division oracle bit-for-bit)
    val tombNum: Column = col("tomb_entries") * lit(1000000L)
    val tombDen: Column = greatest(col("index_docs"), lit(1L))
    val tombPpm: Column = ((tombNum - pmod(tombNum, tombDen)) / tombDen).cast("long")
    withCapped
      .withColumn("tomb_ppm", tombPpm)
      .withColumn(
        "decision",
        when(col("drift_ppm") >= rebuildDriftPpm, lit("rebuild"))
          .when(
            col("tomb_ppm") >= compactTombPpm
              || col("append_eras") >= compactAppendEras
              || col("files_per_bucket") >= compactFilesPerBucket
              || col("capped_ppm") >= compactCappedPpm,
            lit("compact"))
          .when(col("stale_builds") >= janitorStaleBuilds, lit("janitor"))
          .when(col("quar_unswept") >= sweepUnsweptBuckets, lit("sweep"))
          .otherwise(lit("none")))
      .select(
        col("index_name"), col("index_docs"), col("tomb_entries"),
        col("append_eras"), col("tomb_ppm"), col("drift_ppm"), col("capped_ppm"),
        col("decision"))
  }

  /** The EXECUTOR's handle on one managed index: where it lives, which
    * stored column carries the indexed id (for the post-action census),
    * and the two maintenance actions the policy can demand — `compact`
    * (fold tombstones + merge per-bucket files, e.g.
    * [[graft.ext.Dedup.compactLshIndex]]) and `rebuild` (versioned
    * probe-safe re-encode, e.g. [[Similarity.rebuildAnnIndex]]). The
    * thunks close over the family-specific parameters (bucket count,
    * model, corpus) so the executor stays family-agnostic.
    * `bucketKeys`/`bucketCap` describe a capped banded layout so the
    * post-action census carries the same `capped_ppm` signal the plan
    * census did (defaults: uncapped, signal 0). `sweep` is the optional
    * third action — one bounded quarantine-recovery tick
    * ([[Multimodal.sweepHammingQuarantine]] plus wherever the recovered
    * pairs sink); indexes without a quarantine side leave it `None`, and
    * a plan that decides `sweep` for such an index fails validation
    * whole, before any action runs.
    *
    * `drift` is the index's own STALENESS MEASUREMENT: a thunk producing
    * a one-row `(drift_ppm)` frame, closing over the pinned quantizer
    * model and the incoming batch (e.g. [[Similarity.pqQuantError]] of
    * the batch vs the training population, the ANN recipe). Registered
    * here so [[fleetCensus]] measures every family uniformly — the plan
    * is built from registry + batch alone, instead of each caller
    * hand-wiring a drift column per fleet member. `None` (modalities
    * without a trained model: text LSH, Hamming fingerprints) reads as
    * drift 0.
    */
  final case class ManagedIndex(
      table: String,
      idColName: String,
      compact: () => Unit,
      rebuild: () => Unit,
      bucketKeys: Seq[String] = Nil,
      bucketCap: Int = 0,
      sweep: Option[() => Unit] = None,
      drift: Option[() => DataFrame] = None)

  /** Registry-driven FLEET census: one [[indexCensus]] row per managed
    * index, each cross-joined with its own drift measurement
    * ([[ManagedIndex.drift]]; absent ⇒ 0) — the input
    * [[indexMaintenancePlan]] expects, derived from the registry and the
    * batch alone. Name-sorted for a deterministic row order. Every
    * per-index census is fleet-metadata-sized, so the union is one row
    * per index however large the fleet's tables are.
    */
  def fleetCensus(s: SparkSession, indexes: Map[String, ManagedIndex]): DataFrame =
    indexes.toSeq
      .sortBy(_._1)
      .map { case (name, ix) =>
        indexCensus(s, ix.table, ix.idColName, name, ix.bucketKeys, ix.bucketCap)
          .crossJoin(
            ix.drift.map(f => f()).getOrElse(s.range(1).select(lit(0L).as("drift_ppm"))))
      }
      .reduce(_ unionByName _)

  /** The schema [[indexMaintenancePlan]] returns — exposed so callers that
    * buffer collected plan rows (the scheduled loops' driver-grain trace)
    * can rebuild a frame without re-deriving it from a dummy plan.
    */
  val planSchema: StructType = StructType(Seq(
    StructField("index_name", StringType),
    StructField("index_docs", LongType),
    StructField("tomb_entries", LongType),
    StructField("append_eras", LongType),
    StructField("tomb_ppm", LongType),
    StructField("drift_ppm", LongType),
    StructField("capped_ppm", LongType),
    StructField("decision", StringType)))

  private val auditSchema = StructType(Seq(
    StructField("index_name", StringType),
    StructField("index_docs", LongType),
    StructField("tomb_entries", LongType),
    StructField("append_eras", LongType),
    StructField("capped_ppm", LongType),
    StructField("decision", StringType)))

  /** The EXECUTOR — closes the observability→decision→ACTION loop:
    * [[indexMaintenancePlan]] said what each index needs; this runs it.
    * The plan is one row per index (fleet-metadata-sized — the collect is
    * the same model-scale driver step every maintenance scheduler has,
    * never corpus-grain). Every plan row is VALIDATED against the
    * registry (membership and decision vocabulary) before the first
    * action runs — a fleet misconfiguration fails fast and whole, never
    * after part of the fleet has already been mutated with no audit.
    *
    * Actions run CONCURRENTLY (bounded pool): compact/rebuild are
    * independent full-table jobs on distinct tables, each probe-safe on
    * its own (tombstone-folding rewrites and versioned rebuilds never
    * leave a reader a missing table), so fleet maintenance wall-clock is
    * the slowest action, not the sum. Determinism is preserved where it
    * matters — the AUDIT: censuses are taken after ALL actions complete,
    * in index-name order, and failures surface as the name-ordered first
    * error after every submitted action has finished (no abandoned
    * half-running rewrite behind a thrown exception).
    *
    * @return the post-action AUDIT: the re-taken census per index
    *         ([[indexCensus]] after the action ran) plus the decision
    *         that drove it — `compact`/`rebuild` rows must show zero
    *         tombstones and a single append era (the healed state),
    *         `none` rows the untouched pre-state. The audit is collected
    *         EAGERLY (a local snapshot, not a lazy re-scan), so later
    *         index mutations cannot rewrite what this apply observed.
    *         The driver's `index_maintenance_apply` oracle replays
    *         exactly that contract in SQL.
    */
  /** @param audit when false, skip the post-action census snapshot and
    *               return an empty (schema-correct) audit frame. For the
    *               SCHEDULED loops that discard the audit (each tick's
    *               observability is the NEXT tick's census anyway), the
    *               per-index re-census was pure thrown-away work — the r21
    *               profile measured mm_sweep_scheduled at ~12 jobs/tick of
    *               which the discarded audit was ~a third. Callers that
    *               consume the audit keep the default eager snapshot.
    */
  def applyMaintenancePlan(
      s: SparkSession,
      plan: DataFrame,
      indexes: Map[String, ManagedIndex],
      audit: Boolean = true
  ): DataFrame = {
    val decisions = plan
      .select(col("index_name"), col("decision"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)))
      .sortBy(_._1)
    // validate EVERY row before executing ANY action: a plan naming an
    // unregistered index (or an unknown decision) must not leave the
    // fleet partially applied — and a DUPLICATE index name must not reach
    // the pool at all: two rows for one name would submit two concurrent
    // full-table rewrites of the SAME table (racing on its compaction
    // stage), which the sequential executor merely wasted and the
    // concurrent one corrupts
    val dup = decisions.map(_._1).groupBy(identity).collectFirst {
      case (name, occ) if occ.length > 1 => name
    }
    dup.foreach(name =>
      throw new IllegalArgumentException(
        s"plan names index '$name' more than once — one decision per index"))
    val resolved = decisions.map { case (name, decision) =>
      val ix = indexes.getOrElse(
        name,
        throw new IllegalArgumentException(
          s"plan names index '$name' but no ManagedIndex is registered for it"))
      if (decision != "compact" && decision != "rebuild" && decision != "sweep"
          && decision != "janitor" && decision != "none")
        throw new IllegalArgumentException(
          s"unknown decision '$decision' for index '$name'")
      if (decision == "sweep" && ix.sweep.isEmpty)
        throw new IllegalArgumentException(
          s"plan decides 'sweep' for index '$name' but its ManagedIndex registers " +
            "no sweep action (no quarantine side)")
      (name, decision, ix)
    }
    val actions = resolved.filter(_._2 != "none")
    // the duplicate-NAME guard above is necessary but not sufficient: two
    // distinct registry names can resolve to the same physical table (a
    // mis-registered alias), and two non-'none' decisions on one table are
    // the same concurrent same-table rewrite race under the pool — reject
    // before anything is submitted
    actions.groupBy(_._3.table).collectFirst {
      case (table, rows) if rows.length > 1 =>
        throw new IllegalArgumentException(
          s"plan schedules ${rows.length} actions (${rows.map(_._1).mkString(", ")}) " +
            s"on the same physical table '$table' — one action per table")
    }
    if (actions.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, actions.length))
      val futures = actions.map { case (_, decision, ix) =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = decision match {
            case "compact" => ix.compact()
            case "rebuild" => ix.rebuild()
            // family-agnostic by construction (abandoned stages are a
            // publishVersion artifact shared by all four index families),
            // so the executor owns the arc — no ManagedIndex thunk
            case "janitor" => BucketedIndex.dropAbandonedBuilds(s, ix.table)
            case _         => ix.sweep.get()
          }
        })
      }
      // drain ALL futures before propagating the (name-ordered first)
      // failure: throwing mid-pool would abandon live table rewrites
      // behind the exception. catch Throwable, not Try/NonFatal — a
      // driver-thread InterruptedException must also record-and-continue
      // (once the flag is set the remaining get()s fail fast, so the
      // drain still terminates immediately); shutdown() runs regardless
      // and lets in-flight rewrites finish instead of leaking the pool
      val failures =
        try
          futures.flatMap { f =>
            try { f.get(); None }
            catch {
              case e: java.util.concurrent.ExecutionException => Some(e.getCause)
              case e: InterruptedException =>
                // record-and-continue like any failure, but RE-SET the
                // interrupt flag: if the name-ordered first failure turns
                // out to be some other action's error, the caller must
                // still see the driver thread as interrupted
                Thread.currentThread().interrupt(); Some(e)
              case e: Throwable => Some(e)
            }
          }
        finally pool.shutdown()
      failures.headOption.foreach(e => throw e)
    }
    // eager snapshot: one census row per index (fleet metadata, not data
    // grain), materialized NOW — the returned frame is immune to any
    // index mutation after this apply
    val auditRows =
      if (!audit) Array.empty[Row]
      else resolved.map { case (name, decision, ix) =>
        val r = indexCensus(s, ix.table, ix.idColName, name, ix.bucketKeys, ix.bucketCap)
          .collect().head
        Row(name, r.getAs[Long]("index_docs"), r.getAs[Long]("tomb_entries"),
          r.getAs[Long]("append_eras"), r.getAs[Long]("capped_ppm"), decision)
      }
    s.createDataFrame(java.util.Arrays.asList(auditRows: _*), auditSchema)
  }
}
