package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.functions.LongParam
import graft.sources.Sources

/** The persisted-index LIFECYCLE, written once for every bucketed index
  * family — the IVF-PQ vector index ([[Similarity.persistAnnIndex]]),
  * the MinHash-LSH text index ([[Dedup.persistLshIndex]]), the semantic
  * cell index ([[Dedup.persistSemanticIndex]]) and the Hamming
  * fingerprint index ([[Multimodal.persistHammingIndex]]). A family
  * supplies only what differs, as a [[Layout]]: its stored id column, its
  * bucket keys, the row frame it encodes, an optional bucket cap, and its
  * own probe/verify join over [[Layout.live]]. Everything below is the
  * shared contract:
  *
  *   - LAYOUT: a table written `bucketBy(keys)`, each row stamped with its
  *     append ERA (`seq`), so every probe reads the index side
  *     exchange-free (PlanAuditSpec) — a partition-local index with
  *     global pruning (REPOSE, ICDE 2021).
  *   - APPEND adds bucketed files at a fresh era; nothing is rewritten.
  *   - DELETE records era-stamped TOMBSTONES in `<table>_tomb`: a
  *     tombstone at era `t` hides the id's rows appended at era ≤ `t`, so
  *     a later re-append is visible immediately. This is the engine twin
  *     of the reference's J4 retraction anti-join
  *     (chicago/permit_cleaning.py:838-883), applied to the serving index;
  *     the tombstones ride a broadcast anti-join, so the bucketed scan
  *     keeps its output partitioning.
  *   - COMPACTION folds tombstones into the files, dedups content keeping
  *     the highest era, optionally re-caps hot buckets (capturing the
  *     drops into the quarantine), collapses the survivors to one era and
  *     retires the tombstones below its HORIZON.
  *   - REBUILD publishes a fully-built version by one catalog RENAME
  *     (probe-safe on a plain catalog).
  *   - QUARANTINE + SWEEP: a capped layout's dropped rows persist under
  *     `<table>_quar`, each stamped with its bucket's sweep rank, and
  *     bounded ticks recover them rank range by rank range against a
  *     durable watermark, committed only after each tick's output is
  *     written.
  *
  * The catalog and these companion tables are the only record of index
  * state: versions are listed, watermarks and ranks are read back, and
  * no driver-side copy of either can go stale.
  *
  * The maintenance policy ([[Maintenance]]) drives every family through
  * these same actions — the "Continuously Adaptive Similarity Search"
  * (SIGMOD 2020) shape of an index that adapts as its workload changes.
  */
object BucketedIndex {

  /** What one index family passes in: its stored id column (`cand_id`
    * for IVF-PQ, `corpus_id` for the rest) and its bucket keys.
    */
  final case class Layout(idName: String, keys: Seq[String]) {

    /** LAYOUT TIME — a fresh build under a logical name is a new
      * authority epoch: the tombstone table drops (stale takedowns would
      * over-delete the new content) and the version history resets
      * (published `__v<N>` versions would outrank the new bare table),
      * then `rows` are written bucketed at `era`.
      */
    def persist(rows: DataFrame, table: String, buckets: Int, era: Long): Unit = {
      val s = rows.sparkSession
      s.sql(s"DROP TABLE IF EXISTS `${tombTable(table)}`")
      resetVersions(s, table)
      Sources.writeBucketed(rows.withColumn("seq", LongParam.col(era)), table, buckets, keys.head, keys.tail: _*)
    }

    /** MAINTENANCE — append `rows` to the serving version at `era`, under
      * the same bucket spec (Spark validates `buckets` on append).
      */
    def append(rows: DataFrame, table: String, buckets: Int, era: Long): Unit =
      Sources.appendBucketed(
        rows.withColumn("seq", LongParam.col(era)),
        servingTable(rows.sparkSession, table), buckets, keys.head, keys.tail: _*)

    /** MAINTENANCE — retract the ids in `ids` as of `era`: one tombstone
      * row per distinct id. The index files are untouched; probes
      * anti-join the tombstones out ([[live]]).
      */
    def delete(s: SparkSession, table: String, ids: DataFrame, idCol: Column, era: Long): Unit = {
      Sources.dropStaleLocation(s, tombTable(table))
      ids
        .select(idCol.cast("long").as(idName), LongParam.col(era).as("tomb_seq"))
        .distinct()
        .write
        .mode("append")
        .format("parquet")
        .saveAsTable(tombTable(table))
    }

    /** The live rows of the serving version: its bucketed scan minus the
      * era-qualified tombstones. No tombstone table ⇒ the bare scan,
      * byte-identical plan to the pre-delete era.
      */
    def live(s: SparkSession, table: String): DataFrame =
      withoutTombstones(s, table, s.table(servingTable(s, table)))

    /** Rows of `stored` (the serving scan or the quarantine) not hidden by
      * a tombstone: a broadcast anti-join on the id with the
      * `seq <= tomb_seq` era condition riding the same broadcast. A
      * takedown hides an id wherever its rows live.
      */
    private def withoutTombstones(s: SparkSession, table: String, stored: DataFrame): DataFrame = {
      val tomb = tombTable(table)
      if (s.catalog.tableExists(tomb)) {
        val t = s.table(tomb)
        stored.join(
          broadcast(t),
          stored(idName) === t(idName) && stored("seq") <= t("tomb_seq"),
          "left_anti")
      } else stored
    }

    /** MAINTENANCE — bucket-preserving compaction: fold the tombstones
      * into the files and merge each bucket's append file-sets back to one
      * file, keeping the bucket hashing (probes stay exchange-free and
      * hash-identical — layout, not meaning).
      *
      * Content dedup keeps the HIGHEST era: an overlapping append (an
      * at-least-once retry) stores a row twice at distinct eras; the
      * survivor is deterministic and maximally visible against future
      * tombstones. `maxBucket > 0` makes compaction a RE-CAP point:
      * appends are never capped, so hot buckets regrow between layout
      * epochs, and the cap counts the content-deduped census. An index
      * that keeps a quarantine side keeps it current through the re-cap
      * in both directions — new drops join it, tombstoned rows leave it,
      * because the tombstone retirement below assumes every store hiding
      * behind a tombstone was rewritten. That capture is written before
      * the index rewrite, while the healed frame still reads the
      * pre-compact files.
      *
      * The horizon is minted BEFORE the live snapshot, so a takedown
      * recorded during the rewrite survives [[retireTombstonesBelow]].
      */
    def compact(s: SparkSession, table: String, buckets: Int, maxBucket: Int): Unit = {
      val horizon = nextEra()
      val stored = live(s, table)
      val payload = stored.columns.toSeq.filter(_ != "seq").map(col)
      val healed = stored
        .groupBy(payload: _*)
        .agg(max(col("seq")).as("seq"))
        .select(payload :+ col("seq"): _*)
      if (keepsQuarantine(s, table, maxBucket))
        writeQuarantine(
          s, table, buckets, staged = true,
          withoutTombstones(s, table, s.table(quarTable(table))).drop("__rank").unionByName(
            Dedup.capDropped(healed, keys, maxBucket).select(payload :+ col("seq"): _*)))
      Sources.compactBucketed(
        s, servingTable(s, table), buckets, keys,
        collapsedToMaxEra(Dedup.capBuckets(healed, keys, maxBucket)))
      retireTombstonesBelow(s, table, horizon)
    }

    /** LAYOUT TIME — persist the recovery side of a capped layout: the
      * rows the cap dropped (`rows`, the exact complement of what the
      * persist stored), bucketed on the same keys, as a fresh sweep pass.
      */
    def quarantine(s: SparkSession, table: String, rows: DataFrame, buckets: Int, era: Long): Unit =
      writeQuarantine(s, table, buckets, staged = false, rows.withColumn("seq", LongParam.col(era)))

    /** The ONE writer of `<table>_quar` (layout-time quarantine and
      * compaction capture alike). Each stored row carries its bucket's
      * SWEEP RANK `__rank` (1-based): membership DESC — the
      * regrowth-heaviest boilerplate first — then the bucket keys. The
      * ranks are computed at bucket grain and broadcast back onto the
      * members, so the table itself is the pass's bucket order and a tick
      * selects its slice by predicate. The watermark restarts after the
      * write. `staged` content reads the table it replaces, so it rewrites
      * through [[Sources.compactBucketed]]'s stage.
      */
    private def writeQuarantine(
        s: SparkSession, table: String, buckets: Int, staged: Boolean, content: DataFrame): Unit = {
      val qT = quarTable(table)
      val bucketCols = keys.map(col)
      val sweepOrder = Window.orderBy(col("__n").desc +: bucketCols: _*)
      val ranks = content
        .groupBy(bucketCols: _*)
        .agg(count(lit(1)).as("__n"))
        .select(bucketCols :+ row_number().over(sweepOrder).cast("long").as("__rank"): _*)
      val ranked = content.join(broadcast(ranks), keys)
      if (staged) Sources.compactBucketed(s, qT, buckets, keys, ranked)
      else Sources.writeBucketed(ranked, qT, buckets, keys.head, keys.tail: _*)
      resetSweep(s, table)
    }

    /** Begin a fresh sweep PASS: watermark to zero, bucket total read
      * from the quarantine as its highest rank (one-row aggregate). Every
      * quarantine write does this itself; a scheduler calls it to sweep an
      * unchanged quarantine again for a new probe batch.
      */
    def resetSweep(s: SparkSession, table: String): Unit = {
      val qT = quarTable(table)
      require(s.catalog.tableExists(qT), s"index '$table' has no quarantine side to sweep")
      quarWmWrite(s, table, swept = 0L, total = s.table(qT).select(rankTotal).head.getLong(0))
    }

    /** The live quarantined members of bucket ranks `(lo, hi]` — the
      * input of one sweep tick's verify join, a rank-range filter on the
      * quarantine's own bucketed scan.
      */
    def sweepMembers(s: SparkSession, table: String, lo: Long, hi: Long): DataFrame = {
      val quar = s.table(quarTable(table))
      withoutTombstones(s, table, quar.filter(col("__rank") > lo && col("__rank") <= hi)).drop("__rank")
    }
  }

  /** The quarantine's bucket total: its highest sweep rank (0 when empty). */
  private def rankTotal: Column = coalesce(max(col("__rank")), lit(0L)).as("ranked")

  /** Companion-table names of a logical index: its tombstones, its
    * quarantine and the quarantine's sweep watermark. Logical-name
    * scoped: all three outlive version publications.
    */
  private[graft] def tombTable(table: String): String = table + "_tomb"
  private[graft] def quarTable(table: String): String = table + "_quar"
  private[graft] def quarWmTable(table: String): String = table + "_quar_wm"

  // ---- eras ---------------------------------------------------------------

  /** Strictly-increasing era stamp for index maintenance: wall-clock
    * anchored (independently restarted maintenance JVMs still order at
    * takedown timescales) and monotonic within the JVM (probe → append →
    * delete inside one micro-batch orders even under a frozen clock). Era
    * values never reach query results — only their order matters. Every
    * stamp is written as a [[LongParam]], so a maintenance action's
    * generated code is the same at every era and compiles once.
    */
  private val eraCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def nextEra(): Long =
    eraCounter.updateAndGet(prev => math.max(prev + 1, System.currentTimeMillis()))

  /** Collapse a healed compaction rewrite to ONE era — the maximum live
    * era, so no row becomes newer than the newest real append.
    * Compaction is an era horizon: an explicit-era retraction dated
    * before it is spent, and the post-compact census reads a single
    * append era. That reset is load-bearing for the maintenance policy:
    * an eras-triggered compact that did not collapse eras would
    * re-trigger forever (`index_maintenance_fixpoint` witnesses the fixed
    * point). The max costs a second streaming pass over the healed frame
    * — deliberately not cached, since at compaction scale it is the whole
    * index.
    */
  private[graft] def collapsedToMaxEra(healed: DataFrame): DataFrame = {
    val maxEra = healed
      .agg(coalesce(max(col("seq")), lit(0L)))
      .collect()(0).getLong(0)
    healed.withColumn("seq", LongParam.col(maxEra))
  }

  /** Retire tombstone entries recorded BEFORE `horizon`, keeping the
    * later ones — the era split shared by both maintenance rewrites
    * (publication and compaction). An entry with `tomb_seq >= horizon`
    * was recorded during the rewrite, whose snapshot predates it, so only
    * the tombstone hides that id in the rewritten table: a blanket drop
    * would resurrect a mid-rewrite takedown. The survivors stage through
    * `<tomb>__keep` and republish by rename; a delete landing inside that
    * metadata-speed window is the residual race.
    */
  private[graft] def retireTombstonesBelow(s: SparkSession, table: String, horizon: Long): Unit = {
    val tomb = tombTable(table)
    if (s.catalog.tableExists(tomb)) {
      val late = s.table(tomb).filter(col("tomb_seq") >= horizon)
      if (late.isEmpty) s.sql(s"DROP TABLE IF EXISTS `$tomb`")
      else {
        val keep = tomb + "__keep"
        s.sql(s"DROP TABLE IF EXISTS `$keep`")
        Sources.dropStaleLocation(s, keep)
        late.write.format("parquet").saveAsTable(keep)
        s.sql(s"DROP TABLE IF EXISTS `$tomb`")
        s.sql(s"ALTER TABLE `$keep` RENAME TO `$tomb`")
      }
    }
  }

  // ---- versions -------------------------------------------------------------

  /** Resolve the SERVING physical table of a logical index name: the
    * highest published version `<table>__v<N>`, else the bare `<table>`.
    * Versions are immutable and retire only two generations back, so a
    * reader that resolved here keeps files that never move for at least
    * one full rebuild cycle.
    */
  private[graft] def servingTable(s: SparkSession, table: String): String =
    servingVersion(s, table) match {
      case 0 => table
      case n => s"${table}__v$n"
    }

  private val VersionSuffix = "__v(\\d+)$".r

  /** The serving VERSION of a logical index, listed from the catalog on
    * every call: the catalog is the only record of version history, so a
    * version published or dropped by another writer is seen at once.
    */
  private[graft] def servingVersion(s: SparkSession, table: String): Int =
    s.sessionState.catalog
      .listTables(s.sessionState.catalog.getCurrentDatabase, s"${table}__v*")
      .flatMap(t => VersionSuffix.findFirstMatchIn(t.table).map(_.group(1).toInt))
      .sorted.lastOption.getOrElse(0)

  /** Fresh build ⇒ fresh version history: drop every published version
    * and any abandoned build stage (which would otherwise carry a version
    * number the fresh epoch will re-mint).
    */
  private[graft] def resetVersions(s: SparkSession, table: String): Unit = {
    (1 to servingVersion(s, table)).foreach(v => s.sql(s"DROP TABLE IF EXISTS `${table}__v$v`"))
    dropAbandonedBuilds(s, table)
  }

  /** Build stages currently inside a [[publishVersion]] call — what
    * separates an in-flight `__v<N>__build` table from one a killed
    * rebuild abandoned. Exact within the in-memory catalog's lifetime
    * (a crashed other JVM's catalog dies with it).
    */
  private val inFlightBuilds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** The ABANDONED build stages of a logical index — storage-leak
    * pressure for the policy ([[Maintenance.indexCensus]]'s
    * `stale_builds`; its `janitor` decision drops them).
    */
  private[graft] def abandonedBuilds(s: SparkSession, table: String): Seq[String] = {
    val db = s.sessionState.catalog.getCurrentDatabase
    val stageRe = (java.util.regex.Pattern.quote(table) + "__v\\d+__build$").r
    s.sessionState.catalog
      .listTables(db, s"${table}__v*__build")
      .map(_.table)
      .filter(t => stageRe.pattern.matcher(t).matches())
      .filterNot(t => inFlightBuilds.contains(s"$db.$t"))
  }

  /** Drop a logical index's abandoned build stages. Idempotent; never
    * touches a stage registered in flight.
    */
  private[graft] def dropAbandonedBuilds(s: SparkSession, table: String): Unit =
    abandonedBuilds(s, table).foreach(t => s.sql(s"DROP TABLE IF EXISTS `$t`"))

  /** PROBE-SAFE versioned publication behind every REBUILD: `build`
    * writes a complete index under the staging name it is given
    * (`<table>__v<N>__build`, never resolved by readers) at the era it is
    * given (minted here, before the build starts); publication is ONE
    * catalog RENAME to `<table>__v<N>`, and versions two generations back
    * retire. A concurrent [[servingTable]] resolution sees version N−1 or
    * N — never a missing name, never a half-written table. The bucket
    * spec is catalog metadata and survives the rename.
    *
    * Tombstones split at the build era: earlier ones are inert against
    * the new version (its rows carry `seq = era`) and retire, but a
    * takedown recorded DURING the build must survive, since the build's
    * corpus snapshot predates it ([[retireTombstonesBelow]]).
    */
  private[graft] def publishVersion(s: SparkSession, table: String)(build: (String, Long) => Unit): Unit = {
    val cur = servingVersion(s, table)
    val next = s"${table}__v${cur + 1}"
    val bld = next + "__build"
    val era = nextEra()
    // registered from first write THROUGH the rename: a concurrent census
    // must not flag a live stage abandoned, nor a janitor drop it
    val bldKey = s.sessionState.catalog.getCurrentDatabase + "." + bld
    inFlightBuilds.add(bldKey)
    try {
      build(bld, era)
      // a leftover __v<N+1> directory the catalog does not know (a failed
      // earlier write) would make the rename refuse the target location
      Sources.dropStaleLocation(s, next)
      s.sql(s"ALTER TABLE `$bld` RENAME TO `$next`") // atomic publication
    } finally inFlightBuilds.remove(bldKey): Unit
    retireTombstonesBelow(s, table, era)
    (1 until cur).foreach(v => s.sql(s"DROP TABLE IF EXISTS `${table}__v$v`"))
    if (cur >= 1) s.sql(s"DROP TABLE IF EXISTS `$table`")
  }

  /** MAINTENANCE — REBUILD: publish the next version ([[publishVersion]]),
    * then, for an index that keeps a quarantine side, re-decide it
    * against the rebuild's own corpus (`requarantine`). A probe landing
    * between the rename and the re-quarantine pairs the new index with
    * the previous quarantine — one maintenance epoch of sweep-side grace,
    * the same order as the version grace readers already have.
    */
  def rebuild(s: SparkSession, table: String, maxBucket: Int)(build: (String, Long) => Unit)(
      requarantine: => Unit): Unit = {
    publishVersion(s, table)(build)
    if (keepsQuarantine(s, table, maxBucket)) requarantine
  }

  // ---- quarantine sweep -----------------------------------------------------

  /** Whether a capped maintenance action must keep a quarantine side current. */
  private def keepsQuarantine(s: SparkSession, table: String, maxBucket: Int): Boolean =
    maxBucket > 0 && s.catalog.tableExists(quarTable(table))

  /** `(swept_through, quar_buckets)` of a logical index's sweep watermark,
    * read from its one-row table on every call; (0, 0) when the index has
    * no quarantine side. The table is the only record: every write goes
    * through [[quarWmWrite]], and a fresh JVM reads what the last one
    * committed.
    */
  private[graft] def quarantineWatermark(s: SparkSession, table: String): (Long, Long) = {
    val wmT = quarWmTable(table)
    if (s.catalog.tableExists(wmT)) {
      val r = s.table(wmT).head
      (r.getAs[Long]("swept_through"), r.getAs[Long]("quar_buckets"))
    } else (0L, 0L)
  }

  private def quarWmWrite(s: SparkSession, table: String, swept: Long, total: Long): Unit = {
    val wmT = quarWmTable(table)
    val df = s.createDataFrame(
      java.util.Arrays.asList(Row(swept, total)),
      StructType(Seq(StructField("swept_through", LongType), StructField("quar_buckets", LongType))))
    // an in-place INSERT OVERWRITE replaces the data files without the
    // DROP + CREATE catalog churn; the first write creates the table
    if (s.catalog.tableExists(wmT)) {
      df.write.mode("overwrite").insertInto(wmT)
      // the census reads through whatever session planned it
      s.catalog.refreshTable(wmT)
    } else {
      Sources.dropStaleLocation(s, wmT)
      df.write.format("parquet").saveAsTable(wmT)
    }
  }

  /** MAINTENANCE — one bounded sweep TICK: `tick(lo, hi)` builds the
    * family's verify frame over bucket ranks `(lo, hi]` (at most
    * `maxBucketsPerTick` buckets, from [[Layout.sweepMembers]]), its rows
    * append to `sink`, and only THEN does the watermark advance to `hi`.
    * A tick that dies mid-write leaves the watermark unmoved and the next
    * tick re-covers the same range (at-least-once; sinks are consumed
    * through `distinct()`, so a replayed pair changes no result).
    *
    * The tick starts with one durable read: the watermark row beside the
    * quarantine's highest rank. A watermark whose bucket total exceeds
    * the ranks stored (written outside this lifecycle, or against older
    * quarantine content) fails the tick before anything is written.
    * Returns the `(swept_through, quar_buckets)` the tick committed.
    */
  def sweepTick(s: SparkSession, table: String, maxBucketsPerTick: Int, sink: String)(
      tick: (Long, Long) => DataFrame): (Long, Long) = {
    require(maxBucketsPerTick > 0, "sweep ticks must make progress: maxBucketsPerTick >= 1")
    require(s.catalog.tableExists(quarTable(table)), s"index '$table' has no quarantine side to sweep")
    val r = s.table(quarWmTable(table))
      .select(col("swept_through"), col("quar_buckets"))
      .crossJoin(s.table(quarTable(table)).select(rankTotal))
      .head
    val (lo, total, ranked) = (r.getLong(0), r.getLong(1), r.getLong(2))
    if (total > ranked)
      throw new IllegalStateException(
        s"index '$table': its sweep watermark counts $total buckets, its quarantine ranks $ranked")
    val hi = math.min(lo + maxBucketsPerTick, total)
    if (hi > lo) {
      tick(lo, hi).write.mode("append").parquet(sink)
      quarWmWrite(s, table, swept = hi, total = total)
      (hi, total)
    } else (lo, total)
  }
}
