package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Index-maintenance policy operator: every decision branch pinned, plus
  * the census derivations against real lifecycle tables — including the
  * file-amplification branch the DuckDB oracle cannot check (Spark's
  * bucket hash is not portable), which lives ONLY here.
  */
class MaintenanceSpec extends SparkSpecBase {
  import spark.implicits._

  private def census(
      name: String,
      docs: Long,
      tombs: Long,
      eras: Long,
      drift: Long,
      files: Option[Long] = None
  ) = {
    val base = Seq((name, docs, tombs, eras, drift))
      .toDF("index_name", "index_docs", "tomb_entries", "append_eras", "drift_ppm")
    files.fold(base)(f => base.withColumn("files_per_bucket", lit(f)))
  }

  private def decisionOf(df: org.apache.spark.sql.DataFrame): (String, Long) = {
    val r = Maintenance
      .indexMaintenancePlan(df, rebuildDriftPpm = 1200000L, compactTombPpm = 100000L,
        compactAppendEras = 4L, compactFilesPerBucket = 6L)
      .collect().head
    (r.getAs[String]("decision"), r.getAs[Long]("tomb_ppm"))
  }

  test("rebuild branch: drift at/above the threshold, regardless of tombstone load") {
    assert(decisionOf(census("a", 1000, 0, 1, 1200000))._1 == "rebuild")
    // precedence: a drifted index that ALSO carries heavy tombstones is a
    // rebuild (the rebuild subsumes the compaction)
    assert(decisionOf(census("a", 1000, 500, 9, 5000000))._1 == "rebuild")
    assert(decisionOf(census("a", 1000, 0, 1, 1199999))._1 == "none")
  }

  test("compact branch via tombstone load, with the exact ppm boundary") {
    val (d1, ppm1) = decisionOf(census("a", 1000, 100, 1, 0))
    assert(d1 == "compact" && ppm1 == 100000L)
    val (d2, ppm2) = decisionOf(census("a", 1000, 99, 1, 0))
    assert(d2 == "none" && ppm2 == 99000L)
    // ppm is an exact integer floor (remainder-subtraction, not double
    // division): 1/3 → 333333, never 333334
    assert(decisionOf(census("a", 3, 1, 1, 0))._2 == 333333L)
  }

  test("compact branch via accumulated append eras") {
    assert(decisionOf(census("a", 1000, 0, 4, 0))._1 == "compact")
    assert(decisionOf(census("a", 1000, 0, 3, 0))._1 == "none")
  }

  test("compact branch via file amplification (the spec-only, non-oracle signal)") {
    assert(decisionOf(census("a", 1000, 0, 1, 0, files = Some(6L)))._1 == "compact")
    assert(decisionOf(census("a", 1000, 0, 1, 0, files = Some(5L)))._1 == "none")
    // an absent files column defaults to 0 — never a spurious compact
    assert(decisionOf(census("a", 1000, 0, 1, 0))._1 == "none")
  }

  test("compact branch via capped-bucket regrowth, exact threshold; absent column defaults 0") {
    def withCapped(ppm: Long) = census("a", 1000, 0, 1, 0).withColumn("capped_ppm", lit(ppm))
    def run(df: org.apache.spark.sql.DataFrame) = Maintenance
      .indexMaintenancePlan(df, rebuildDriftPpm = 1200000L, compactTombPpm = 100000L,
        compactCappedPpm = 50000L)
      .collect().head.getAs[String]("decision")
    assert(run(withCapped(50000L)) == "compact")
    assert(run(withCapped(49999L)) == "none")
    // an absent capped_ppm column defaults to 0 — never a spurious compact
    assert(run(census("a", 1000, 0, 1, 0)) == "none")
    // rebuild precedence holds over the capped signal too
    assert(run(withCapped(999999L).withColumn("drift_ppm", lit(1200000L))) == "rebuild")
  }

  test("sweep branch: unswept quarantine schedules a sweep, below every rewrite's precedence") {
    def withQuar(unswept: Long) = census("a", 1000, 0, 1, 0)
      .withColumn("quar_unswept", lit(unswept))
    def run(df: org.apache.spark.sql.DataFrame) = Maintenance
      .indexMaintenancePlan(df, rebuildDriftPpm = 1200000L, compactTombPpm = 100000L,
        sweepUnsweptBuckets = 1L)
      .collect().head.getAs[String]("decision")
    assert(run(withQuar(1L)) == "sweep")
    assert(run(withQuar(0L)) == "none")
    // an absent quar_unswept column defaults to 0 — never a spurious sweep
    assert(run(census("a", 1000, 0, 1, 0)) == "none")
    // the default threshold (MaxValue) never fires — pre-sweep plans are
    // byte-identical to pre-r20 plans
    assert(Maintenance
      .indexMaintenancePlan(withQuar(999999L), rebuildDriftPpm = 1200000L,
        compactTombPpm = 100000L)
      .collect().head.getAs[String]("decision") == "none")
    // precedence: both rewrites re-decide the quarantine and reset the
    // watermark, so either outranks a pending sweep
    assert(run(withQuar(5L).withColumn("drift_ppm", lit(1200000L))) == "rebuild")
    assert(run(census("a", 1000, 200, 1, 0).withColumn("quar_unswept", lit(5L))) == "compact")
  }

  test("fleetCensus: one row per registry member, name-sorted, drift thunk or zero") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val n = System.nanoTime()
    val tblB = s"mntspec_fc_b_$n"
    val tblA = s"mntspec_fc_a_$n"
    Dedup.persistSemanticIndex(e, col("vec_id"), col("embedding"), cents, tblB, buckets = 4)
    Dedup.persistSemanticIndex(
      e.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), cents, tblA,
      buckets = 4)
    def ix(tbl: String, drift: Option[() => org.apache.spark.sql.DataFrame]) =
      Maintenance.ManagedIndex(
        tbl, "corpus_id",
        compact = () => fail("census must not act"),
        rebuild = () => fail("census must not act"),
        drift = drift)
    val rows = Maintenance
      .fleetCensus(spark, Map(
        // registered out of name order; the census must sort
        "zz_with_drift" -> ix(tblB, Some(() =>
          spark.range(1).select(lit(777L).as("drift_ppm")))),
        "aa_no_drift" -> ix(tblA, None)))
      .collect()
      .map(r => (r.getAs[String]("index_name"), r.getAs[Long]("index_docs"),
        r.getAs[Long]("drift_ppm")))
      .toSeq
    assert(rows == Seq(
      ("aa_no_drift", e.filter(col("vec_id") % 2 === 0).count(), 0L),
      ("zz_with_drift", e.count(), 777L)),
      s"got $rows")
  }

  test("janitor branch: stale build stages schedule a drop, between compact and sweep") {
    def withStale(n: Long) = census("a", 1000, 0, 1, 0)
      .withColumn("stale_builds", lit(n))
    def run(df: org.apache.spark.sql.DataFrame) = Maintenance
      .indexMaintenancePlan(df, rebuildDriftPpm = 1200000L, compactTombPpm = 100000L,
        janitorStaleBuilds = 1L, sweepUnsweptBuckets = 1L)
      .collect().head.getAs[String]("decision")
    assert(run(withStale(1L)) == "janitor")
    assert(run(withStale(0L)) == "none")
    // an absent stale_builds column defaults to 0 — never a spurious drop
    assert(run(census("a", 1000, 0, 1, 0)) == "none")
    // precedence: the rewrites recycle the stage name anyway, so either
    // outranks a janitor; the janitor's metadata-cheap reclaim outranks a
    // pending sweep
    assert(run(census("a", 1000, 200, 1, 0).withColumn("stale_builds", lit(2L))) == "compact")
    assert(run(withStale(1L).withColumn("quar_unswept", lit(9L))) == "janitor")
  }

  test("applyMaintenancePlan runs a registered sweep action; rejects sweep without one") {
    val swept = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val tbl = s"mntspec_sweep_${System.nanoTime()}"
    Dedup.persistSemanticIndex(e, col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    val plan = Seq(("swp", "sweep")).toDF("index_name", "decision")
    def fleet(sweep: Option[() => Unit]) = Map("swp" -> Maintenance.ManagedIndex(
      tbl, "corpus_id",
      compact = () => fail("sweep plan must not compact"),
      rebuild = () => fail("sweep plan must not rebuild"),
      sweep = sweep))
    // an index with no quarantine side (sweep = None) fails validation
    // WHOLE, before any action runs
    val ex = intercept[IllegalArgumentException] {
      Maintenance.applyMaintenancePlan(spark, plan, fleet(None))
    }
    assert(ex.getMessage.contains("swp") && ex.getMessage.contains("sweep"))
    assert(swept.get() == 0)
    // a registered sweep runs as a first-class action and audits as such
    val audit = Maintenance
      .applyMaintenancePlan(spark, plan, fleet(Some(() => { swept.incrementAndGet(); () })))
      .collect().head
    assert(swept.get() == 1)
    assert(audit.getAs[String]("decision") == "sweep")
    assert(audit.getAs[Long]("index_docs") == e.count())
  }

  test("indexCensus carries the sweep watermark of a real quarantined Hamming index") {
    import spark.implicits._
    val corpus = (1L to 12L).map(i => (i, 42L)).toDF("asset_id", "fp")
    val tbl = s"mntspec_quarcensus_${System.nanoTime()}"
    Multimodal.persistHammingIndex(corpus, "asset_id", "fp", tbl, buckets = 4, maxBucket = 10)
    // no quarantine side yet: the census signals stay zero (the default
    // every pre-sweep fleet reads)
    val c0 = Maintenance.indexCensus(spark, tbl, "corpus_id", "q").collect().head
    assert((c0.getAs[Long]("swept_through"), c0.getAs[Long]("quar_unswept")) == ((0L, 0L)))
    Multimodal.quarantineHammingIndex(
      spark, tbl, corpus, "asset_id", "fp", buckets = 4, maxBucket = 10)
    val c1 = Maintenance.indexCensus(spark, tbl, "corpus_id", "q").collect().head
    assert((c1.getAs[Long]("swept_through"), c1.getAs[Long]("quar_unswept")) == ((0L, 4L)),
      "a fresh quarantine exposes its four hot band buckets as unswept")
    Multimodal.sweepHammingQuarantine(
      spark, tbl, Seq((100L, 42L)).toDF("asset_id", "fp"), "asset_id", "fp",
      maxHamming = 8, maxBucketsPerTick = 3,
      sink = tempDir("mntspec_sweep") + "/t1")
    val c2 = Maintenance.indexCensus(spark, tbl, "corpus_id", "q").collect().head
    assert((c2.getAs[Long]("swept_through"), c2.getAs[Long]("quar_unswept")) == ((3L, 1L)),
      "a bounded tick advances the watermark by its bucket budget")
  }

  test("empty index never divides by zero; tombstones against it still force compaction") {
    val (d, ppm) = decisionOf(census("a", 0, 1, 1, 0))
    assert(d == "compact" && ppm == 1000000L)
  }

  test("indexCensus reads real lifecycle state: ids, tombstone entries, append eras") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val tbl = s"mntspec_cen_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      e.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.appendSemanticIndex(
      e.filter(col("vec_id") % 2 === 1), col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.deleteFromSemanticIndex(spark, tbl, e.filter(col("vec_id") % 5 === 0), col("vec_id"))
    val r = Maintenance.indexCensus(spark, tbl, "corpus_id", "sem").collect().head
    assert(r.getAs[String]("index_name") == "sem")
    assert(r.getAs[Long]("index_docs") == e.count())
    assert(r.getAs[Long]("tomb_entries") == e.filter(col("vec_id") % 5 === 0).count())
    assert(r.getAs[Long]("append_eras") == 2L, "persist + one append = two distinct eras")
    // a fresh index has no tombstone table — census reads zero, not error
    val clean = s"mntspec_clean_${System.nanoTime()}"
    Dedup.persistSemanticIndex(e, col("vec_id"), col("embedding"), cents, clean, buckets = 4)
    val c = Maintenance.indexCensus(spark, clean, "corpus_id", "clean").collect().head
    assert(c.getAs[Long]("tomb_entries") == 0L && c.getAs[Long]("append_eras") == 1L)
    // no bucket keys / cap supplied ⇒ the regrowth signal reads 0, never errors
    assert(c.getAs[Long]("capped_ppm") == 0L)
  }

  test("indexCensus capped_ppm: appends regrow quarantined buckets, compact-at-cap heals") {
    // hand-built banded layout (the Hamming index schema) with a cap of 2:
    // persist-time census caps bucket (0, 7) — its three members are
    // quarantined; the append then lands three MORE rows in that same
    // bucket (appends are never re-capped) plus one in a small bucket
    val tbl = s"mntspec_cap_${System.nanoTime()}"
    val persistRows = Seq(
      (0, 7L, 1L, 11L), (0, 7L, 2L, 12L), (0, 7L, 3L, 13L), // capped away at layout
      (0, 5L, 4L, 14L), (1, 6L, 5L, 15L))
      .toDF("band", "bv", "id", "fp")
    graft.ext.Multimodal.persistHammingIndexRows(persistRows, tbl, buckets = 2, maxBucket = 2)
    val fresh = Maintenance
      .indexCensus(spark, tbl, "corpus_id", "cap", bucketKeys = Seq("band", "bv"), bucketCap = 2)
      .collect().head
    assert(fresh.getAs[Long]("capped_ppm") == 0L, "a freshly capped layout has no regrowth")
    val appendRows = Seq(
      (0, 7L, 6L, 16L), (0, 7L, 7L, 17L), (0, 7L, 8L, 18L), // regrow the quarantined bucket
      (1, 9L, 9L, 19L))
      .toDF("band", "bv", "id", "fp")
    graft.ext.Multimodal.appendHammingIndexRows(appendRows, tbl, buckets = 2)
    val grown = Maintenance
      .indexCensus(spark, tbl, "corpus_id", "cap", bucketKeys = Seq("band", "bv"), bucketCap = 2)
      .collect().head
    // stored: 2 persist survivors + 4 appended = 6 rows; bucket (0,7) holds
    // 3 (> cap) ⇒ 3/6 = 500000 ppm exactly
    assert(grown.getAs[Long]("capped_ppm") == 500000L, s"got $grown")
    // compaction re-caps relative to stored content: the regrown bucket is
    // quarantined again and the signal returns to zero
    graft.ext.Multimodal.compactHammingIndex(spark, tbl, buckets = 2, maxBucket = 2)
    val healed = Maintenance
      .indexCensus(spark, tbl, "corpus_id", "cap", bucketKeys = Seq("band", "bv"), bucketCap = 2)
      .collect().head
    assert(healed.getAs[Long]("capped_ppm") == 0L, s"got $healed")
    // compaction is an ERA HORIZON: the persist-era and append-era rows
    // collapse to ONE era, so the eras census heals with the layout (an
    // eras-triggered compact that kept era diversity would re-trigger on
    // every subsequent plan — no fixed point)
    assert(healed.getAs[Long]("append_eras") == 1L, s"got $healed")
  }

  test("plan→apply→replan reaches the fixed point — and NOT under a too-low threshold") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val tbl = s"mntspec_fx_${System.nanoTime()}"
    // a tombstoned, twice-appended index: plan says compact, the apply
    // heals it (tombs folded, eras collapsed)
    Dedup.persistSemanticIndex(
      e.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.appendSemanticIndex(
      e.filter(col("vec_id") % 2 === 1), col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.deleteFromSemanticIndex(spark, tbl, e.filter(col("vec_id") % 5 === 0), col("vec_id"))
    val fleet = Map("fx" -> Maintenance.ManagedIndex(
      tbl, "corpus_id",
      compact = () => Dedup.compactSemanticIndex(spark, tbl, buckets = 4),
      rebuild = () => fail("the tombstone load demands compact, not rebuild")))
    def planNow(eraThreshold: Long) = Maintenance.indexMaintenancePlan(
      Maintenance.indexCensus(spark, tbl, "corpus_id", "fx").withColumn("drift_ppm", lit(0L)),
      rebuildDriftPpm = 1200000L, compactTombPpm = 100000L, compactAppendEras = eraThreshold)
    val round1 = planNow(4L)
    assert(round1.collect().head.getAs[String]("decision") == "compact")
    Maintenance.applyMaintenancePlan(spark, round1, fleet).collect(): Unit
    // the healed state is the policy's own fixed point...
    assert(planNow(4L).collect().head.getAs[String]("decision") == "none")
    // ...and NOT vacuously: a threshold at/below the healed state's own
    // census (every compacted index still has one era) never converges
    assert(planNow(1L).collect().head.getAs[String]("decision") == "compact",
      "the replan must re-read the post-state census, not echo 'none'")
  }

  test("filesPerBucket tracks append amplification and compaction resets it to 1") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val tbl = s"mntspec_files_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      e.filter(col("vec_id") % 2 === 0).repartition(3),
      col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    Dedup.appendSemanticIndex(
      e.filter(col("vec_id") % 2 === 1).repartition(3),
      col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    val pre = Maintenance.filesPerBucket(spark, tbl, buckets = 4)
    assert(pre > 1L, s"persist+append from 3 tasks must amplify files per bucket, got $pre")
    Dedup.compactSemanticIndex(spark, tbl, buckets = 4)
    assert(Maintenance.filesPerBucket(spark, tbl, buckets = 4) == 1L)
  }

  test("applyMaintenancePlan runs each decision's real action and audits the healed census") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val n = System.nanoTime()
    val reb = s"mntspec_apl_reb_$n"
    val cmp = s"mntspec_apl_cmp_$n"
    val non = s"mntspec_apl_non_$n"
    // a drift-stale index over half the corpus, a tombstoned index (1/5 of
    // ids hidden → 200000 ppm ≥ the 100000 threshold), and a healthy one
    Dedup.persistSemanticIndex(
      e.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), cents, reb, buckets = 4)
    Dedup.persistSemanticIndex(e, col("vec_id"), col("embedding"), cents, cmp, buckets = 4)
    Dedup.deleteFromSemanticIndex(spark, cmp, e.filter(col("vec_id") % 5 === 0), col("vec_id"))
    Dedup.persistSemanticIndex(e, col("vec_id"), col("embedding"), cents, non, buckets = 4)
    // real censuses; the drift signal is caller-measured by contract, so
    // the stale index carries a synthetic over-threshold reading
    val census = Maintenance.indexCensus(spark, reb, "corpus_id", "reb")
      .withColumn("drift_ppm", lit(2000000L))
      .unionByName(Maintenance.indexCensus(spark, cmp, "corpus_id", "cmp")
        .withColumn("drift_ppm", lit(0L)))
      .unionByName(Maintenance.indexCensus(spark, non, "corpus_id", "non")
        .withColumn("drift_ppm", lit(0L)))
    val plan = Maintenance.indexMaintenancePlan(
      census, rebuildDriftPpm = 1200000L, compactTombPpm = 100000L)
    val auditDf = Maintenance.applyMaintenancePlan(
      spark, plan,
      Map(
        "reb" -> Maintenance.ManagedIndex(
          reb, "corpus_id",
          compact = () => Dedup.compactSemanticIndex(spark, reb, buckets = 4),
          rebuild = () =>
            Dedup.rebuildSemanticIndex(
              spark, reb, e, col("vec_id"), col("embedding"), cents, buckets = 4)),
        "cmp" -> Maintenance.ManagedIndex(
          cmp, "corpus_id",
          compact = () => Dedup.compactSemanticIndex(spark, cmp, buckets = 4),
          rebuild = () => fail("healthy-layout index must not rebuild")),
        "non" -> Maintenance.ManagedIndex(
          non, "corpus_id",
          compact = () => fail("healthy index must not compact"),
          rebuild = () => fail("healthy index must not rebuild"))))
    // schema tripwire: the real audit and the empty-fleet audit (hand-built
    // StructType) must agree — a census column change must trip BOTH tests
    assert(auditDf.columns.toSeq ==
      Seq("index_name", "index_docs", "tomb_entries", "append_eras", "capped_ppm", "decision"))
    val audit = auditDf
      .collect()
      .map(r => r.getAs[String]("index_name") ->
        (r.getAs[Long]("index_docs"), r.getAs[Long]("tomb_entries"),
          r.getAs[Long]("append_eras"), r.getAs[String]("decision")))
      .toMap
    val total = e.count()
    // rebuild re-encoded the FULL corpus at one fresh era, no tombstones
    assert(audit("reb") == ((total, 0L, 1L, "rebuild")), s"got ${audit("reb")}")
    assert(spark.catalog.tableExists(s"${reb}__v1"), "rebuild must publish a version")
    // compact folded the 1/5 tombstoned stratum into the files
    assert(audit("cmp") == ((total - e.filter(col("vec_id") % 5 === 0).count(), 0L, 1L, "compact")),
      s"got ${audit("cmp")}")
    assert(!spark.catalog.tableExists(Similarity.tombTable(cmp)),
      "compact must retire the applied tombstones")
    // none left the healthy index untouched
    assert(audit("non") == ((total, 0L, 1L, "none")), s"got ${audit("non")}")
  }

  test("applyMaintenancePlan fails fast when the plan names an unregistered index") {
    val plan = Seq(("ghost", "compact"))
      .toDF("index_name", "decision")
    val ex = intercept[IllegalArgumentException] {
      Maintenance.applyMaintenancePlan(spark, plan, Map.empty)
    }
    assert(ex.getMessage.contains("ghost"))
  }

  test("applyMaintenancePlan rejects duplicate index names before running any action") {
    // two rows for one name would submit two CONCURRENT full-table
    // rewrites of the same table under the parallel executor — a data
    // race, not a wasteful no-op; validation must refuse the whole plan
    val ran = new java.util.concurrent.atomic.AtomicBoolean(false)
    val plan = Seq(("dup", "compact"), ("dup", "rebuild"))
      .toDF("index_name", "decision")
    val fleet = Map("dup" -> Maintenance.ManagedIndex(
      "whatever", "corpus_id",
      compact = () => { ran.set(true); () },
      rebuild = () => { ran.set(true); () }))
    val ex = intercept[IllegalArgumentException] {
      Maintenance.applyMaintenancePlan(spark, plan, fleet)
    }
    assert(ex.getMessage.contains("dup") && ex.getMessage.contains("more than once"))
    assert(!ran.get(), "no action may run for a duplicate-name plan")
  }

  test("applyMaintenancePlan rejects two actions resolving to one physical table") {
    // distinct registry NAMES are not enough: a mis-registered alias maps
    // two names onto one table, and two non-'none' decisions there are the
    // same concurrent same-table rewrite race the duplicate-name guard
    // exists for — the resolved-table guard must refuse the whole plan
    val ran = new java.util.concurrent.atomic.AtomicBoolean(false)
    val plan = Seq(("alias_a", "compact"), ("alias_b", "rebuild"))
      .toDF("index_name", "decision")
    def ix = Maintenance.ManagedIndex(
      "shared_physical", "corpus_id",
      compact = () => { ran.set(true); () },
      rebuild = () => { ran.set(true); () })
    val ex = intercept[IllegalArgumentException] {
      Maintenance.applyMaintenancePlan(
        spark, plan, Map("alias_a" -> ix, "alias_b" -> ix))
    }
    assert(ex.getMessage.contains("shared_physical")
      && ex.getMessage.contains("alias_a") && ex.getMessage.contains("alias_b"))
    assert(!ran.get(), "no action may run for a same-table plan")
    // a 'none' on the alias is NOT a conflict: only real rewrites race
    val ok = Seq(("alias_a", "none"), ("alias_b", "none")).toDF("index_name", "decision")
    val tbl = s"mntspec_alias_${System.nanoTime()}"
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    Dedup.persistSemanticIndex(e, col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    def live = Maintenance.ManagedIndex(
      tbl, "corpus_id",
      compact = () => fail("none must not compact"),
      rebuild = () => fail("none must not rebuild"))
    val audit = Maintenance.applyMaintenancePlan(
      spark, ok, Map("alias_a" -> live, "alias_b" -> live))
    assert(audit.count() == 2L)
  }

  test("applyMaintenancePlan validates the WHOLE plan before running any action") {
    // the valid row sorts FIRST ('aaa' < 'ghost'), so a lazy per-row
    // resolution would have compacted it before hitting the ghost — the
    // misconfiguration must leave the fleet untouched instead
    val ran = new java.util.concurrent.atomic.AtomicBoolean(false)
    val plan = Seq(("aaa", "compact"), ("ghost", "compact"))
      .toDF("index_name", "decision")
    val fleet = Map("aaa" -> Maintenance.ManagedIndex(
      "whatever", "corpus_id",
      compact = () => { ran.set(true); () },
      rebuild = () => { ran.set(true); () }))
    val ex = intercept[IllegalArgumentException] {
      Maintenance.applyMaintenancePlan(spark, plan, fleet)
    }
    assert(ex.getMessage.contains("ghost"))
    assert(!ran.get(), "no action may run when any plan row fails validation")
    // unknown decision vocabulary trips the same pre-flight validation
    val bad = Seq(("aaa", "defragment")).toDF("index_name", "decision")
    val ex2 = intercept[IllegalArgumentException] {
      Maintenance.applyMaintenancePlan(spark, bad, fleet)
    }
    assert(ex2.getMessage.contains("defragment"))
    assert(!ran.get())
  }

  test("applyMaintenancePlan runs independent actions concurrently, audit in name order") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val n = System.nanoTime()
    val a = s"mntspec_par_a_$n"
    val b = s"mntspec_par_b_$n"
    Dedup.persistSemanticIndex(e, col("vec_id"), col("embedding"), cents, a, buckets = 4)
    Dedup.persistSemanticIndex(e, col("vec_id"), col("embedding"), cents, b, buckets = 4)
    // each compact first WAITS for the other to have started: if the
    // executor ran them sequentially, the barrier would time out
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def gatedCompact(tbl: String): Unit = {
      barrier.await(30, java.util.concurrent.TimeUnit.SECONDS)
      Dedup.compactSemanticIndex(spark, tbl, buckets = 4)
    }
    val plan = Seq(("par_b", "compact"), ("par_a", "compact"))
      .toDF("index_name", "decision")
    val audit = Maintenance.applyMaintenancePlan(
      spark, plan,
      Map(
        "par_a" -> Maintenance.ManagedIndex(
          a, "corpus_id", compact = () => gatedCompact(a), rebuild = () => fail("no rebuild")),
        "par_b" -> Maintenance.ManagedIndex(
          b, "corpus_id", compact = () => gatedCompact(b), rebuild = () => fail("no rebuild"))))
      .collect()
    // deterministic assembly: name order regardless of plan/finish order
    assert(audit.map(_.getAs[String]("index_name")).toSeq == Seq("par_a", "par_b"))
    assert(audit.forall(_.getAs[String]("decision") == "compact"))
    assert(Maintenance.filesPerBucket(spark, a, buckets = 4) == 1L)
    assert(Maintenance.filesPerBucket(spark, b, buckets = 4) == 1L)
  }

  test("the audit is an eager snapshot — later index mutations cannot rewrite it") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroids(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val tbl = s"mntspec_snap_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      e.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    val plan = Seq(("snap", "none")).toDF("index_name", "decision")
    val audit = Maintenance.applyMaintenancePlan(
      spark, plan,
      Map("snap" -> Maintenance.ManagedIndex(
        tbl, "corpus_id",
        compact = () => fail("none must not compact"),
        rebuild = () => fail("none must not rebuild"))))
    val before = audit.collect().head.getAs[Long]("index_docs")
    // mutate AFTER the apply returned: a lazily re-scanning audit would
    // now report the appended rows as the 'post-action' state
    Dedup.appendSemanticIndex(
      e.filter(col("vec_id") % 2 === 1), col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    assert(audit.collect().head.getAs[Long]("index_docs") == before,
      "the audit must snapshot the state observed at apply time")
    assert(before == e.filter(col("vec_id") % 2 === 0).count())
  }

  test("applyMaintenancePlan audits an empty fleet as empty, not as an error") {
    val empty = Seq.empty[(String, String)].toDF("index_name", "decision")
    val audit = Maintenance.applyMaintenancePlan(spark, empty, Map.empty)
    assert(audit.count() == 0)
    assert(audit.columns.toSeq ==
      Seq("index_name", "index_docs", "tomb_entries", "append_eras", "capped_ppm", "decision"))
  }

  test("applyMaintenancePlan audit=false still runs actions, skips the re-census") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.kmeansCentroidsCached(e, "vec_id", "embedding", nlist = 4, iters = 1)
    val tbl = s"mntspec_noaudit_${System.nanoTime()}"
    Dedup.persistSemanticIndex(
      e.filter(col("vec_id") % 2 === 0), col("vec_id"), col("embedding"), cents, tbl, buckets = 4)
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val plan = Seq(("na", "compact")).toDF("index_name", "decision")
    val audit = Maintenance.applyMaintenancePlan(
      spark, plan,
      Map("na" -> Maintenance.ManagedIndex(
        tbl, "corpus_id",
        compact = () => { ran.incrementAndGet(); () },
        rebuild = () => fail("compact must not rebuild"))),
      audit = false)
    assert(ran.get() == 1, "the decided action must still run under audit=false")
    // schema-correct but EMPTY: the caller declared the audit unobserved,
    // so no per-index re-census job is spent producing it
    assert(audit.count() == 0)
    assert(audit.columns.toSeq ==
      Seq("index_name", "index_docs", "tomb_entries", "append_eras", "capped_ppm", "decision"))
    // validation still guards the whole plan first, audited or not
    val bad = Seq(("ghost", "compact")).toDF("index_name", "decision")
    intercept[IllegalArgumentException] {
      Maintenance.applyMaintenancePlan(spark, bad, Map.empty, audit = false)
    }
  }

  /** The census as it was formulated before the one-pass union: two
    * `countDistinct`s over the serving scan, the tombstone count and the
    * capped signal cross-joined in, the watermark joined when present.
    */
  private def twoPassCensus(
      tbl: String, idColName: String, name: String,
      bucketKeys: Seq[String] = Nil, bucketCap: Int = 0) = {
    val idx = spark.table(BucketedIndex.servingTable(spark, tbl))
    val base = idx.agg(
      countDistinct(col(idColName)).as("index_docs"), countDistinct(col("seq")).as("append_eras"))
    val tombT = BucketedIndex.tombTable(tbl)
    val tomb =
      if (spark.catalog.tableExists(tombT)) spark.table(tombT).agg(count(lit(1)).as("tomb_entries"))
      else spark.range(1).select(lit(0L).as("tomb_entries"))
    val capped =
      if (bucketKeys.nonEmpty && bucketCap > 0) {
        val totals = idx.groupBy(bucketKeys.map(col): _*).agg(count(lit(1)).as("__n")).agg(
          coalesce(sum(when(col("__n") > bucketCap, col("__n")).otherwise(0L)), lit(0L)).as("__capped"),
          coalesce(sum(col("__n")), lit(0L)).as("__total"))
        val num = col("__capped") * lit(1000000L)
        val den = greatest(col("__total"), lit(1L))
        totals.select(((num - pmod(num, den)) / den).cast("long").as("capped_ppm"))
      } else spark.range(1).select(lit(0L).as("capped_ppm"))
    val wmT = BucketedIndex.quarWmTable(tbl)
    val joined = base.crossJoin(tomb).crossJoin(capped)
    val withWm =
      if (spark.catalog.tableExists(wmT))
        joined.crossJoin(spark.table(wmT).select(
          col("swept_through"), (col("quar_buckets") - col("swept_through")).as("quar_unswept")))
      else joined.withColumn("swept_through", lit(0L)).withColumn("quar_unswept", lit(0L))
    withWm.select(
      lit(name).as("index_name"), col("index_docs"), col("tomb_entries"), col("append_eras"),
      col("capped_ppm"), col("swept_through"), col("quar_unswept"),
      lit(BucketedIndex.abandonedBuilds(spark, tbl).size.toLong).as("stale_builds"))
  }

  test("indexCensus is one pass of at most 3 jobs and reads what the two-pass census read") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def same(label: String, tbl: String, idColName: String, maxJobs: Long,
        bucketKeys: Seq[String] = Nil, bucketCap: Int = 0): Unit = {
      val census = Maintenance.indexCensus(spark, tbl, idColName, label, bucketKeys, bucketCap)
      var got: Seq[org.apache.spark.sql.Row] = Nil
      val (jobs, _) = jobsAndCompiles { got = census.collect().toSeq }
      val want = twoPassCensus(tbl, idColName, label, bucketKeys, bucketCap).collect().toSeq
      assert(got == want, s"$label: one-pass $got, two-pass $want")
      assert(jobs <= maxJobs, s"$label: the census ran $jobs jobs")
      val plan = census.queryExecution.executedPlan.toString
      assert(!plan.contains("Expand"), s"$label: the census planned an Expand:\n$plan")
      if (bucketCap == 0)
        assert(!plan.contains("NestedLoopJoin"), s"$label: the census planned a join:\n$plan")
    }
    val lsh = s"mntspec_one_${System.nanoTime()}"
    Dedup.persistLshIndex(docs.filter(col("doc_id") % 2 === 0), col("doc_id"), col("text"), lsh, 4)
    same("no tombstone table", lsh, "corpus_id", 3L)
    Dedup.deleteFromLshIndex(spark, lsh, docs.filter(col("doc_id") % 6 === 0), col("doc_id"))
    same("tombstones", lsh, "corpus_id", 3L)
    Dedup.appendLshIndex(docs.filter(col("doc_id") % 4 === 1), col("doc_id"), col("text"), lsh, 4)
    Dedup.appendLshIndex(docs.filter(col("doc_id") % 4 === 3), col("doc_id"), col("text"), lsh, 4)
    Dedup.deleteFromLshIndex(spark, lsh, docs.filter(col("doc_id") % 5 === 0), col("doc_id"))
    same("several eras", lsh, "corpus_id", 3L)
    // a capped banded layout, the bucket census cross-joined in
    val capped = s"mntspec_onecap_${System.nanoTime()}"
    val banded = (1L to 40L).map(i => ((i % 4).toInt, i % 3, i, i * 31)).toDF("band", "bv", "id", "fp")
    Multimodal.persistHammingIndexRows(banded, capped, buckets = 2, maxBucket = 3)
    Multimodal.appendHammingIndexRows(banded.filter(col("id") <= 10L), capped, buckets = 2)
    same("capped layout", capped, "corpus_id", Long.MaxValue, Seq("band", "bv"), 3)
    // a quarantined Hamming index whose sweep watermark has moved
    val quar = s"mntspec_onewm_${System.nanoTime()}"
    val corpus = (1L to 12L).map(i => (i, 42L)).toDF("asset_id", "fp")
    Multimodal.persistHammingIndex(corpus, "asset_id", "fp", quar, buckets = 4, maxBucket = 10)
    Multimodal.quarantineHammingIndex(spark, quar, corpus, "asset_id", "fp", buckets = 4, maxBucket = 10)
    Multimodal.sweepHammingQuarantine(
      spark, quar, Seq((100L, 42L)).toDF("asset_id", "fp"), "asset_id", "fp",
      maxHamming = 8, maxBucketsPerTick = 3, sink = tempDir("mntspec_onewm") + "/t1")
    same("quarantine watermark", quar, "corpus_id", 3L)
  }
}
