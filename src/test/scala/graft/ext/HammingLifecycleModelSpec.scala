package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** MODEL-BASED lifecycle audit for the persisted bucketed indexes — the
  * semantics with the most moving parts (era-qualified tombstones, the
  * never-re-capped append, compaction's content dedup + re-cap + era
  * collapse + horizon-split tombstone retirement). A seeded deterministic
  * op script (appends, takedowns, capped and uncapped compactions,
  * duplicate re-appends, D-then-U reversals) runs against BOTH the real
  * index and a transparent in-memory reference model, once per layout
  * ([[BucketedIndex.Layout]]: LSH, IVF-PQ, semantic, Hamming). After
  * EVERY op the index's live rows (id, payload, era order) and its
  * maintenance census must equal the model's, and for the Hamming index
  * the engine's probe must too. The single-op specs pin each contract in
  * isolation; this pins their COMPOSITION under interleavings nobody
  * hand-wrote.
  */
class HammingLifecycleModelSpec extends SparkSpecBase {
  import spark.implicits._

  private val H = 6 // hamming verify threshold
  private def bandsOf(fp: Long): Seq[(Int, Long)] =
    (0 until 4).map(b => (b, (fp >> (b * 14)) & 16383L))
  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** One index layout under test: its module layout, the stored columns
    * (table order, `seq` excluded), how an (id, fp) item encodes into
    * stored rows, the persist-time cap, and how the op script reaches the
    * index.
    */
  private abstract class Family(val layout: BucketedIndex.Layout, val columns: StructType, val cap: Int) {
    def encode(id: Long, fp: Long): Seq[Seq[Any]]
    def persist(tbl: String, items: Seq[(Long, Long)]): Unit
    def append(tbl: String, items: Seq[(Long, Long)]): Unit
    def delete(tbl: String, ids: Seq[Long]): Unit
    def compact(tbl: String, maxBucket: Int): Unit
  }

  /** A layout driven through the module itself, with a synthetic encoding
    * of the family's stored row shape — the persist applies the cap the
    * way the capped families do ([[Dedup.capBuckets]]).
    */
  private class ModuleFamily(layout: BucketedIndex.Layout, columns: StructType, cap: Int)(
      enc: (Long, Long) => Seq[Seq[Any]]) extends Family(layout, columns, cap) {
    def encode(id: Long, fp: Long): Seq[Seq[Any]] = enc(id, fp)
    private def frame(items: Seq[(Long, Long)]): DataFrame = spark.createDataFrame(
      items.flatMap { case (id, fp) => enc(id, fp) }.map(Row.fromSeq).asJava, columns)
    def persist(tbl: String, items: Seq[(Long, Long)]): Unit =
      layout.persist(Dedup.capBuckets(frame(items), layout.keys, cap), tbl, 2, era = 0L)
    def append(tbl: String, items: Seq[(Long, Long)]): Unit =
      layout.append(frame(items), tbl, 2, BucketedIndex.nextEra())
    def delete(tbl: String, ids: Seq[Long]): Unit =
      layout.delete(spark, tbl, ids.toDF("id"), col("id"), BucketedIndex.nextEra())
    def compact(tbl: String, maxBucket: Int): Unit = layout.compact(spark, tbl, 2, maxBucket)
  }

  /** The Hamming index through its public family API. */
  private object HammingFamily extends Family(
      Multimodal.HammingLayout,
      StructType(Seq(StructField("band", IntegerType), StructField("bv", LongType),
        StructField("corpus_id", LongType), StructField("fp", LongType))),
      cap = 70) {
    def encode(id: Long, fp: Long): Seq[Seq[Any]] = bandsOf(fp).map { case (b, bv) => Seq(b, bv, id, fp) }
    private def asDf(rows: Seq[(Long, Long)]) = rows.toDF("id", "fp")
    def persist(tbl: String, items: Seq[(Long, Long)]): Unit =
      Multimodal.persistHammingIndex(asDf(items), "id", "fp", tbl, buckets = 2, maxBucket = cap)
    def append(tbl: String, items: Seq[(Long, Long)]): Unit =
      Multimodal.appendHammingIndex(asDf(items), "id", "fp", tbl, buckets = 2)
    def delete(tbl: String, ids: Seq[Long]): Unit =
      Multimodal.deleteFromHammingIndex(spark, tbl, ids.toDF("id"), col("id"))
    def compact(tbl: String, maxBucket: Int): Unit =
      Multimodal.compactHammingIndex(spark, tbl, buckets = 2, maxBucket = maxBucket)
  }

  private val lshFamily = new ModuleFamily(
    Dedup.LshLayout,
    StructType(Seq(StructField("band", IntegerType), StructField("bh", StringType),
      StructField("corpus_id", LongType))),
    cap = 70)((id, fp) => bandsOf(fp).map { case (b, bv) => Seq(b, bv.toString, id) })

  private val annFamily = new ModuleFamily(
    Similarity.AnnLayout,
    StructType(Seq(StructField("cand_id", LongType), StructField("cell", IntegerType),
      StructField("codes", ArrayType(IntegerType)))),
    cap = 15)((id, fp) => Seq(Seq(id, (fp % 3).toInt, Seq((fp / 3 % 4).toInt, (fp / 12 % 4).toInt))))

  private val semanticFamily = new ModuleFamily(
    Dedup.SemanticLayout,
    StructType(Seq(StructField("cell", IntegerType), StructField("corpus_id", LongType),
      StructField("vec", ArrayType(LongType)), StructField("nrm", DoubleType))),
    cap = 15)((id, fp) => Seq(Seq((fp % 3).toInt, id, Seq(fp % 7, fp % 11),
      math.sqrt(((fp % 7) * (fp % 7) + (fp % 11) * (fp % 11)).toDouble))))

  /** The reference model: stored rows (column values, id, logical era),
    * id-level tombstones with logical eras, and the documented op
    * semantics.
    */
  private class Model(f: Family) {
    private val idIdx = f.columns.fieldIndex(f.layout.idName)
    private val keyIdx = f.layout.keys.map(f.columns.fieldIndex)
    private def key(values: Seq[Any]): Seq[Any] = keyIdx.map(values)
    // (column values, era)
    var rows: Vector[(Seq[Any], Long)] = Vector.empty
    var tombs: Map[Long, Long] = Map.empty
    var tombRows: Long = 0L // census grain: one stored row per (id, delete-call)
    private var clock = 0L
    private def tick(): Long = { clock += 1; clock }
    private def idOf(values: Seq[Any]): Long = values(idIdx).asInstanceOf[Long]

    def live: Vector[(Seq[Any], Long)] = rows.filterNot { case (v, era) =>
      tombs.get(idOf(v)).exists(era <= _)
    }

    private def capped(rs: Vector[(Seq[Any], Long)], cap: Int): Vector[(Seq[Any], Long)] = {
      val census = rs.groupBy(r => key(r._1)).view.mapValues(_.size).toMap
      if (cap <= 0) rs else rs.filter(r => census(key(r._1)) <= cap)
    }

    def persist(corpus: Seq[(Long, Long)]): Unit = {
      rows = capped(corpus.flatMap { case (id, fp) => f.encode(id, fp).map(_ -> 0L) }.toVector, f.cap)
      tombs = Map.empty
      tombRows = 0L
    }

    def append(batch: Seq[(Long, Long)]): Unit = {
      val era = tick()
      rows ++= batch.flatMap { case (id, fp) => f.encode(id, fp).map(_ -> era) }
    }

    def delete(ids: Seq[Long]): Unit = {
      val era = tick()
      ids.foreach(id => tombs += id -> era)
      tombRows += ids.size
    }

    /** The maintenance-census signals as [[Maintenance.indexCensus]]
      * derives them: STORED grain (not tombstone-filtered) for docs,
      * eras, and the capped regrowth signal; tombstone ROWS (one per
      * id per delete call) for the retraction-load signal.
      */
    def census: (Long, Long, Long, Long) = {
      val docs = rows.map(r => idOf(r._1)).distinct.size.toLong
      val eras = rows.map(_._2).distinct.size.toLong
      val perBucket = rows.groupBy(r => key(r._1)).view.mapValues(_.size.toLong)
      val total = rows.size.toLong
      val cappedRows = perBucket.values.filter(_ > f.cap).sum
      val ppm = if (total == 0) 0L else cappedRows * 1000000L / total
      (docs, tombRows, eras, ppm)
    }

    def compact(cap: Int): Unit = {
      val horizon = tick()
      // content dedup keeping the highest era, over LIVE rows
      val healed = live.groupBy(_._1).map { case (v, g) => (v, g.map(_._2).max) }.toVector
      val kept = capped(healed, cap)
      val maxEra = if (kept.isEmpty) 0L else kept.map(_._2).max
      rows = kept.map { case (v, _) => (v, maxEra) }
      // the horizon split: every tombstone in this sequential script
      // predates the compaction, so all retire
      tombs = tombs.filter { case (_, t) => t >= horizon }
      tombRows = 0L
    }

    /** Live rows as (column values, rank of the era among live eras). */
    def liveRanked: Seq[String] = ranked(live)

    /** The Hamming verify over live rows (band, bv, corpus_id, fp). */
    def probe(incoming: Seq[(Long, Long)]): Seq[(Long, Long, Int)] = {
      val l = live.map(_._1)
      (for {
        (pid, pfp) <- incoming
        (b, bv) <- bandsOf(pfp)
        Seq(rb, rbv, cid: Long, cfp: Long) <- l
        if rb == b && rbv == bv && cid != pid && hamming(pfp, cfp) <= H
      } yield (pid, cid, hamming(pfp, cfp))).distinct.sorted
    }
  }

  /** Rows as comparable strings: column values plus the rank of the row's
    * era among the distinct eras present — era VALUES differ between the
    * engine (wall-clock anchored) and the model (logical), their order
    * must not.
    */
  private def ranked(rs: Seq[(Seq[Any], Long)]): Seq[String] = {
    val rank = rs.map(_._2).distinct.sorted.zipWithIndex.toMap
    rs.map { case (v, era) => (v :+ rank(era)).mkString("|") }.sorted
  }

  private def engineLive(f: Family, tbl: String): Seq[String] =
    ranked(f.layout.live(spark, tbl).collect().toSeq.map { r =>
      val values = f.columns.fieldNames.toSeq.map(n => r.getAs[Any](n) match {
        case s: scala.collection.Seq[_] => s.toList
        case x                          => x
      })
      (values, r.getAs[Long]("seq"))
    })

  /** The seeded op script, run against the engine index and the model;
    * `probeCheck` adds the Hamming probe-equality check after every op.
    */
  private def walk(f: Family, probeCheck: Boolean): Unit = {
    val rnd = new scala.util.Random(20260816L)
    // a tiny fp space (low 10 bits) concentrates buckets HARD: band 0
    // carries the variation, bands 1-3 collapse to the all-zero bucket —
    // the boilerplate shape the cap semantics exist for
    def freshFp(): Long = rnd.nextInt(1024).toLong
    val corpus = (1L to 40L).map(id => id -> freshFp())
    val probes = (1000L to 1019L).map(id => id -> freshFp())

    val tbl = s"lifecycle_model_${System.nanoTime()}"
    val model = new Model(f)
    f.persist(tbl, corpus)
    model.persist(corpus)

    def check(opName: String): Unit = {
      if (probeCheck) {
        val got = Multimodal
          .probeHammingIndex(spark, tbl, probes.toDF("id", "fp"), "id", "fp", maxHamming = H)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted.toSeq
        val want = model.probe(probes)
        assert(got == want,
          s"engine/model divergence after $opName: engine ${got.size} pairs, model ${want.size}")
      }
      val gotLive = engineLive(f, tbl)
      val wantLive = model.liveRanked
      assert(gotLive == wantLive,
        s"live-row divergence after $opName:\nengine $gotLive\nmodel  $wantLive")
      // the POLICY's inputs must also agree under interleavings — these
      // are what indexMaintenancePlan decides from
      val c = Maintenance
        .indexCensus(spark, tbl, f.layout.idName, "m", bucketKeys = f.layout.keys, bucketCap = f.cap)
        .collect().head
      val gotCensus = (c.getAs[Long]("index_docs"), c.getAs[Long]("tomb_entries"),
        c.getAs[Long]("append_eras"), c.getAs[Long]("capped_ppm"))
      val wantCensus = model.census
      assert(gotCensus == wantCensus,
        s"census divergence after $opName: engine $gotCensus, model $wantCensus")
    }
    check("persist")

    var nextId = 100L
    var appended: Vector[(Long, Long)] = Vector.empty
    (1 to 14).foreach { step =>
      rnd.nextInt(4) match {
        case 0 => // append a fresh batch (possibly re-using a duplicate row)
          val fresh = (0 until 1 + rnd.nextInt(4)).map { _ =>
            nextId += 1; nextId -> freshFp()
          }
          // with probability, re-append an existing row VERBATIM (the
          // at-least-once duplicate the compaction content-dedup heals)
          val dup =
            if (appended.nonEmpty && rnd.nextBoolean()) Seq(appended(rnd.nextInt(appended.size)))
            else Nil
          val batch = fresh ++ dup
          appended ++= fresh
          f.append(tbl, batch)
          model.append(batch)
          check(s"append#$step")
        case 1 => // take down a random known stratum (corpus or appended)
          val pool = corpus.map(_._1) ++ appended.map(_._1)
          val ids = (0 until 1 + rnd.nextInt(3)).map(_ => pool(rnd.nextInt(pool.size))).distinct
          f.delete(tbl, ids)
          model.delete(ids)
          check(s"delete#$step")
        case 2 => // D-then-U reversal: take down then immediately re-append
          if (appended.nonEmpty) {
            val victim = appended(rnd.nextInt(appended.size))
            f.delete(tbl, Seq(victim._1))
            model.delete(Seq(victim._1))
            f.append(tbl, Seq(victim))
            model.append(Seq(victim))
            check(s"reappend#$step")
          }
        case 3 => // compact, alternating capped / uncapped posture
          val c = if (rnd.nextBoolean()) f.cap else 0
          f.compact(tbl, c)
          model.compact(c)
          check(s"compact(cap=$c)#$step")
      }
    }
    // the script must have actually exercised the interesting state (a
    // guard against a vacuously-empty walk)
    assert(model.live.nonEmpty, "fixture too weak — no live rows at the end of the walk")
    if (probeCheck)
      assert(model.probe(probes).nonEmpty, "fixture too weak — no pairs at the end of the walk")
  }

  test("random lifecycle interleavings: engine probe equals the reference model after every op") {
    walk(HammingFamily, probeCheck = true)
  }

  Seq("LSH" -> lshFamily, "IVF-PQ" -> annFamily, "semantic" -> semanticFamily).foreach {
    case (name, f) =>
      test(s"random lifecycle interleavings over the $name layout: live rows and census equal the model") {
        walk(f, probeCheck = false)
      }
  }
}
