package graft.ext

import graft.SparkSpecBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The shared index lifecycle's quarantine-sweep state: the watermark's
  * cold read from outside the process, and the stored sweep ranks'
  * coherence with every quarantine write and with each tick's slice.
  */
class BucketedIndexSpec extends SparkSpecBase {
  import spark.implicits._

  // two boilerplate clusters (15× fp 42, 12× its 56-bit complement): cap
  // 10 quarantines each cluster's four band buckets, the larger one
  // ranking first in sweep order
  private val far = (1L << 56) - 1 - 42
  private val small = (1L << 42) | (1L << 28) | (1L << 14) | 1L

  private def quarantined(corpus: Seq[(Long, Long)]): String = {
    val tbl = s"bispec_${System.nanoTime()}"
    val df = corpus.toDF("asset_id", "fp")
    Multimodal.persistHammingIndex(df, "asset_id", "fp", tbl, buckets = 4, maxBucket = 10)
    Multimodal.quarantineHammingIndex(spark, tbl, df, "asset_id", "fp", buckets = 4, maxBucket = 10)
    tbl
  }

  /** The corpus ids among the members of the next tick's bucket slice. */
  private def nextTickIds(tbl: String): Seq[Long] = {
    val (lo, total) = BucketedIndex.quarantineWatermark(spark, tbl)
    Multimodal.HammingLayout
      .sweepMembers(spark, tbl, lo, math.min(lo + 4, total))
      .select("corpus_id").distinct().as[Long].collect().sorted.toSeq
  }

  test("a watermark past Int.MaxValue read cold fails the tick instead of sweeping a wrapped range") {
    val tbl = quarantined((1L to 15L).map(_ -> 42L) ++ (21L to 32L).map(_ -> far))
    val wmT = BucketedIndex.quarWmTable(tbl)
    val beyond = Int.MaxValue.toLong + 5
    // a watermark written outside this process: the persisted row is the
    // only state, so every read below is a cold one
    spark.createDataFrame(
      java.util.Arrays.asList(Row(beyond, beyond + 10)),
      StructType(Seq(StructField("swept_through", LongType), StructField("quar_buckets", LongType))))
      .write.mode("overwrite").insertInto(wmT)
    spark.catalog.refreshTable(wmT)
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((beyond, beyond + 10)))
    val sink = tempDir("bispec_wm") + "/t"
    intercept[IllegalStateException] {
      Multimodal.sweepHammingQuarantine(
        spark, tbl, Seq((100L, 42L)).toDF("asset_id", "fp"), "asset_id", "fp",
        maxHamming = 8, maxBucketsPerTick = 1, sink = sink)
    }
    assert(!new java.io.File(sink).exists, "the failed tick must write nothing")
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((beyond, beyond + 10)),
      "the failed tick must not advance the watermark")
  }

  test("every quarantine write re-ranks: the next tick's slice matches the new content") {
    val tbl = quarantined((1L to 15L).map(_ -> 42L) ++ (21L to 32L).map(_ -> far))
    assert(nextTickIds(tbl) == (1L to 15L), "the 15-member cluster ranks first")
    // layout-time re-quarantine with different content: the 42-cluster is
    // gone and a 20-member cluster of `small` now outranks the far one.
    // No explicit sweep reset — the write alone must refresh the ranks.
    Multimodal.quarantineHammingIndex(
      spark, tbl, ((21L to 32L).map(_ -> far) ++ (51L to 70L).map(_ -> small)).toDF("asset_id", "fp"),
      "asset_id", "fp", buckets = 4, maxBucket = 10)
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((0L, 8L)))
    assert(nextTickIds(tbl) == (51L to 70L), "the re-quarantined content must rank fresh")
    // compaction capture: regrow the stored (empty) side past the cap with
    // a 25-member cluster; compact-at-cap moves it into the quarantine,
    // where it now ranks first
    Multimodal.appendHammingIndex(
      (81L to 105L).map(_ -> 7L).toDF("asset_id", "fp"), "asset_id", "fp", tbl, buckets = 4)
    Multimodal.compactHammingIndex(spark, tbl, buckets = 4, maxBucket = 10)
    assert(BucketedIndex.quarantineWatermark(spark, tbl) == ((0L, 12L)))
    assert(nextTickIds(tbl) == (81L to 105L), "the compaction capture must rank fresh")
  }

  test("sweep ticks select their bucket slice by rank predicate, no local relation") {
    // three hot clusters (15, 12 and 11 members; 4 band buckets each)
    // give 12 ranked buckets; 5-bucket ticks take three passes, and the
    // middle tick straddles two clusters' ranks
    val tbl = quarantined(
      (1L to 15L).map(_ -> 42L) ++ (21L to 32L).map(_ -> far) ++ (51L to 61L).map(_ -> small))
    Multimodal.deleteFromHammingIndex(spark, tbl, Seq(3L, 25L).toDF("id"), col("id"))
    // the slice as the bucket list was cut before ranks were stored:
    // buckets by membership DESC then keys, positions (lo, hi], their
    // member rows minus the takedowns. Rows, not ids: a cluster's ids
    // recur in each of its four band buckets, so only the rows show a
    // tick that takes one bucket too many or too few
    val quar = spark.table(BucketedIndex.quarTable(tbl))
    val order = quar.groupBy("band", "bv").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("band"), col("bv"))
      .select("band", "bv").as[(Int, Long)].collect().toSeq
    val rows = quar.select("band", "bv", "corpus_id").as[(Int, Long, Long)].collect().toSeq
    def expected(lo: Long, hi: Long): Seq[(Int, Long, Long)] = {
      val slice = order.slice(lo.toInt, hi.toInt).toSet
      rows.filter { case (b, v, id) => slice((b, v)) && id != 3L && id != 25L }.sorted
    }
    val sink = tempDir("bispec_ticks") + "/t"
    val (start, total) = BucketedIndex.quarantineWatermark(spark, tbl)
    assert(start == 0L && total == 12L)
    var lo = start
    var ticks = 0
    while (lo < total) {
      val hi = math.min(lo + 5, total)
      val members = Multimodal.HammingLayout.sweepMembers(spark, tbl, lo, hi)
      val qe = members.queryExecution
      val plans = Seq(qe.optimizedPlan.toString, qe.executedPlan.toString)
      assert(plans.forall(p => !p.contains("LocalRelation") && !p.contains("LocalTableScan")),
        s"tick ($lo, $hi] plans a local relation:\n${plans.mkString("\n")}")
      assert(!members.columns.contains("__rank"))
      assert(members.select("band", "bv", "corpus_id").as[(Int, Long, Long)].collect().sorted.toSeq ==
        expected(lo, hi), s"tick ($lo, $hi]")
      val committed = Multimodal.sweepHammingQuarantine(
        spark, tbl, Seq((100L, 42L)).toDF("asset_id", "fp"), "asset_id", "fp",
        maxHamming = 8, maxBucketsPerTick = 5, sink = sink)
      assert(committed == ((hi, total)) && BucketedIndex.quarantineWatermark(spark, tbl) == committed,
        "the tick returns the watermark it committed")
      lo = committed._1
      ticks += 1
    }
    assert(ticks == 3)
  }
}
