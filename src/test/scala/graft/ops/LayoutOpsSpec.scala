package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Compaction / bin-packing layout maintenance (LayoutOps). */
class LayoutOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private def contentOf(path: String): Seq[(Long, String, String)] =
    spark.read.parquet(path)
      .select($"id", $"p", $"payload")
      .as[(Long, String, String)]
      .collect().toSeq.sorted

  test("compact: fragmented partitions collapse to exactly ceil(rows/target) files, content intact") {
    val in = tempDir("layout_in")
    val out = tempDir("layout_out")
    // 3 partitions × 1000 rows, written from 10 shuffle partitions → 10
    // small files per partition directory
    val df = (1 to 3000).map(i => (i.toLong, s"p${i % 3}", s"row$i")).toDF("id", "p", "payload")
    df.repartition(10).write.mode("overwrite").partitionBy("p").parquet(in)
    val before = LayoutOps.fileCensus(spark, in, "p")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(before.values.forall(_ == 10L), s"fixture not fragmented: $before")

    // 1000 rows per partition at target 400 → exactly ceil(1000/400) = 3
    // files each (single salt group under the default 8× task cap)
    LayoutOps.compact(spark, in, out, "p", targetRowsPerFile = 400)
    val after = LayoutOps.fileCensus(spark, out, "p")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after == Map("p0" -> 3L, "p1" -> 3L, "p2" -> 3L), s"got $after")
    assert(contentOf(out) == contentOf(in), "compaction must be a row-level bijection")
  }

  test("compact: an oversized partition splits across salt groups with bounded tail slack") {
    val in = tempDir("layout_skewin")
    val out = tempDir("layout_skewout")
    // one hot partition (5000 rows) beside a small one (300): the hot one
    // must spread across ceil(5000/500) = 10 groups for write parallelism
    val df = ((1 to 5000).map(i => (i.toLong, "hot", s"r$i")) ++
      (1 to 300).map(i => (10000L + i, "cold", s"c$i"))).toDF("id", "p", "payload")
    df.repartition(8).write.mode("overwrite").partitionBy("p").parquet(in)
    LayoutOps.compact(spark, in, out, "p", targetRowsPerFile = 100, maxRowsPerTask = 500)
    val after = LayoutOps.fileCensus(spark, out, "p")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hot: exact = 50, slack ≤ n_groups − 1 = 9; cold: one group, exact 3
    assert(after("hot") >= 50L && after("hot") <= 59L, s"hot partition files: $after")
    assert(after("cold") == 3L, s"cold partition files: $after")
    assert(contentOf(out) == contentOf(in), "compaction must be a row-level bijection")
  }

  test("manifest + skippingScan: prunes files by min/max, loses no qualifying row") {
    val in = tempDir("layout_skip")
    // range-clustered layout: 8 files with disjoint id ranges
    val df = (1 to 4000).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    df.repartitionByRange(8, $"id").write.mode("overwrite").parquet(in)
    val m = LayoutOps.manifest(spark, in, Seq("id"))
    val rows = m.collect()
    assert(rows.length == 8, s"one manifest row per file: ${rows.length}")
    assert(rows.map(_.getLong(1)).sum == 4000L, "manifest row counts must total the table")
    // disjoint clustering: no two files' [min,max] ranges overlap
    val ranges = rows.map(r => (r.getLong(2), r.getLong(3))).sorted
    assert(ranges.sliding(2).forall { case Array((_, hi1), (lo2, _)) => hi1 < lo2 },
      s"ranges must be disjoint: ${ranges.toSeq}")

    val out = LayoutOps.skippingScan(spark, in, m, "id", lo = 100, hi = 400)
    assert(out.inputFiles.length < 8, s"no file was skipped: ${out.inputFiles.length}")
    assert(
      out.select("id").as[Long].collect().sorted.toSeq == (100L to 400L),
      "skipping scan must return exactly the qualifying rows")

    // an out-of-range probe reads NOTHING but keeps the schema
    val empty = LayoutOps.skippingScan(spark, in, m, "id", lo = 100000, hi = 200000)
    assert(empty.count() == 0 && empty.columns.toSeq == Seq("id", "payload"))
  }

  test("skippingScan: all-null stat files are skipped safely (null never matches a range)") {
    val in = tempDir("layout_skipnull")
    val some = (1 to 100).map(i => (Option(i.toLong), s"v$i"))
    val nulls = (1 to 50).map(i => (Option.empty[Long], s"n$i"))
    // two single-file writes into one dir: one real range, one all-null
    some.toDF("id", "payload").coalesce(1).write.mode("overwrite").parquet(in)
    nulls.toDF("id", "payload").coalesce(1).write.mode("append").parquet(in)
    val m = LayoutOps.manifest(spark, in, Seq("id"))
    val out = LayoutOps.skippingScan(spark, in, m, "id", lo = 1, hi = 1000)
    assert(out.inputFiles.length == 1, "the all-null file must be pruned")
    assert(out.count() == 100, "every non-null row qualifies")
  }

  test("manifestAppend: maintained manifest equals a full rebuild; no fresh files = identity") {
    val in = tempDir("layout_mmaint")
    val df = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    df.repartitionByRange(4, $"id").write.mode("overwrite").parquet(in)
    val all = spark.read.parquet(in).inputFiles.sorted
    val prior = LayoutOps.manifestOf(
      spark.read.parquet(all.take(2).toIndexedSeq: _*), Seq("id"))
    val maintained = LayoutOps.manifestAppend(spark, in, prior, Seq("id"))
    def canon(m: org.apache.spark.sql.DataFrame) =
      m.collect().map(r => (new java.net.URI(r.getString(0)).getPath,
        r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    assert(canon(maintained) == canon(LayoutOps.manifest(spark, in, Seq("id"))),
      "append must converge to the full rebuild")
    // idempotence: a second maintenance pass finds nothing fresh
    val again = LayoutOps.manifestAppend(spark, in, maintained, Seq("id"))
    assert(canon(again) == canon(maintained))
  }

  test("bucketIndex + pointLookupScan: IN-probe opens few files, exact rows, absent key reads nothing") {
    val in = tempDir("layout_ptlk")
    val df = (1 to 4000).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    df.repartitionByRange(8, $"id").write.mode("overwrite").parquet(in)
    val idx = LayoutOps.bucketIndex(spark, in, "id", buckets = 4096)
    // posting list is metadata-scale: at most (buckets, rows-in-file) rows per file
    assert(idx.count() <= 8L * 4096)

    val out = LayoutOps.pointLookupScan(spark, in, idx, "id", keys = Seq(10L, 3990L), buckets = 4096)
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(10L, 3990L))
    // the two keys live in the first and last range files; collisions may
    // add files but a lookup must never approach the full scan
    assert(out.inputFiles.length < 8, s"no pruning: ${out.inputFiles.length}")

    // a key outside the domain: at worst collision files open, zero rows out
    val miss = LayoutOps.pointLookupScan(spark, in, idx, "id", keys = Seq(999999L), buckets = 4096)
    assert(miss.count() == 0 && miss.columns.toSeq == Seq("id", "payload"))
  }

  test("z-ordered layout + manifest skips files on EITHER interleaved dimension") {
    val in = tempDir("layout_zskip")
    // 64×64 grid: a z-ordered 8-file layout bounds both x and y per file;
    // a linear sort on x would leave every file spanning all of y
    val grid = for { x <- 0 until 64; y <- 0 until 64 } yield (x.toLong, y.toLong)
    ZOrderOps
      .zorderLayout(grid.toDF("x", "y"), "x", "y", bits = 6, partitions = 8)
      .drop("zval")
      .write.mode("overwrite").parquet(in)
    val m = LayoutOps.manifest(spark, in, Seq("x", "y"))
    val onX = LayoutOps.skippingScan(spark, in, m, "x", lo = 0, hi = 7)
    val onY = LayoutOps.skippingScan(spark, in, m, "y", lo = 0, hi = 7)
    assert(onX.inputFiles.length < 8, s"x-range must prune: ${onX.inputFiles.length}")
    assert(onY.inputFiles.length < 8, s"y-range must prune: ${onY.inputFiles.length}")
    assert(onX.count() == 8 * 64 && onY.count() == 64 * 8, "pruning must lose no rows")
  }

  test("compact: deterministic — two runs produce identical file assignment") {
    val in = tempDir("layout_detin")
    val out1 = tempDir("layout_detout1")
    val out2 = tempDir("layout_detout2")
    val df = (1 to 900).map(i => (i.toLong, s"p${i % 2}", s"x$i")).toDF("id", "p", "payload")
    df.repartition(6).write.mode("overwrite").partitionBy("p").parquet(in)
    LayoutOps.compact(spark, in, out1, "p", targetRowsPerFile = 128)
    LayoutOps.compact(spark, in, out2, "p", targetRowsPerFile = 128)
    def censusOf(p: String) = LayoutOps.fileCensus(spark, p, "p")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(censusOf(out1) == censusOf(out2))
    assert(contentOf(out1) == contentOf(out2))
  }
}
