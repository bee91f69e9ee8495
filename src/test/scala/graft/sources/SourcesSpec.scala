package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Source/sink helpers: batched sink, bucketed co-location, zip packaging. */
class SourcesSpec extends SparkSpecBase {
  import spark.implicits._

  test("writePartitioned layout prunes non-qualifying partitions at plan time") {
    import org.apache.spark.sql.functions.col
    val dir = tempDir("partitioned")
    val df = (1 to 300).map(i => (i.toLong, 1990 + i % 3)).toDF("id", "yr")
    Sources.writePartitioned(df, dir, "yr")
    // one directory per partition value
    val parts = new java.io.File(dir).listFiles().filter(_.getName.startsWith("yr=")).map(_.getName).sorted
    assert(parts.toSeq == Seq("yr=1990", "yr=1991", "yr=1992"))
    val q = spark.read.parquet(dir).filter(col("yr") === 1991)
    assert(q.count() == 100L)
    // the predicate must land in PartitionFilters (directory pruning), not
    // just as a post-scan data filter
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("yr"), s"no partition pruning:\n$scan")
  }

  test("ORC roundtrip preserves values and pushes the predicate to the reader") {
    val dir = tempDir("orc_rt")
    val df = (1 to 200).map(i => (i.toLong, if (i % 4 == 0) "F" else "O")).toDF("id", "st")
    df.write.mode("overwrite").orc(dir)
    val q = spark.read.orc(dir).filter($"st" === "F").select($"id")
    assert(q.count() == 50L)
    assert(
      q.collect().map(_.getLong(0)).sorted.toSeq == (4L to 200L by 4).toSeq,
      "wrong rows back from ORC")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && scan.contains("st"), s"no ORC pushdown:\n$scan")
  }

  test("writeBatched caps rows per file at maxRecords") {
    val dir = tempDir("batched")
    Sources.writeBatched((1 to 1000).toDF("n"), dir, 250)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    val sizes = files.map(f => spark.read.parquet(f.getAbsolutePath).count())
    assert(sizes.sum == 1000L && sizes.max <= 250L)
  }

  test("zipDirectory is deterministic and lossless (S9 packaging twin)") {
    import spark.implicits._
    val dir = new java.io.File(tempDir("s9src"))
    val data = (0 until 600).map(i => (s"P$i", s"${i * 7}"))
    data.toDF("permit_", "reported_cost")
      .write.mode("overwrite").option("header", "true")
      .option("maxRecordsPerFile", 250L).csv(dir.getAbsolutePath)
    val z1 = tempDir("s9") + "/a.zip"
    val z2 = tempDir("s9") + "/b.zip"
    Sources.zipDirectory(dir.getAbsolutePath, z1)
    Sources.zipDirectory(dir.getAbsolutePath, z2)
    // reproducible bytes: same input directory → byte-identical archive
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(z1)),
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(z2))))
    // lossless: every data row comes back out of the archive
    val zin = new java.util.zip.ZipInputStream(new java.io.FileInputStream(z1))
    val recovered = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory && e.getName.endsWith(".csv")) {
        val text = new String(zin.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        text.split("\n").iterator.drop(1).filter(_.nonEmpty).foreach { line =>
          val c = line.split(",", -1); recovered += ((c(0), c(1)))
        }
      }
      e = zin.getNextEntry
    }
    zin.close()
    assert(recovered.sorted.toSeq == data.sorted)
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Sources.writeBucketed(o, "bkt_orders", 4, "o_orderkey")
    Sources.writeBucketed(l, "bkt_lineitem", 4, "l_orderkey")
    val joined = spark.table("bkt_lineitem")
      .join(spark.table("bkt_orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    // disable broadcast so the join must pick shuffle-or-bucketed SMJ
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // the join itself needs no exchange (only the final groupBy shuffles)
      assert(exchanges <= 1, s"expected bucketed co-located join, plan:\n$plan")
      assert(joined.collect().map(_.getLong(1)).sum == l.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760L)
      spark.sql("DROP TABLE IF EXISTS bkt_orders")
      spark.sql("DROP TABLE IF EXISTS bkt_lineitem")
    }
  }
}
