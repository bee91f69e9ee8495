package graft.sources

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** DSv2 S1 connector: pushdown honesty and schema pinning. */
class PermitsJsonSourceSpec extends SparkSpecBase {
  import spark.implicits._

  private def writeFixture(): String = {
    val dir = new java.io.File(tempDir("permits_json"))
    val lines = Seq(
      """{"permit_":"P1","issue_date":"1995-06-01T00:00:00.000000","pin_list":"111","work_description":"New roof"}""",
      """{"permit_":"P2","issue_date":"1996-06-01T00:00:00.000000","pin_list":"222","work_description":"Garage"}""",
      """{"permit_":"P3","issue_date":"1995-01-01T00:00:00.000000","pin_list":null,"work_description":null}"""
    )
    Files.write(new java.io.File(dir, "part-0.json").toPath, lines.mkString("\n").getBytes)
    dir.getAbsolutePath
  }

  private def load(path: String) =
    spark.read
      .format("graft.sources.PermitsJsonSource")
      .option("path", path)
      .schema(Sources.permitsRawSchema)
      .load()

  test("reads JSON lines with the pinned all-string schema, null-safe") {
    val df = load(writeFixture())
    assert(df.schema == Sources.permitsRawSchema)
    assert(df.count() == 3)
    assert(df.filter($"pin_list".isNull).count() == 1)
    // absent fields read as null, not error
    assert(df.filter($"street_name".isNull).count() == 3)
  }

  test("date-range filter is pushed into the scan and rows are skipped at the reader") {
    val df = load(writeFixture())
      .filter($"issue_date" >= "1995-01-01" && $"issue_date" < "1996-01-01")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || plan.contains("pushed="),
      s"expected pushed filters in plan:\n$plan")
    assert(strings(df, "permit_").sorted == Seq("P1", "P3"))
  }

  test("column pruning reaches the scan (only requested fields materialize)") {
    val df = load(writeFixture()).select($"permit_")
    val scanDesc = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(scanDesc.contains("permit_"))
    assert(!scanDesc.contains("work_description"), s"pruned column still in scan: $scanDesc")
    assert(strings(df, "permit_").sorted == Seq("P1", "P2", "P3"))
  }

  test("unsupported predicates stay Spark-side residuals and still evaluate correctly") {
    val df = load(writeFixture()).filter(length($"work_description") > 5)
    assert(strings(df, "permit_").sorted == Seq("P1", "P2"))
  }

  /** Rows the SCAN ITSELF emitted (BatchScan numOutputRows) — the honesty
    * metric for limit/TopN pushdown: a post-scan LocalLimit would leave
    * this at the full file row count.
    */
  private def scanOutputRows(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .map(_.metrics("numOutputRows").value)
      .sum
  }

  test("limit is pushed to the reader: the scan emits exactly `limit` rows") {
    val df = load(writeFixture()).limit(2)
    val desc = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(desc.contains("pushedLimit=2"), s"limit not pushed into scan: $desc")
    assert(scanOutputRows(df) == 2)
  }

  test("TopN is pushed: the scan emits only its local top-N, and the global order is exact") {
    val df = load(writeFixture())
      .select($"permit_", $"issue_date")
      .orderBy($"issue_date".desc)
      .limit(2)
    val desc = df.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(desc.contains("pushedTopN="), s"TopN not pushed into scan: $desc")
    // sort forces full consumption, so without the pushdown the scan
    // metric would be 3 (every fixture row)
    assert(scanOutputRows(df) == 2)
    assert(strings(df, "permit_") == Seq("P2", "P1"))
  }

  test("byte-range splits read every line exactly once, at every boundary alignment") {
    // 200 variable-length lines; small splitBytes guarantees many ranges
    // whose boundaries land mid-line, at line starts, and at newlines
    val dir = new java.io.File(tempDir("permits_split"))
    val lines = (0 until 200).map(i =>
      s"""{"permit_":"S$i","issue_date":"1995-01-01T00:00:00.000000","pin_list":"${"x" * (i % 37)}"}""")
    Files.write(new java.io.File(dir, "big.json").toPath, lines.mkString("\n").getBytes)
    for (split <- Seq(33L, 64L, 101L, 1000000L)) {
      val df = spark.read
        .format("graft.sources.PermitsJsonSource")
        .option("path", dir.getAbsolutePath)
        .option("splitBytes", split.toString)
        .schema(Sources.permitsRawSchema)
        .load()
      if (split < 1000L)
        assert(df.rdd.getNumPartitions > 1, s"splitBytes=$split produced one partition")
      val got = strings(df, "permit_").sorted
      assert(got == (0 until 200).map(i => s"S$i").sorted, s"splitBytes=$split lost/duped rows")
    }
  }

  test("pushed filters and limit compose with byte-range splits") {
    val dir = new java.io.File(tempDir("permits_split2"))
    val lines = (0 until 100).map(i =>
      s"""{"permit_":"Q$i","issue_date":"${if (i % 2 == 0) "1995" else "1996"}-01-01T00:00:00.000000"}""")
    Files.write(new java.io.File(dir, "big.json").toPath, lines.mkString("\n").getBytes)
    val base = spark.read
      .format("graft.sources.PermitsJsonSource")
      .option("path", dir.getAbsolutePath)
      .option("splitBytes", "97")
      .schema(Sources.permitsRawSchema)
      .load()
    val filtered = base.filter($"issue_date" < "1996-01-01")
    assert(filtered.count() == 50)
    assert(filtered.limit(7).count() == 7)
  }

  test("reads through the Hadoop FileSystem API: a file: URI path lists and splits") {
    val dir = writeFixture()
    val uri = "file://" + dir
    val df = spark.read
      .format("graft.sources.PermitsJsonSource")
      .option("path", uri)
      .option("splitBytes", "64")
      .schema(Sources.permitsRawSchema)
      .load()
    assert(df.rdd.getNumPartitions > 1, "file: URI did not byte-range split")
    assert(strings(df, "permit_").sorted == Seq("P1", "P2", "P3"))
    // filters still evaluate at the reader through the FS-opened stream
    assert(strings(df.filter($"issue_date" < "1996-01-01"), "permit_").sorted == Seq("P1", "P3"))
  }

  test("gzipped members read identically and are never byte-range split") {
    val dir = new java.io.File(tempDir("permits_gz"))
    // enough lines that the raw size clears a tiny splitBytes
    val lines = (1 to 200).map(i =>
      s"""{"permit_":"P$i","issue_date":"1995-06-01T00:00:00.000000","pin_list":"$i"}""")
    val bytes = lines.mkString("\n").getBytes("UTF-8")
    val gzOut = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(new java.io.File(dir, "part-0.json.gz")))
    gzOut.write(bytes); gzOut.close()
    val df = spark.read
      .format("graft.sources.PermitsJsonSource")
      .option("path", dir.getAbsolutePath)
      .option("splitBytes", "64") // would split a plain file of this size
      .schema(Sources.permitsRawSchema)
      .load()
    assert(df.rdd.getNumPartitions == 1, "gz member must be one unsplit partition")
    assert(df.count() == 200)
    assert(df.select("permit_").as[String].collect().toSet == (1 to 200).map("P" + _).toSet)
    // pushdown still applies through the gz reader
    assert(df.filter($"pin_list" === "7").count() == 1)
  }

  test("ungrouped count/min/max push into the scan: one partial row per partition") {
    val dir = writeFixture()
    val extra = Seq(
      """{"permit_":"P4","issue_date":"1997-01-01T00:00:00.000000","pin_list":"444"}""",
      """{"permit_":"P5","issue_date":"1998-01-01T00:00:00.000000","pin_list":null}"""
    )
    Files.write(new java.io.File(dir, "part-1.json").toPath, extra.mkString("\n").getBytes)
    val agg = load(dir).agg(
      count(lit(1)).as("n"),
      min($"issue_date").as("lo"),
      max($"issue_date").as("hi"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates=[COUNT(*), MIN(issue_date), MAX(issue_date)]"),
      s"aggregates not pushed:\n$plan")
    val r = agg.collect().head
    assert(r.getLong(0) == 5L, s"count: $r")
    assert(r.getString(1) == "1995-01-01T00:00:00.000000", s"min: $r")
    assert(r.getString(2) == "1998-01-01T00:00:00.000000", s"max: $r")
    // composes with a fully-pushed filter: partials are over SURVIVORS
    val filtered = load(dir)
      .filter($"issue_date" >= "1996-01-01")
      .agg(count(lit(1)).as("n"), max($"pin_list").as("mp"))
    val fplan = filtered.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedAggregates=[COUNT(*), MAX(pin_list)]"), fplan)
    val fr = filtered.collect().head
    assert(fr.getLong(0) == 3L && fr.getString(1) == "444", s"filtered agg: $fr")
    // grouped aggregation is NOT pushed — stays an honest row scan
    val grouped = load(dir).groupBy($"pin_list").count()
    val gplan = grouped.queryExecution.executedPlan.toString
    assert(!gplan.contains("PushedAggregates"), gplan)
    assert(grouped.collect().map(_.getLong(1)).sum == 5L)
  }

  test("multi-file limit stays exact: partitions over-supply, Spark's residual limit trims") {
    val dir = writeFixture()
    // second file: the per-partition bound means the scan may emit up to
    // 2×limit rows, but the query result is exactly `limit`
    val extra = Seq(
      """{"permit_":"P4","issue_date":"1997-01-01T00:00:00.000000","pin_list":"444"}""",
      """{"permit_":"P5","issue_date":"1998-01-01T00:00:00.000000","pin_list":"555"}"""
    )
    Files.write(new java.io.File(dir, "part-1.json").toPath, extra.mkString("\n").getBytes)
    val df = load(dir).limit(3)
    assert(df.count() == 3)
    assert(scanOutputRows(load(dir).limit(3)) <= 6)
  }
}
