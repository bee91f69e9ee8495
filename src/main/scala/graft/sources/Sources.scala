package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Source/sink surface (SURVEY.md §2.1).
  *
  * The reference's scans are HTTP JSON (Socrata, S1), warehouse SQL (Athena,
  * S2), CSV cache (S3) and XLSX (S4/S5). Engine equivalents: schema-pinned
  * JSON/CSV readers (schemas forced to string where leading zeros matter);
  * the CSV memo itself is a [[graft.Memo.once]] build (`s3_csv_roundtrip`).
  */
object Sources {

  /** Socrata-style permit payload schema: everything arrives as strings
    * (FIXTURES.md A1; chicago/permit_cleaning.py:539-554).
    */
  val permitsRawSchema: StructType = StructType(
    Seq(
      "permit_", "issue_date", "street_number", "street_direction",
      "street_name", "work_description", "reported_cost", "contact_1_name",
      "pin_list"
    ).map(StructField(_, StringType, nullable = true))
  )

  /** PIN-universe schema — PINs must never be numeric (leading zeros,
    * chicago/permit_cleaning.py:1161-1164).
    */
  val pinUniverseSchema: StructType = StructType(
    Seq("pin", "pin10", "prop_address_full").map(StructField(_, StringType, nullable = true))
  )

  /** S1: JSON array scan with pinned schema (no inference pass — a schema
    * inference scan doubles the read at scale).
    */
  def readPermitsJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(permitsRawSchema).json(path)

  /** S3 read: CSV with forced string dtypes (the reference's
    * `dtype={"pin": "string"}` cache read, chicago/permit_cleaning.py:1158-1164).
    */
  def readPinUniverseCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(pinUniverseSchema).option("header", "true").csv(path)

  /** S3 write twin. */
  def writePinUniverseCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** S8: batched sink — at most `maxRecords` rows per output file
    * (format_reviewed_permits_for_upload.py:214-216). Uses the native
    * writer option instead of a window bucket when per-file numbering is
    * not needed.
    */
  def writeBatched(df: DataFrame, path: String, maxRecords: Int): Unit =
    df.write.mode("overwrite").option("maxRecordsPerFile", maxRecords.toLong).parquet(path)

  /** Bucketed table write: co-locates both sides of a recurring equi-join so
    * the join plans with ZERO exchanges (the 100 TB answer to "this join
    * runs every day on the same keys"). Requires `saveAsTable` (bucketing
    * metadata lives in the catalog).
    */
  def writeBucketed(df: DataFrame, table: String, buckets: Int, key: String, moreKeys: String*): Unit = {
    val s = df.sparkSession
    // The name flows into both SQL and a recursive delete: restrict it to a
    // plain unqualified identifier (a qualified `db.tbl` would resolve to a
    // different path than the string concat below would guess).
    require(
      table.matches("[A-Za-z0-9_]+"),
      s"writeBucketed requires a plain unqualified table name, got '$table'"
    )
    // DROP TABLE removes a MANAGED table's data itself and leaves an
    // EXTERNAL table's data alone — never delete a location we didn't
    // resolve through the catalog.
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    // A failed earlier write can leave the default location behind with no
    // catalog entry, and saveAsTable refuses such a leftover directory.
    // Resolve that location through the catalog (not string concat) and
    // delete it via the Hadoop FileSystem for its scheme, so hdfs://- or
    // s3a://-backed warehouses work too.
    val stale = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table))
    )
    val fs = stale.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(stale)) fs.delete(stale, true)
    df.write
      .mode("overwrite")
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .format("parquet")
      .saveAsTable(table)
  }

  /** APPEND into an existing [[writeBucketed]] table with the same bucket
    * spec — the maintenance half of a persisted-index cycle (new rows
    * arrive encoded, the table is never rebuilt). Each append adds its
    * own file set per bucket id; a multi-file bucket still scans with the
    * bucketed OUTPUT PARTITIONING (no exchange on the index side of a
    * bucket-key join) — only the per-file sort guarantee weakens, which a
    * downstream sort-merge join re-establishes locally. The bucket count
    * and keys must match the table's existing spec (saveAsTable validates
    * on append).
    */
  def appendBucketed(df: DataFrame, table: String, buckets: Int, key: String, moreKeys: String*): Unit =
    df.write
      .mode("append")
      .bucketBy(buckets, key, moreKeys: _*)
      .sortBy(key, moreKeys: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Delete a table's DEFAULT warehouse location when the catalog does
    * not know the table — the leftover-directory case [[writeBucketed]]
    * handles inline, factored out for every derived-table writer
    * (tombstone tables, compaction stages): a write that failed after
    * creating files leaves a directory the catalog never recorded, and
    * `saveAsTable` would either refuse the stale dir or silently adopt
    * its rows as data. A catalog that DOES know the table is left alone —
    * then the files are the table.
    */
  private[graft] def dropStaleLocation(s: SparkSession, table: String): Unit =
    if (!s.catalog.tableExists(table)) {
      val p = new org.apache.hadoop.fs.Path(
        s.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(table)))
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true): Unit
    }

  /** BUCKET-PRESERVING compaction of a [[writeBucketed]] table: rewrite
    * the accumulated per-append file sets back to AT MOST ONE FILE PER
    * BUCKET without changing the bucket hashing — every downstream
    * bucket-key join stays exchange-free on the index side, but the
    * listing/open cost stops growing with maintenance cycles (N appends ⇒
    * N files per bucket; [[graft.ops.LayoutOps.compact]] would merge the
    * files but DESTROY the bucket layout — this keeps both).
    *
    * `content` is the frame to survive the rewrite — normally
    * `s.table(table)`, or the tombstone-filtered live view when
    * compaction also folds in deletes. It necessarily READS the table
    * being overwritten, so the rewrite stages through a scratch catalog
    * table first (plain parquet), then rewrites the target from the
    * stage. Two sequential full copies is compaction's inherent cost —
    * never done per query, only per maintenance epoch.
    *
    * One file per bucket: the stage scan is `repartition(buckets, keys)`
    * — Spark's bucket id IS `pmod(murmur3(keys), buckets)`, the same
    * function hash-repartitioning applies, so each write task holds
    * exactly one bucket's rows and emits exactly one file (an empty
    * bucket emits none). The explicit numPartitions keeps AQE from
    * coalescing the alignment away.
    */
  def compactBucketed(
      s: SparkSession,
      table: String,
      buckets: Int,
      keys: Seq[String],
      content: DataFrame
  ): Unit = {
    require(keys.nonEmpty, "compactBucketed needs at least one bucket key")
    require(
      table.matches("[A-Za-z0-9_]+"),
      s"compactBucketed requires a plain unqualified table name, got '$table'"
    )
    val stage = table + "__compact_stage"
    s.sql(s"DROP TABLE IF EXISTS `$stage`")
    dropStaleLocation(s, stage) // a failed earlier compaction's leftover stage dir
    content.write.mode("overwrite").format("parquet").saveAsTable(stage)
    import org.apache.spark.sql.functions.col
    val realigned = s.table(stage).repartition(buckets, keys.map(col): _*)
    writeBucketed(realigned, table, buckets, keys.head, keys.tail: _*)
    s.sql(s"DROP TABLE IF EXISTS `$stage`")
  }

  /** File count of a catalog table's storage directory — the compaction
    * observability hook ([[compactBucketed]]'s "done" signal): data files
    * only, markers/_SUCCESS excluded.
    */
  def tableFileCount(s: SparkSession, table: String): Int = {
    val path = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) 0
    else
      fs.listStatus(path)
        .count(st => st.isFile && !st.getPath.getName.startsWith("_"))
  }

  /** S9 (packaging half): zip a sink output directory into ONE archive —
    * the engine twin of the reference's `zip -r` CI step
    * (.github/workflows/extract-chicago-permits.yaml:86-96).
    * DETERMINISTIC: entries are added in sorted relative-path order with a
    * fixed timestamp, so the same input directory produces byte-identical
    * archives (a content-addressable artifact — same bytes ⇒ same upload).
    * The S3 upload + SNS notify halves stay in CI per SURVEY §2.1: they
    * are network boundaries, not data operators.
    */
  def zipDirectory(dir: String, zipPath: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    require(java.nio.file.Files.isDirectory(root), s"$dir is not a directory")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    val files =
      try walk.iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p))
        .map(p => root.relativize(p).toString.replace('\\', '/') -> p)
        .toVector.sortBy(_._1)
      finally walk.close()
    val target = java.nio.file.Paths.get(zipPath)
    Option(target.getParent).foreach(java.nio.file.Files.createDirectories(_))
    val out = new java.util.zip.ZipOutputStream(java.nio.file.Files.newOutputStream(target))
    try files.foreach { case (rel, p) =>
      val e = new java.util.zip.ZipEntry(rel)
      e.setTime(0L) // fixed mtime: reproducible archive bytes
      out.putNextEntry(e)
      java.nio.file.Files.copy(p, out)
      out.closeEntry()
    } finally out.close()
  }

  /** Partition-pruned layout sink: `partitionBy` columns become the
    * directory layout, so equality/range predicates on them prune whole
    * directories at PLANNING time (`PartitionFilters` in the scan — zero
    * bytes read from non-qualifying partitions). The 100 TB counterpart of
    * the date-range filter: a year/date-partitioned warehouse makes P7
    * touch only the qualifying year's files.
    */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)
}
