package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops._

/** The reference's third entry point (SURVEY.md §3.2:
  * chicago/legacy_permits/format_reviewed_permits_for_upload.py): ingest a
  * human-reviewed workbook, keep the rows a reviewer flagged for upload,
  * normalize, re-validate, and emit the 250-row-batched upload files plus a
  * QC copy of what was left behind.
  *
  * The reviewer's cell-fill flag (S5) is modeled as a boolean `flagged`
  * column — formatting metadata as data (SURVEY §2.1 S5). All the heavy
  * lifting reuses the §2 operator library; the chain is one lazy plan per
  * output.
  */
object ReviewIngestPipeline {

  /** A4: global date range of the sheet's parseable issue dates
    * (format_reviewed…py:149-169) — drives the output file naming in the
    * reference; exposed here as a 1-row frame.
    */
  def dateRange(sheet: DataFrame, dateCol: String): DataFrame =
    sheet.agg(
      date_format(min(TimeOps.parseFlexible(col(dateCol))), "yyyy-MM-dd").as("start_date"),
      date_format(max(TimeOps.parseFlexible(col(dateCol))), "yyyy-MM-dd").as("end_date")
    )

  /** §3.2 steps 4–5 up to the flagged frame: flag-filter → F4 normalize →
    * legacy flag suite — the shared parent of the upload and review sides.
    * Lazy: a single-side caller composes it with
    * `LegacyPipeline.splitFinal`; [[run]] returns lazy sides that each
    * re-evaluate it.
    */
  def runFlagged(sheet: DataFrame, universe: DataFrame): DataFrame = {
    // S5: the reviewer's fill-color predicate
    val accepted = sheet.filter(col("flagged")).drop("flagged")
    // F4 + F15: normalize pins (py twin — this flow is the python script,
    // so non-digits strip and null becomes ""), render dates for upload
    val normalized = accepted
      .withColumn("pin", PinOps.normalizePinPy(col("pin")))
      .withColumn(
        "issue_date",
        TimeOps.renderMDYPadded(TimeOps.parseFlexible(col("issue_date")))
      )
    LegacyPipeline.flagFinal(normalized, universe)
  }

  /** QC copy: the original minus flagged rows (format_reviewed…py:86-120). */
  def qcCopy(sheet: DataFrame): DataFrame =
    sheet.filter(!col("flagged")).drop("flagged")

  /** §3.2 steps 4–5: flag-filter → F4 normalize → legacy flag validation →
    * (batched upload, review-with-flags, qc copy of unflagged rows).
    */
  def run(
      sheet: DataFrame,
      universe: DataFrame
  ): (DataFrame, DataFrame, DataFrame) = {
    val (upload, review) = LegacyPipeline.splitFinal(runFlagged(sheet, universe))
    (upload, review, qcCopy(sheet))
  }
}
