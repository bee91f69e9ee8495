package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops._

/** The reference's legacy backfill family (SURVEY.md §3.3:
  * chicago/legacy_permits/2021|2022|2023/format_legacy_*.R + helper.R/py)
  * rebuilt as one lazy plan over wide legacy sheets:
  *
  * wide PIN1..PINn sheet → X2 unpivot → F4 PIN normalize → F16 Excel-serial
  * date → J3 crosswalk remap (+P12 reinstated-note coalesce, 2023) → P10
  * zero-PIN blacklist (2022) → A6 first-per-group dedupe → legacy
  * flag-column validation (helper.py:110-173, the py twin is canonical per
  * SURVEY §7.4) → upload/review split with W2 row numbering.
  *
  * All map-side except the A6 window (one shuffle on (pin, permit_no)) and
  * the broadcast crosswalk join.
  */
object LegacyPipeline {

  /** X2 + U1: exact twin of expand_pins (helper.R:40-62). The sheet carries
    * a PRIMARY pin column (`pin`, the select-renamed PIN1) plus extra wide
    * `PIN\d+` columns; the two are asymmetric:
    *   - long side: pivot the EXTRA columns, dropping NA values, each
    *     surviving extra OVERWRITING the primary pin (helper.R:46-55)
    *   - bind_rows with the original rows minus the extra columns — the
    *     original row always survives with its primary pin, INCLUDING a
    *     null one (helper.R:56-59)
    *   - distinct (helper.R:60)
    * So a row with a null primary pin and extras yields the extra-pin rows
    * AND a null-pin row — not just the extras.
    */
  def expandPins(df: DataFrame, extraPinCols: Seq[String]): DataFrame = {
    val idCols = df.columns.filterNot(extraPinCols.contains).toSeq
    val long = ReshapeOps
      .unpivotWide(df.drop("pin"), idCols.filterNot(_ == "pin"), extraPinCols, "pin_slot", "pin")
      .drop("pin_slot")
    val originals = df.select(idCols.map(col): _*)
    long.unionByName(originals).distinct()
  }

  /** F4 + F16: normalize PIN shapes, convert Excel-serial issue dates
    * (2021/format_legacy_2021.R:33-42).
    */
  def normalize(df: DataFrame): DataFrame =
    df.withColumn("pin", PinOps.normalizePin(col("pin")))
      .withColumn(
        "issue_date",
        date_format(TimeOps.excelSerialToDate(col("date_serial")), "yyyy-MM-dd")
      )
      .drop("date_serial")

  /** J3 + P12: crosswalk PIN remap with fallback, then reinstated-note
    * overwrite (2023/format_legacy_2023.R:40-43,:69-73).
    */
  def applyCrosswalk(df: DataFrame, crosswalk: DataFrame): DataFrame = {
    val remapped = LinkOps.lookupRemap(df, crosswalk, "pin", "original_pin", "meta_pin")
    if (remapped.columns.contains("reinstated_note"))
      remapped
        .withColumn("notes", coalesce(col("reinstated_note"), col("notes")))
        .drop("reinstated_note")
    else remapped
  }

  /** Legacy finalize_columns — py twin canonical, reproduced EXACTLY
    * (helper.py:110-173, SURVEY §7.4):
    *   - valid_filled: every required column non-null (`notna` — an empty
    *     string COUNTS as filled, helper.py:117)
    *   - valid_pin: string length == 14, no digit-stripping (:119-121)
    *   - valid_permit: length ∈ {9, 10}, no trim (:122-127)
    *   - length caps addr 40 / note 2000 / name 50 (:128-137)
    *   - valid_amount: numeric-parseable AND < 2,147,483,647 — no lower
    *     bound, strict upper (:139-145) — and deliberately ABSENT from the
    *     valid_row conjunction (:155-164): the flag is shown to reviewers
    *     but does not gate upload
    *   - pin14_in_data: exact membership, no zfill at this stage (:147-149)
    *   - duplicate (PIN, Permit) pairs excluded (:151-153, keep=False)
    */
  private val FlagNames = Seq(
    "valid_filled", "valid_pin", "valid_permit", "valid_addr_len",
    "valid_note_len", "valid_name_len", "pin14_in_data", "not_duplicate"
  )

  /** The finalize head: universe join + dup flag + the legacy flag suite as
    * columns — the SHARED parent both split sides filter. Lazy, like
    * [[splitFinal]]'s sides: a caller that materializes both sides
    * evaluates it twice (only `PermitPipeline.run` shares one evaluation).
    */
  def flagFinal(
      df: DataFrame,
      universe: DataFrame,
      requiredCols: Seq[String] =
        Seq("pin", "permit_no", "issue_date", "amount", "address", "applicant", "notes")
  ): DataFrame = {
    val u = broadcast(universe.select(col("pin").as("u_pin")).distinct())
    val joined = df.join(u, col("pin") === col("u_pin"), "left")
    val dupFlagged = ReshapeOps.dupFlag(joined, Seq("pin", "permit_no"), "duplicate_pin_permit")
    // pandas astype(str) turns null into "nan" before length checks; the
    // Spark twin wraps each flag in coalesce(_, false/true) to match that
    // null behavior explicitly
    val present = requiredCols.filter(df.columns.contains)
    val flags: Seq[(String, Column)] = Seq(
      "valid_filled" -> present.map(c => col(c).isNotNull).reduce(_ && _),
      "valid_pin" -> coalesce(length(col("pin")) === 14, lit(false)),
      "valid_permit" -> coalesce(length(col("permit_no")).isin(9, 10), lit(false)),
      "valid_addr_len" -> coalesce(length(col("address")) <= 40, lit(true)),
      "valid_note_len" -> coalesce(length(col("notes")) <= 2000, lit(true)),
      "valid_name_len" -> coalesce(length(col("applicant")) <= 50, lit(true)),
      "pin14_in_data" -> col("u_pin").isNotNull,
      "not_duplicate" -> !col("duplicate_pin_permit")
    )
    require(flags.map(_._1) == FlagNames)
    ValidateOps
      .withFlags(dupFlagged, flags)
      // computed + shown, but NOT part of valid_row (helper.py:139-164)
      .withColumn(
        "valid_amount",
        col("amount").try_cast("double").isNotNull &&
          col("amount").try_cast("double") < 2147483647L
      )
      .drop("u_pin")
  }

  /** The finalize tail: split a [[flagFinal]]-ed frame into the 250-row
    * numbered upload batches and the review side.
    */
  def splitFinal(flagged: DataFrame): (DataFrame, DataFrame) = {
    val upload = flagged
      .filter(col("valid_row"))
      .drop(FlagNames ++ Seq("valid_row", "valid_amount", "duplicate_pin_permit"): _*)
    val review = flagged.filter(!col("valid_row"))
    (
      ReshapeOps.numberedBuckets(upload, Seq(col("permit_no"), col("pin")), 250, "bucket", "lline"),
      review
    )
  }

  /** Multi-year QC in one pass (verify_legacy_uploads.R:42-93): the
    * reference probes the SAME upload against each assessment year's
    * universe slice separately (vw_pin_universe is year-partitioned; the
    * probe joins on pin AND year, :27-29) and rbinds the per-year results.
    * Instead of re-running the upload chain once per year, the uploaded
    * pins are crossed with the probed years (a `bands`-style explode) and
    * ONE broadcast anti-join on (pin, year) against the year-tagged
    * universe resolves every (year, tab) result set in a single scan. (The
    * reference inlines the pins as a VALUES CTE to push each probe to
    * Athena, verify_legacy_uploads.R:6-34.)
    *
    * @param universeByYear (pin, year) — each year's universe slice
    */
  def findMissingPinsByYears(
      uploaded: DataFrame,
      universeByYear: DataFrame,
      years: Seq[String],
      tab: String
  ): DataFrame =
    uploaded
      .select(col("pin").as("meta_pin"))
      .distinct()
      .withColumn("year", explode(array(years.map(lit): _*)))
      .join(
        broadcast(universeByYear.select(col("pin").as("meta_pin"), col("year"))),
        Seq("meta_pin", "year"),
        "left_anti"
      )
      .select(col("meta_pin"), col("year"), lit(tab).as("tab"))

  /** Full §3.3 chain up to the flagged frame (one lazy plan). The sheet
    * carries a primary `pin` column; `extraPinCols` names the extra wide
    * PIN columns.
    */
  def runFlagged(
      sheet: DataFrame,
      extraPinCols: Seq[String],
      crosswalk: DataFrame,
      universe: DataFrame
  ): DataFrame = {
    val long = normalize(expandPins(sheet, extraPinCols))
    val remapped = applyCrosswalk(long, crosswalk)
      .filter(coalesce(col("pin"), lit("")) =!= "00000000000000") // P10 (2022)
    val deduped = ReshapeOps.firstPerGroup(
      remapped,
      Seq("pin", "permit_no"),
      // full-payload tiebreak: (pin, permit_no) groups can hold many rows
      // when both are blank/null, and the pick must be deterministic
      Seq(col("issue_date"), col("amount"), col("address"), col("notes"), col("applicant"))
    )
    flagFinal(deduped, universe)
  }

  /** Full §3.3 chain. */
  def run(
      sheet: DataFrame,
      extraPinCols: Seq[String],
      crosswalk: DataFrame,
      universe: DataFrame
  ): (DataFrame, DataFrame) = splitFinal(runFlagged(sheet, extraPinCols, crosswalk, universe))
}
