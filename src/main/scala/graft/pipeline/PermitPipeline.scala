package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.PermitColumns
import graft.ops._

/** The reference's production pipeline (chicago/permit_cleaning.py:1138-1230,
  * traced in SURVEY.md §3.1) rebuilt as ONE lazy composition of the engine's
  * operators: Catalyst sees the whole chain and fuses it into a handful of
  * codegen'd stages split only at the broadcast joins — versus the
  * reference's eager stage-per-assignment pandas chain.
  *
  * Inputs are reference-shaped DataFrames (FIXTURES.md A1–A3); at 100 TB the
  * permits side streams through map stages, the universe/existing sides are
  * broadcast dimensions.
  */
object PermitPipeline {

  /** Steps 5–6 of §3.1: explode pin_list, normalize pins, organize columns,
    * abbreviate applicants, round amounts — all map-side, no shuffle.
    */
  def cleanPermits(raw: DataFrame): DataFrame = {
    // X1: one row per (permit, PIN), NA pin_list preserved, 1-based position
    val exploded = ReshapeOps
      .explodeDelimited(raw, col("pin_list"), " \\| ", "solo_pin", "pin_pos")
      .withColumn("pin_type", concat(lit("pin"), col("pin_pos")))
    // F1/F3: iasWorld format drops hyphens; pad 10-digit pins
    val pinned = exploded.withColumn(
      "pin_final",
      PinOps.padPin(PinOps.stripHyphens(col("solo_pin")))
    )
    // F7 + F13/F15: address concat (pandas " ".join semantics) + date render
    val addressed = pinned
      .withColumn(
        "Address",
        TextOps.addressConcat(col("street_number"), col("street_direction"), col("street_name"))
      )
      .withColumn("issue_date", TimeOps.renderMDY(TimeOps.parseIsoMicros(col("issue_date"))))
      .withColumn("city_state", lit("CHICAGO, IL"))
    // P1: registry-driven rename/select, missing columns added as null
    val renamed = addressed.select(
      PermitColumns.renameMap.map { case (from, to) =>
        (if (addressed.columns.contains(from)) col(from) else lit(null)).as(to)
      }: _*
    )
    // F8 + F18
    renamed
      .withColumn("applicant", TextOps.abbreviationFold(col("applicant")))
      .withColumn("amount", bround(col("amount").try_cast("double")).cast("long"))
  }

  /** Step 6 tail (§3.1): suggested-PINs broadcast join (A1+J1), keyword
    * tagging (F11). The address→PINs map is pre-aggregated BEFORE the join
    * (reference :754-767) so one address with many PINs cannot fan out rows.
    */
  def addSuggestedPins(permits: DataFrame, universe: DataFrame): DataFrame = {
    val pinMap = ReshapeOps.groupConcatDistinct(
      universe.filter(col("prop_address_full").isNotNull),
      Seq(col("prop_address_full")),
      col("pin"),
      col("pin"),
      "suggested_pins"
    )
    permits
      // the registry projection already emitted a null `suggested_pins`
      // placeholder (P1 adds absent columns as null) — drop it before the
      // join introduces the real one, or the reference is ambiguous
      .drop("suggested_pins")
      .join(broadcast(pinMap), col("applicant_street_address") === col("prop_address_full"), "left")
      .withColumn("suggested_pins", coalesce(col("suggested_pins"), lit("")))
      .withColumn("property_address", col("applicant_street_address"))
      .drop("prop_address_full")
      // F12 decoration exactly where the reference applies it (:783-806):
      // CookViewer search link on the inserted property_address, assessor
      // link on single-PIN suggestions (fillna ran first, so empty stays
      // empty — the NO PIN FOUND branch is reachable only for true nulls)
      .withColumn("property_address", TextOps.addressHyperlink(col("property_address")))
      .withColumn("suggested_pins", TextOps.pinHyperlink(col("suggested_pins")))
      .transform(TextOps.withKeywordTag(_, col("work_description"), "matched_keywords"))
  }

  /** Step 7 (§3.1): J4 dedupe against warehouse rows — canonicalize the 7
    * keys (F19/F9/F10), anti-join with a broadcast, null-safe key equality
    * (pandas NaN==NaN merge semantics, SURVEY §7.4).
    */
  def dedupeAgainstExisting(permits: DataFrame, existing: DataFrame): DataFrame = {
    val canon = permits
      .withColumn("parid", col("pin"))
      .withColumn("permdt", TimeOps.renderPermdt(TimeOps.parseFlexible(col("issue_date"))))
      .withColumn("amount_key", col("amount").cast("decimal(38,2)"))
      .withColumn("note2", TextOps.addrDedupeKey(col("applicant_street_address")))
      .withColumn("user21", col("applicant"))
      .withColumn("user28", col("permit_no"))
      .withColumn("user43", TextOps.smartfileCanon(col("work_description")))
    val keyed = canon.withColumnRenamed("amount_key", "amount_canon")
    val existingKeys = existing
      .withColumnRenamed("amount", "amount_canon")
      .select("parid", "permdt", "amount_canon", "note2", "user21", "user28", "user43")
    LinkOps
      .antiDedupe(keyed, existingKeys,
        Seq("parid", "permdt", "amount_canon", "note2", "user21", "user28", "user43"))
      .drop("parid", "permdt", "amount_canon", "note2", "user21", "user28", "user43")
  }

  /** Step 8 head (§3.1): universe membership as a broadcast left join
    * producing the `pin_in_universe` flag, then the §2.10 rule suite as an
    * `errors` array — the SHARED parent both partitions filter. [[run]]
    * evaluates it once for both sides; a single-side caller composes
    * [[runFlagged]] + [[partitionFlagged]] and stays fully lazy.
    */
  def flag(permits: DataFrame, universe: DataFrame): DataFrame = {
    val u = broadcast(
      universe.select(PinOps.zfill14(col("pin")).as("u_pin")).distinct()
        .withColumn("pin_in_universe", lit(true))
    )
    val joined = permits.join(u, PinOps.membershipKey(col("pin")) === col("u_pin"), "left")
    val rules = PermitColumns.rules :+
      ValidateOps.Rule("pin_not_in_universe", "PIN is invalid", col("pin_in_universe").isNull)
    ValidateOps.withErrors(joined, rules)
  }

  /** Step 8 tail: split a [[flag]]-ed frame into (upload, review)
    * (chicago/permit_cleaning.py:427-452).
    */
  def partitionFlagged(flagged: DataFrame): (DataFrame, DataFrame) = (
    flagged.filter(size(col("errors")) === 0)
      .drop("errors", "u_pin", "pin_in_universe"),
    flagged.filter(size(col("errors")) > 0).drop("u_pin", "pin_in_universe")
  )

  /** Step 8 (§3.1): §2.10 validate-and-partition. */
  def partition(permits: DataFrame, universe: DataFrame): (DataFrame, DataFrame) =
    partitionFlagged(flag(permits, universe))

  /** Full §3.1 chain up to the flagged frame (one lazy plan). */
  def runFlagged(
      raw: DataFrame,
      universe: DataFrame,
      existing: Option[DataFrame]
  ): DataFrame = {
    val cleaned = addSuggestedPins(cleanPermits(raw), universe)
    val deduped = existing.fold(cleaned)(e => dedupeAgainstExisting(cleaned, e))
    flag(deduped, universe)
  }

  /** Full §3.1 chain, both sides (chicago/permit_cleaning.py:1138-1230
    * validates a batch once, then splits it). The flagged parent is
    * checkpointed lazily, so whichever side a caller materializes first
    * computes the chain once into the block store and the other side reads
    * that copy back; the blocks are freed once both frames are dropped.
    * Physical planning (and AQE's universe-side broadcast stages) runs
    * here, at call time.
    */
  def run(
      raw: DataFrame,
      universe: DataFrame,
      existing: Option[DataFrame]
  ): (DataFrame, DataFrame) =
    partitionFlagged(runFlagged(raw, universe, existing).localCheckpoint(false))
}
