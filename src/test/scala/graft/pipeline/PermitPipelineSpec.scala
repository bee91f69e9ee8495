package graft.pipeline

import graft.SparkSpecBase
import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** End-to-end §3.1 chain on reference-shaped micro-fixtures. */
class PermitPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  // Socrata-shaped raw permits (FIXTURES.md A1): all strings
  private def raw = Seq(
    // permit_, issue_date, street_number, street_direction, street_name,
    // work_description, reported_cost, contact_1_name, pin_list
    ("P1", "2024-03-05T00:00:00.000000", "100", "W", "MADISON ST",
     "New garage construction", "5000", "ACME BUILDING COMPANY", "12-34-567-890-1234 | 9876543210"),
    ("P2", "2024-03-06T00:00:00.000000", "200", "N", "STATE ST",
     "Window replacement", "100.5", "JOHN DOE", null),
    ("P3", "2024-03-07T00:00:00.000000", "300", null, "OAK AVE",
     "Demolition of coach house", "nope", "JANE ROE", "99999999999999")
  ).toDF("permit_", "issue_date", "street_number", "street_direction", "street_name",
         "work_description", "reported_cost", "contact_1_name", "pin_list")

  private def universe = Seq(
    ("12345678901234", "1234567890", "100 W MADISON ST"),
    ("98765432100000", "9876543210", "200 N STATE ST")
  ).toDF("pin", "pin10", "prop_address_full")

  test("cleanPermits explodes pins, normalizes, renames to the registry contract") {
    val out = PermitPipeline.cleanPermits(raw)
    // P1 has 2 pins, P2 has null list (1 row), P3 has 1 → 4 rows
    assert(out.count() == 4)
    assert(out.columns.contains("pin") && out.columns.contains("applicant"))
    val p1pins = strings(out.filter($"permit_no" === "P1"), "pin").sorted
    assert(p1pins == Seq("12345678901234", "98765432100000")) // hyphens stripped, 10→14 padded
    // F8: BUILDING→BLDG, COMPANY→CO
    assert(strings(out.filter($"permit_no" === "P1"), "applicant").head == "ACME BLDG CO")
    // F18: 100.5 rounds HALF_EVEN → 100 (pandas parity via bround; HALF_UP
    // round() would give 101)
    assert(out.filter($"permit_no" === "P2").select($"amount").collect().head.getLong(0) == 100L)
    // non-numeric cost coerces to null
    assert(out.filter($"permit_no" === "P3").select($"amount").collect().head.isNullAt(0))
  }

  test("addSuggestedPins joins the collapsed address→pins map and tags keywords") {
    val out = PermitPipeline.addSuggestedPins(PermitPipeline.cleanPermits(raw), universe)
    val p1 = out.filter($"permit_no" === "P1").collect().head
    // single suggested PIN gets the assessor-link decoration (F12)
    assert(p1.getAs[String]("suggested_pins") ==
      "=HYPERLINK(\"https://www.cookcountyassessoril.gov/pin/12345678901234\", \"12345678901234\")")
    assert(p1.getAs[String]("property_address").startsWith("=HYPERLINK(\"https://maps.cookcountyil.gov"))
    assert(p1.getAs[String]("matched_keywords") == "Construction, Garage, New")
    val p3 = out.filter($"permit_no" === "P3").collect().head
    assert(p3.getAs[String]("suggested_pins") == "") // address not in universe
    assert(p3.getAs[String]("matched_keywords") == "Demolition, Coach")
  }

  test("full run partitions into upload (valid) and review (errors)") {
    val (upload, review) = PermitPipeline.run(raw, universe, existing = None)
    val total = upload.count() + review.count()
    assert(total == 4)
    // P1's two pins are in-universe with valid fields → upload
    assert(strings(upload, "permit_no").forall(_ == "P1"))
    // P2 (null pin) and P3 (pin not in universe, bad amount) → review
    val reviewPermits = strings(review, "permit_no").toSet
    assert(reviewPermits == Set("P2", "P3"))
    assert(review.columns.contains("errors"))
  }

  private def cleaned = PermitPipeline.addSuggestedPins(PermitPipeline.cleanPermits(raw), universe)

  // fabricate an existing table matching P1/pin1's canonical keys exactly
  private def existing = cleaned
    .filter($"permit_no" === "P1" && $"pin" === "12345678901234")
    .select(
      $"pin".as("parid"),
      graft.ops.TimeOps.renderPermdt(graft.ops.TimeOps.parseFlexible($"issue_date")).as("permdt"),
      $"amount".cast("decimal(38,2)").as("amount"),
      graft.ops.TextOps.addrDedupeKey($"applicant_street_address").as("note2"),
      $"applicant".as("user21"),
      $"permit_no".as("user28"),
      graft.ops.TextOps.smartfileCanon($"work_description").as("user43")
    )

  test("dedupeAgainstExisting drops rows already in the warehouse") {
    val out = PermitPipeline.dedupeAgainstExisting(cleaned, existing)
    assert(out.count() == cleaned.count() - 1)
  }

  /** FileSourceScanExec nodes over `dir` in a frame's plan, AQE stages included. */
  private def scansOf(df: DataFrame, dir: String): Int =
    new AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.endsWith(dir)) => s
      }
      .length

  test("run evaluates the batch once for both the upload sink and the review read") {
    val dir = tempDir("permit_pipeline_spec")
    raw.write.json(s"$dir/permits")
    val permits = spark.read.schema(raw.schema).json(s"$dir/permits")
    Seq(None, Some(existing)).zipWithIndex.foreach { case (ex, k) =>
      val (upload, review) = PermitPipeline.run(permits, universe, ex)
      Sources.writeBatched(upload, s"$dir/upload_$k", maxRecords = 10000)
      val reviewRows = rows(review)
      // neither action re-reads the JSON: both read the one evaluation back
      assert(scansOf(upload, "/permits") == 0 && scansOf(review, "/permits") == 0,
        s"existing=$ex: a side re-scans the permits source")
      val (up0, rev0) =
        PermitPipeline.partitionFlagged(PermitPipeline.runFlagged(permits, universe, ex))
      assert(scansOf(up0, "/permits") == 1 && scansOf(rev0, "/permits") == 1)
      assert(rows(spark.read.parquet(s"$dir/upload_$k")) == rows(up0), s"existing=$ex")
      assert(reviewRows == rows(rev0), s"existing=$ex")
      assert(rows(up0).nonEmpty && reviewRows.nonEmpty)
    }
  }
}
