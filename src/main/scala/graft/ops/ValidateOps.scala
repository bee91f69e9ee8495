package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's signature operator: rule-based validate-and-partition
  * (SURVEY.md §2.10; chicago/permit_cleaning.py:427-452,
  * legacy_permits/helper.py:110-173).
  *
  * One pass computes an `errors: array<string>` column from a declarative
  * rule list; the two outputs are complementary filters over the SAME cached
  * plan — Spark evaluates the rule suite once per row inside whole-stage
  * codegen, and the split costs two scans of the cached result instead of a
  * row-wise Python loop.
  */
object ValidateOps {

  /** One validation rule: `fires` is true when the row is INVALID, in which
    * case `message` lands in the errors array (the Excel twin's per-column
    * IF(...) messages, chicago/permit_cleaning.py:113-124).
    */
  final case class Rule(name: String, message: String, fires: Column)

  /** Standard rules mirroring the reference's python_validator suite.
    * `chicago/permit_cleaning.py:178-181,:237-240,:264,:278,:303-307,
    * :347-350,:375-378`.
    */
  object Rules {
    private def blank(c: Column): Column =
      c.isNull || length(trim(c.cast("string"))) === 0

    def nonBlank(c: Column, what: String): Rule =
      Rule(s"missing_$what", s"Missing $what", blank(c))

    def pin14(c: Column): Rule =
      Rule(
        "pin_not_14",
        "PIN is not 14 digits",
        !blank(c) && length(replace(c, lit("-"), lit(""))) =!= 14
      )

    def maxLen(c: Column, n: Int, what: String): Rule =
      Rule(s"${what}_too_long", s"$what > $n characters", length(c) > n)

    /** amount must parse numeric and lie in [1, 2^31-1]
      * (chicago/permit_cleaning.py:303-307).
      */
    def amountRange(c: Column): Rule = {
      val v = c.cast("string").try_cast("double")
      Rule(
        "amount_invalid",
        "Amount must be a whole number between 1 and 2,147,483,647",
        blank(c) || v.isNull || v < 1 || v > 2147483647L
      )
    }

    def dateParses(c: Column): Rule =
      Rule(
        "date_unparseable",
        "Issue Date is not a valid date",
        !blank(c) && TimeOps.parseFlexible(c.cast("string")).isNull
      )
  }

  /** Append `errors` (array of fired rule messages, rule order preserved).
    * `array_except(array(when...), array(null))` compacts unfired slots.
    */
  def withErrors(df: DataFrame, rules: Seq[Rule], errCol: String = "errors"): DataFrame = {
    val slots = rules.map(r => when(r.fires, lit(r.message)))
    df.withColumn(errCol, array_compact(array(slots: _*)))
  }

  /** Partition into (upload, review): upload = no rule fired, review = at
    * least one, with the errors retained for the reviewer
    * (chicago/permit_cleaning.py:427-452). Both outputs are lazy filters
    * over one unshared plan, so materializing both evaluates the input
    * twice; a caller that needs both evaluates the flagged frame once, as
    * `PermitPipeline.run` does.
    */
  def partition(
      df: DataFrame,
      rules: Seq[Rule],
      errCol: String = "errors"
  ): (DataFrame, DataFrame) = {
    val flagged = withErrors(df, rules, errCol)
    (
      flagged.filter(size(col(errCol)) === 0).drop(errCol),
      flagged.filter(size(col(errCol)) > 0)
    )
  }

  /** The reference's dual-implementation contract (§2.10,
    * chicago/permit_cleaning.py:113-124): every validation rule exists twice
    * — a Python validator AND a generated Excel error formula — with a
    * documented obligation to keep them in sync. Here BOTH derive from the
    * same [[Rule]] list: the Column expression drives execution, and this
    * renders the reviewer-workbook formula string
    * (TEXTJOIN-of-IF over per-rule cell formulas,
    * chicago/permit_cleaning.py:897-908), so they cannot drift.
    *
    * `cellRefs` maps rule name -> the A1-style cell reference its column
    * occupies on the sheet.
    */
  def excelErrorFormula(rules: Seq[Rule], cellRefs: Map[String, String]): String = {
    val parts = rules.flatMap { r =>
      cellRefs.get(r.name).map { ref =>
        s"""IF(${excelPredicate(r, ref)},"${r.message}; ","")"""
      }
    }
    s"""=TEXTJOIN("",TRUE,${parts.mkString(",")})"""
  }

  private val MaxLenMsg = """.* > (\d+) characters""".r

  /** Formula-side predicate per rule family (the Excel twin of `fires`). */
  private def excelPredicate(r: Rule, ref: String): String = r.name match {
    case n if n.startsWith("missing_") => s"""LEN(TRIM($ref))=0"""
    case "pin_not_14"                  => s"""AND(LEN(TRIM($ref))>0,LEN(SUBSTITUTE($ref,"-",""))<>14)"""
    case n if n.endsWith("_too_long") =>
      val bound = r.message match { case MaxLenMsg(b) => b; case _ => "0" }
      s"""LEN($ref)>$bound"""
    case "amount_invalid"              => s"""OR(NOT(ISNUMBER($ref)),$ref<1,$ref>2147483647)"""
    case "date_unparseable"            => s"""AND(LEN(TRIM($ref))>0,NOT(ISNUMBER(DATEVALUE($ref))))"""
    case _                             => "FALSE" // engine-only rule (e.g. universe membership)
  }

  /** Legacy flag-column variant (helper.py:110-173): named boolean
    * `valid_*` columns plus their conjunction `valid_row`. The py twin is
    * canonical (SURVEY.md §7.4 twin-divergence adjudication).
    */
  def withFlags(df: DataFrame, flags: Seq[(String, Column)]): DataFrame = {
    val flagged = flags.foldLeft(df) { case (d, (name, ok)) => d.withColumn(name, ok) }
    flagged.withColumn("valid_row", flags.map(f => col(f._1)).reduce(_ && _))
  }
}
