package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension bundle, registered via the public
  * `spark.sql.extensions` hook (every graft entry point sets it):
  *
  *   - `graft_occ_counts(text, array(terms...))` → `array<bigint>`:
  *     allocation-free multi-term occurrence counting
  *     ([[graft.functions.OccurrenceCounts]]) — the native fast path under
  *     the TextStats lexicon scoring.
  *   - `graft_nfc(text)` → Unicode NFC normalization with an ASCII
  *     fast path ([[graft.functions.NfcNormalize]]) — canonicalization
  *     before digest-keyed dedup, absent from Spark's built-ins.
  *   - `graft_dot(a, b)` → allocation-free quantized dot product
  *     ([[graft.functions.ArrayDot]]) — the per-candidate-pair hot loop
  *     under every similarity ranking; bit-identical to the HOF fold it
  *     replaces.
  *   - `graft_param(bigint constant)` → the same value as a parameter of
  *     the generated code ([[graft.functions.LongParam]]), so the index
  *     era stamps compile once per plan shape.
  *
  * Everything else in the engine is deliberately built-in column algebra;
  * an entry earns a place here only with a measured win over the best
  * built-in formulation (see SCALING.md).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_occ_counts"),
        new ExpressionInfo(
          classOf[graft.functions.OccurrenceCounts].getName,
          "graft_occ_counts"
        ),
        (children: Seq[Expression]) =>
          graft.functions.OccurrenceCounts(children(0), children(1))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_dot"),
        new ExpressionInfo(
          classOf[graft.functions.ArrayDot].getName,
          "graft_dot"
        ),
        (children: Seq[Expression]) =>
          graft.functions.ArrayDot(children(0), children(1))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_dotl"),
        new ExpressionInfo(
          classOf[graft.functions.ArrayDotLong].getName,
          "graft_dotl"
        ),
        (children: Seq[Expression]) =>
          graft.functions.ArrayDotLong(children(0), children(1))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_l2sq"),
        new ExpressionInfo(
          classOf[graft.functions.ArrayL2SqAll].getName,
          "graft_l2sq"
        ),
        (children: Seq[Expression]) =>
          graft.functions.ArrayL2SqAll(children(0), children(1))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_adc"),
        new ExpressionInfo(
          classOf[graft.functions.ArrayAdcSum].getName,
          "graft_adc"
        ),
        (children: Seq[Expression]) =>
          graft.functions.ArrayAdcSum(children(0), children(1))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_nfc"),
        new ExpressionInfo(
          classOf[graft.functions.NfcNormalize].getName,
          "graft_nfc"
        ),
        (children: Seq[Expression]) => graft.functions.NfcNormalize(children(0))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_inter_sorted_l"),
        new ExpressionInfo(
          classOf[graft.functions.SortedIntersectCountLong].getName,
          "graft_inter_sorted_l"
        ),
        (children: Seq[Expression]) =>
          graft.functions.SortedIntersectCountLong(children(0), children(1))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_md5_lanes"),
        new ExpressionInfo(
          classOf[graft.functions.Md5Lanes].getName,
          "graft_md5_lanes"
        ),
        (children: Seq[Expression]) => graft.functions.Md5Lanes(children(0))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_inter_sorted"),
        new ExpressionInfo(
          classOf[graft.functions.SortedIntersectCount].getName,
          "graft_inter_sorted"
        ),
        (children: Seq[Expression]) =>
          graft.functions.SortedIntersectCount(children(0), children(1))
      )
    )
    ext.injectFunction(
      (
        new FunctionIdentifier("graft_param"),
        new ExpressionInfo(
          classOf[graft.functions.LongParam].getName,
          "graft_param"
        ),
        graft.functions.LongParam.build _
      )
    )
  }
}
