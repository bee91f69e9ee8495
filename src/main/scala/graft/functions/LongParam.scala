package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{DataType, LongType}

/** A per-call long constant as a PARAMETER of the generated code: the
  * value travels in the generated class's `references` array instead of
  * being inlined into its Java source, so two plans that differ only in
  * this value compile to byte-identical code and share one compiled class
  * through Spark's codegen cache.
  *
  * Use it where a plan writes a value that changes on every call (the
  * index era stamps of [[graft.ext.BucketedIndex]]). `lit` stays right
  * for filter bounds: a parameter is not foldable, so it never reaches
  * parquet pushdown or constant folding.
  *
  * The value is part of the expression's identity: its string form and
  * `semanticHash` carry it, so plan-keyed memos ([[graft.Memo.planFrame]])
  * still tell two values apart.
  */
case class LongParam(value: Long) extends LeafExpression {

  override def dataType: DataType = LongType

  override def nullable: Boolean = false

  override def prettyName: String = "graft_param"

  override def sql: String = s"$prettyName(${value}L)"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", java.lang.Long.valueOf(value), "java.lang.Long")
    ev.copy(code = code"final long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
  }
}

object LongParam {

  /** `value` as a column whose generated code reads it as a parameter
    * (`graft_param`, registered by [[graft.GraftExtensions]]).
    */
  def col(value: Long): Column = call_function("graft_param", lit(value))

  /** The `graft_param` builder: the literal argument becomes the
    * parameter's value and leaves the plan.
    */
  def build(children: Seq[Expression]): Expression = children match {
    case Seq(v) if v.foldable && v.dataType == LongType => LongParam(v.eval().asInstanceOf[Long])
    case _ => throw new IllegalArgumentException("graft_param expects one constant bigint")
  }
}
