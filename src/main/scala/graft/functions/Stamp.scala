package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A BIGINT constant that generated code reads from its `references`
  * array instead of inlining it.
  *
  * Spark keys its compiled-class cache on the generated source text, and
  * a `Literal` is spliced into that text (`1048576L`). A value that
  * changes on every call — the `_version` a CDC micro-batch stamps on its
  * rows — therefore makes every batch compile its write stage afresh
  * (4 classes per table per batch, measured with Spark 4.1). This leaf
  * is not foldable, so the optimizer keeps it out of `Literal`, and its
  * generated code is the same for every value: consecutive batches reuse
  * one compiled class and pass their own version in `references`.
  * Evaluated or generated, it yields exactly `value`.
  */
final case class Stamp(value: Long) extends LeafExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_stamp"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stamp", java.lang.Long.valueOf(value),
      "java.lang.Long")
    ev.copy(isNull = FalseLiteral,
      code = code"final long ${ev.value} = $ref.longValue();")
  }
}
