package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.types.DataType

/** A constant of a primitive type (BIGINT `_version`, an integral key)
  * that generated code reads from its `references` array instead of
  * inlining it.
  *
  * Spark keys its compiled-class cache on the generated source text, and
  * a `Literal` is spliced into that text (`1048576L`). A value that
  * changes on every call — the `_version` a CDC micro-batch stamps on its
  * rows, the key of a point lookup — therefore makes every call compile
  * its stage afresh (4 classes per table per batch, 2 per lookup,
  * measured with Spark 4.1). This leaf is not foldable, so the optimizer
  * keeps it out of `Literal`, and its generated code is the same for
  * every value: consecutive calls reuse one compiled class and pass
  * their own value in `references`. The class loads it into a field once,
  * when it is initialised, not once per row. Evaluated or generated, it
  * yields exactly `value` (Spark's internal form of a `dataType` value).
  */
final case class Stamp(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && CodeGenerator.isPrimitiveType(dataType),
    s"graft_stamp holds a non-null primitive, got $value: $dataType")

  override def nullable: Boolean = false
  override def prettyName: String = "graft_stamp"

  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("stamp", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "stamp",
      v => s"$v = $ref.${javaType}Value();", forceInline = true)
    ev.copy(isNull = FalseLiteral, code = EmptyBlock,
      value = JavaCode.global(field, dataType))
  }
}
