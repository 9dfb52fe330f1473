package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Morton (Z-order) interleave of two 16-bit dimension values — the
  * multi-dimensional clustering key behind layout optimization.
  *
  * The engine's tables sort data files by ONE key (GraftTable's
  * `sortWithinPartitions(pk)`), so parquet row-group min/max stats prune
  * point lookups on that key only; a predicate on a second column scans
  * everything. The reference has the same single-axis layout (the
  * ClickHouse `ORDER BY` tuple prunes by prefix — selects on a non-prefix
  * column read the full table). Z-ordering interleaves the bits of two
  * normalized dimensions so that sorting by the single z value clusters
  * rows that are close in BOTH dimensions into the same files: each file's
  * [min,max] box per dimension stays narrow, and min/max pruning works for
  * point/range predicates on EITHER column. This is the standard
  * lakehouse `OPTIMIZE ... ZORDER BY` recipe (public Delta/Iceberg
  * feature; the bit-spread below is the textbook Morton-code twiddle).
  *
  * Semantics, chosen so a SQL oracle can mirror them bit-for-bit with
  * plain `&`/`|`/`<<` integer arithmetic:
  *  - inputs are masked to 16 bits (callers min-max-normalize a dimension
  *    to [0, 65535] first — rank or scale, their choice);
  *  - each input's bits spread to even positions via the mask cascade
  *    (0x00FF00FF → 0x0F0F0F0F → 0x33333333 → 0x55555555);
  *  - z = spread(x) | (spread(y) << 1), a long in [0, 2³²).
  *
  * Codegen'd: four shift-mask lines per side, no allocation — the layout
  * pass is a map-only projection that runs at scan speed over the full
  * table (the one place it must: computing z IS the 100 TB rewrite).
  */
final case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_zvalue"

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (integral(left.dataType) && integral(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName: both inputs must be integral, got " +
        s"${left.dataType.sql} / ${right.dataType.sql}")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZValue =
    copy(left = newLeft, right = newRight)

  private def toLong(v: Any): Long = v match {
    case b: Byte => b.toLong
    case s: Short => s.toLong
    case i: Int => i.toLong
    case l: Long => l
    case other => throw new IllegalStateException(s"unexpected input $other")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValue.interleave16(toLong(a), toLong(b))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val (x, y) = (ctx.freshName("zx"), ctx.freshName("zy"))
      s"""
         |long $x = ((long) $a) & 0xFFFFL;
         |$x = ($x | ($x << 8)) & 0x00FF00FFL;
         |$x = ($x | ($x << 4)) & 0x0F0F0F0FL;
         |$x = ($x | ($x << 2)) & 0x33333333L;
         |$x = ($x | ($x << 1)) & 0x55555555L;
         |long $y = ((long) $b) & 0xFFFFL;
         |$y = ($y | ($y << 8)) & 0x00FF00FFL;
         |$y = ($y | ($y << 4)) & 0x0F0F0F0FL;
         |$y = ($y | ($y << 2)) & 0x33333333L;
         |$y = ($y | ($y << 1)) & 0x55555555L;
         |${ev.value} = $x | ($y << 1);
       """.stripMargin
    })
}

object ZValue {

  /** Spread the low 16 bits of `v0` to the even bit positions. */
  def spread16(v0: Long): Long = {
    var v = v0 & 0xFFFFL
    v = (v | (v << 8)) & 0x00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0FL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }

  /** z = spread(x) | (spread(y) << 1) — reference form for specs. */
  def interleave16(x: Long, y: Long): Long =
    spread16(x) | (spread16(y) << 1)
}
