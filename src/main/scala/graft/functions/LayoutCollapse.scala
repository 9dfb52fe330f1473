package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet, ExprId, Expression, Literal, Murmur3Hash, NamedExpression, Pmod, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, RepartitionByExpression}
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.aggregate.{AggUtils, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_COL, REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The salt of the versioned store's file layout: which of
  * [[LayoutSalt.Ways]] writer tasks of its `_bucket` a key goes to,
  * `pmod(hash(key), Ways)`. A function of its own, not the inline
  * expression, so that [[LayoutCollapse]] can tell the store's layout
  * exchange from any other plan that hashes a column named `_salt`.
  */
final case class LayoutSalt(child: Expression) extends UnaryExpression {
  private lazy val impl = Pmod(new Murmur3Hash(Seq(child)), Literal(LayoutSalt.Ways))

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = impl.nullable
  override def prettyName: String = "graft_layout_salt"

  override def eval(input: InternalRow): Any = impl.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = impl.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(c: Expression): LayoutSalt =
    copy(child = c)
}

object LayoutSalt {
  val Ways = 4
}

/** Planner strategy: the collapse of a bucketed write runs on the layout
  * exchange alone, with its map-side partial below it.
  *
  * `GraftTable` writes a collapse as `repartition(_bucket, salt)` then
  * an aggregate grouped by (`_bucket`, key, salt). The exchange already
  * satisfies the aggregate's clustering — the layout columns are
  * functions of the key — so Spark would plan partial and final
  * aggregate together above it, and the exchange would ship every event
  * of a hot key. This strategy plans that aggregate with the partial
  * below the exchange: the partial groups by the key alone (a one-key
  * sort) over the rows without their layout columns, a projection
  * derives the layout columns once per partial row from the key, and the
  * exchange ships those. The final aggregate is the one Spark plans.
  *
  * A planner strategy rather than a rule on the physical plan, so that it
  * holds with and without adaptive execution (a streaming micro-batch's
  * `foreachBatch` runs without it), and so that every node it plans links
  * to the logical Aggregate: adaptive execution then re-plans a finished
  * stage as the aggregate's. It matches only an exchange hashed on
  * (`_bucket`, salt) whose salt is defined by [[LayoutSalt]], and only
  * when both layout columns can be restated over the key columns;
  * anything else is left to Spark's own aggregation planning.
  */
object LayoutCollapse extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case agg @ Aggregate(_, _, shuffle @ RepartitionByExpression(
        Seq(b: Attribute, s: Attribute), Project(list, input), _, _), _)
        if list.exists {
          case a @ Alias(_: LayoutSalt, _) => a.exprId == s.exprId
          case _ => false
        } =>
      (agg match {
        case PhysicalAggregation(group, aggs, result, _)
            if aggs.forall(a => !a.isDistinct && a.filter.isEmpty) =>
          // the origin Spark gives a repartition: adaptive execution
          // coalesces a repartition by columns, not one to a fixed count
          val origin =
            if (shuffle.optNumPartitions.isDefined) REPARTITION_BY_NUM
            else REPARTITION_BY_COL
          val exchange = ShuffleExchangeExec(shuffle.partitioning,
            planLater(shuffle.child), origin, shuffle.optAdvisoryPartitionSize)
          AggUtils.planAggregateWithoutDistinct(group, aggs, result, exchange)
            .headOption.flatMap(collapse(_, b, s, list, input))
        case _ => None
      }).toSeq
    case _ => Nil
  }

  private def collapse(fin: SparkPlan, b: Attribute, s: Attribute,
                       list: Seq[NamedExpression],
                       input: LogicalPlan): Option[SparkPlan] = fin match {
    case SortAggregateExec(Some(_), _, _, _, finAggs, _, _, _,
        partial @ SortAggregateExec(None, _, _, group, aggs, _, _, result,
          ex: ShuffleExchangeExec))
        if finAggs.forall(_.mode == Final) && aggs.forall(_.mode == Partial) =>
      val defs: Map[ExprId, Expression] = list.map {
        case a @ Alias(e, _) => a.exprId -> e
        case n => n.exprId -> n
      }.toMap
      val layout = Set(b.exprId, s.exprId)
      val keys = group.filterNot(g => layout(g.exprId))
      val keyDefs = keys.flatMap(k => defs.get(k.exprId).map(_ -> k.toAttribute))
      // a layout column restated over the key attributes alone
      def onKeys(e: Expression): Option[Expression] = {
        val r = e.transformDown {
          case x if keyDefs.exists(_._1.semanticEquals(x)) =>
            keyDefs.find(_._1.semanticEquals(x)).get._2
        }
        Some(r).filter(r => r.deterministic &&
          r.references.subsetOf(AttributeSet(keys.map(_.toAttribute))))
      }
      if (keys.size + 2 != group.size || keyDefs.size != keys.size) None
      else for {
        bucket <- defs.get(b.exprId).flatMap(onKeys)
        salt <- defs.get(s.exprId).flatMap(onKeys)
      } yield {
        val keyPartial = partial.copy(groupingExpressions = keys,
          resultExpressions = result.filterNot(e => layout(e.exprId)),
          child = planLater(Project(list.filterNot(e => layout(e.exprId)), input)))
        // the partial's output as the final reads it: grouping columns
        // in their order, then the buffers
        val relaid = ProjectExec(partial.output.map {
          case a if a.exprId == b.exprId => Alias(bucket, a.name)(a.exprId)
          case a if a.exprId == s.exprId => Alias(salt, a.name)(a.exprId)
          case a => a
        }, keyPartial)
        fin.withNewChildren(Seq(ex.copy(child = relaid)))
      }
    case _ => None
  }
}
