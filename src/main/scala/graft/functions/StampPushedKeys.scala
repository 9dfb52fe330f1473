package graft.functions

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Physical rule: an `attr = <integral literal>` that a parquet scan
  * already pushed down stays a `Literal` in the scan — row-group and
  * page pruning need one — but the `FilterExec` right above the scan,
  * which re-checks it row by row, reads the value through a [[Stamp]].
  *
  * That residual filter is the only place such a key reaches generated
  * code, so without this every distinct key compiled its scan stage
  * again. It serves the lookups that keep the parallel plan
  * (`GraftTable.lookup` on a table with a generation written before its
  * PK became integral, or a value that names several keys) and user
  * predicates on a FINAL read; a bucketed lookup is read on the driver
  * and compiles nothing. Only integral literals are rewritten: the types
  * a bucketed table's key can have. Other equalities (a string key, a
  * date) keep their inlined literal and their plan unchanged.
  *
  * Injected after planning (`injectQueryPostPlannerStrategyRule`), where
  * the filter still sits directly on the scan: the rule runs on every
  * plan that adaptive execution wraps, which includes every FINAL read.
  */
object StampPushedKeys extends Rule[SparkPlan] with PredicateHelper {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f @ FilterExec(cond, scan: FileSourceScanExec) =>
      def pushed(e: Expression) = scan.dataFilters.exists(_.semanticEquals(e))
      val conjuncts = splitConjunctivePredicates(cond)
      val stamped = conjuncts.map {
        case e @ EqualTo(a: Attribute, l: Literal) if stampable(l) && pushed(e) =>
          EqualTo(a, Stamp(l.value, l.dataType))
        case e @ EqualTo(l: Literal, a: Attribute) if stampable(l) && pushed(e) =>
          EqualTo(Stamp(l.value, l.dataType), a)
        case e => e
      }
      if (stamped == conjuncts) f else f.copy(condition = stamped.reduce(And))
  }

  private def stampable(l: Literal): Boolean =
    l.value != null && (l.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    })
}
