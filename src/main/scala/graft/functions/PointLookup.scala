package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, InterpretedOrdering, InterpretedProjection, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{FileRelation, LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.parquet.PointFileReader
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.StructType

/** What a point lookup on a bucketed versioned table reads, resolved when
  * the lookup is called (`GraftTable.lookup`): one part per generation,
  * and the table's FINAL rule over a row in its current schema — `order`
  * (the greatest wins) and `live` (false for a tombstone), both bound to
  * that row, whose first `width` columns are the payload. */
final case class PointRead(parts: Seq[PointRead.Part], order: Expression,
                           live: Expression, width: Int) {
  override def toString: String =
    s"PointRead(files=${parts.map(_.files.size).sum}, " +
      s"pushed=${parts.map(_.pushed).distinct.mkString(" | ")})"
}

object PointRead {
  /** One generation's share: the files of the key's `_bucket=`
    * directory as (path, length), the schema they were written with, the
    * key as that generation stores it (`pushed`, an equality parquet
    * evaluates against row-group stats and column-index pages), and two
    * expressions bound to a stored row — `matches`, the lookup's key
    * predicate, and `current`, the row in the table's current schema. */
  final case class Part(files: Seq[(String, Long)], schema: StructType,
                        pushed: sources.EqualTo, matches: Expression,
                        current: Seq[Expression])
}

/** Logical leaf of a point lookup. A [[FileRelation]], so a Dataset's
  * `inputFiles` reports exactly the key's bucket files. */
final case class PointLookup(output: Seq[Attribute], read: PointRead)
    extends LeafNode with MultiInstanceRelation with FileRelation {
  override def inputFiles: Array[String] =
    read.parts.flatMap(_.files.map(_._1)).toArray
  override def newInstance(): PointLookup =
    copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics =
    Statistics(sizeInBytes = BigInt(read.parts.flatMap(_.files).map(_._2).sum max 1L))
}

/** Planner strategy: a [[PointLookup]] runs as a [[PointLookupExec]]. */
object PointLookupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PointLookup => PointLookupExec(p.output, p.read) :: Nil
    case _ => Nil
  }
}

/** A point lookup read on the driver, with no Spark job: each file of the
  * key's bucket goes through Spark's own parquet reader with the key
  * pushed ([[PointFileReader]]), so row-group stats and column-index
  * pages prune inside the bucket and a file none of whose row groups can
  * hold the key is not read; the rows that hold the key are brought to
  * the current schema and collapsed by the table's FINAL rule, and a
  * tombstone winner leaves no row. `collect` gets at most one row
  * without a job; a plan that composes the lookup with other operators
  * reads it through `doExecute`, one partition of at most one row.
  * A reader is built per lookup and generation, never cached: the pushed
  * key is part of it.
  */
final case class PointLookupExec(output: Seq[Attribute], read: PointRead)
    extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files read"),
    "rowGroupsRead" -> SQLMetrics.createMetric(sparkContext, "row groups read"),
    "rowGroupsSkipped" -> SQLMetrics.createMetric(sparkContext,
      "row groups skipped by key stats"),
    "rowsDecoded" -> SQLMetrics.createMetric(sparkContext, "rows decoded"),
    "readTime" -> SQLMetrics.createTimingMetric(sparkContext, "read time"))

  override def executeCollect(): Array[InternalRow] = {
    val rows = collapse()
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    rows
  }

  override def executeTake(n: Int): Array[InternalRow] = executeCollect().take(n)

  override protected def doExecute(): RDD[InternalRow] = {
    val unsafe = UnsafeProjection.create(schema)
    sparkContext.parallelize(executeCollect().map(unsafe(_).copy()).toSeq, 1)
  }

  private def collapse(): Array[InternalRow] = {
    val start = System.nanoTime()
    val ordering = new InterpretedOrdering(Seq(SortOrder(read.order, Ascending)))
    var best: InternalRow = null
    read.parts.foreach { part =>
      val reader = new PointFileReader(session, part.schema, part.pushed)
      val current = new InterpretedProjection(part.current)
      part.files.foreach { case (file, length) =>
        val (groups, admitted, rows) = reader.read(new Path(file), length)
        metrics("rowGroupsRead") += admitted
        metrics("rowGroupsSkipped") += groups - admitted
        if (admitted > 0) metrics("numFiles") += 1
        try rows.foreach { stored =>
          metrics("rowsDecoded") += 1
          if (part.matches.eval(stored) == true) {
            val row = current(stored)
            if (best == null || ordering.compare(row, best) > 0) best = row.copy()
          }
        } finally rows match {
          case c: java.io.Closeable => c.close()
          case _ => ()
        }
      }
    }
    metrics("readTime") += (System.nanoTime() - start) / 1000000L
    if (best == null || read.live.eval(best) != true) Array.empty
    else Array(InternalRow.fromSeq(
      (0 until read.width).map(i => best.get(i, output(i).dataType))))
  }
}
