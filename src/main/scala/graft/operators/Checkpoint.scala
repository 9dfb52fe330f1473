package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Eager checkpoints under one reliability rule. A session with a
  * checkpoint dir (`sc.setCheckpointDir`) gets reliable checkpoints: the
  * rows are written to files there and survive a lost executor or a
  * removed block. Without one, `localCheckpoint` keeps them as blocks on
  * the executors, which is all a single-JVM session needs. Either way the
  * checkpointed frame is a one-leaf plan over the materialized rows.
  */
object Checkpoint {

  /** Materialize `df` now. Returns the frame over the checkpointed rows
    * and the RDD that holds them; the caller frees it with [[release]]. */
  def apply(df: DataFrame): (DataFrame, RDD[_]) = {
    val reliable = df.sparkSession.sparkContext.getCheckpointDir.isDefined
    val cp = if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    (cp, cp.queryExecution.logical.asInstanceOf[LogicalRDD].rdd)
  }

  /** Free a checkpoint: its blocks, and its files if it is reliable. */
  def release(rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = true)
    rdd.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }
}
