package org.apache.spark

/** Test access to Spark internals that have no public API. */
object GraftTestAccess {

  /** Drop every block of RDD `id` from every block manager, as the loss
    * of the executors holding them would. */
  def removeRddBlocks(sc: SparkContext, id: Int): Unit = {
    sc.env.blockManager.master.removeRdd(id, blocking = true)
    ()
  }
}
