package org.apache.spark.graftbridge

import org.apache.spark.{MapOutputTrackerMaster, SparkContext, SparkEnv}

/** Simulated executor loss for a `local[n]` session, whose one executor
  * is the driver. Lives under `org.apache.spark` because
  * `MapOutputTrackerMaster` and the block manager master are
  * `private[spark]`.
  */
object ExecutorLoss {

  /** Ids of the RDDs persisted so far — pass to [[lose]] so a shared
    * session keeps the blocks other suites persisted.
    */
  def persistedRddIds(sc: SparkContext): Set[Int] =
    sc.getPersistentRDDs.keySet.toSet

  /** Forget every map output the executor wrote and remove the blocks of
    * the RDDs persisted since `before`, as if the executor had died. Spark
    * recomputes lost map outputs on the next job; a lost block has no
    * lineage to recompute from if it was a checkpoint.
    */
  def lose(sc: SparkContext, before: Set[Int]): Unit = {
    val env = SparkEnv.get
    env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
      .removeOutputsOnExecutor(SparkContext.DRIVER_IDENTIFIER)
    (persistedRddIds(sc) -- before)
      .foreach(env.blockManager.master.removeRdd(_, blocking = true))
  }
}
