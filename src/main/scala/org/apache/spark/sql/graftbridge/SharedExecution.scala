package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Classic-API bridge: lives under `org.apache.spark.sql` because
  * `classic.Dataset.ofRows` and `LogicalRDD.fromDataset` are
  * `private[sql]`. Used by [[graft.ops.RangePrefix]].
  */
object SharedExecution {

  /** `df` as a frame over ONE execution's RDD: every plan that scans the
    * result reads the same RDD instance, hence the same shuffle
    * dependencies and partitioner state. This is the frame
    * `localCheckpoint` builds, minus the checkpoint. Building it plans
    * `df` and, under AQE, runs its shuffle map stages.
    */
  def of(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds, ds.isStreaming))
  }
}
