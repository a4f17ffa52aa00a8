package graft

/** Shared plan pin for the RangePrefix decomposition. The partitioned
  * frame is ONE execution's RDD that both consumers scan
  * (RangePrefix.pinnedRangePartition scaladoc), so the range exchange
  * sits below that RDD and is not visible in consumer plans — the
  * observable distributed-prefix shape is the __pid-PARTITIONED local
  * window over the `Scan ExistingRDD` (vs the naive single-task global
  * window, which would have an empty partition spec and no __pid
  * anywhere).
  */
object PlanPins {
  def assertRangePrefixed(plan: String, what: String): Unit = {
    assert(plan.contains("], [__pid#"),
      s"$what must run its cumulative pass as a __pid-partitioned window " +
        s"(the distributed prefix shape):\n$plan")
    assert(plan.contains("Scan ExistingRDD"),
      s"$what must consume the shared range partitioning:\n$plan")
  }
}
