package org.apache.spark

/** The listener bus drain is package-private; the benchmark needs it to
  * read task metrics of jobs that have just finished.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
