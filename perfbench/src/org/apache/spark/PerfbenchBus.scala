package org.apache.spark

/** Listener events arrive asynchronously on Spark's listener bus. The
  * traced run reads its per-span sums only after the bus has delivered
  * every event of the job, which needs this package-private drain. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
