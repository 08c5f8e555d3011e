package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event,
  * so listener totals read at a pass boundary cover that pass. The bus
  * is spark-private; this file only exposes its drain call. */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
