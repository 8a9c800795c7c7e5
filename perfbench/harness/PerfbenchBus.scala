package org.apache.spark

/** Waits until the live listener bus has delivered every posted event, so
 * counters read after a run are complete. `waitUntilEmpty` is
 * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
