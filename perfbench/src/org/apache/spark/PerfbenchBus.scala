package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * the benchmark's listener has seen all jobs of a finished run. The
  * bus is package-private to Spark, hence this file's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
