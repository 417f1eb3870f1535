package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far, so
  * that counters read right after a job include that job. The bus is
  * package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
