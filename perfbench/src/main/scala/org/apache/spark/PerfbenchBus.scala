package org.apache.spark

/** Waits for Spark's listener bus to deliver every event posted so far.
  * The bus is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
