package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event, so the
  * benchmark's listener counts are complete when an op's numbers are read.
  * (`listenerBus` is package-private to Spark, hence this package.) */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
