package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * test listener's counts are complete when read. (`listenerBus` is
  * package-private to Spark, hence this package.) */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
