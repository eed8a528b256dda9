package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * traced row's listener callbacks are complete before its spans are cut.
  * `LiveListenerBus` is `private[spark]`, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
