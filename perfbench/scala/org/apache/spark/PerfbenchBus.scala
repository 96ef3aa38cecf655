package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * span is closed only after all of its job and task events arrived.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
