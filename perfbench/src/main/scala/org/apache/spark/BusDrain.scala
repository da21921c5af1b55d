package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * listener-side counters are complete before they are read. Lives in
  * Spark's package because `listenerBus` is `private[spark]`.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
