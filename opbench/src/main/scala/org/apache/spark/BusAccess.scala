package org.apache.spark

/** Waits until the listener bus has delivered every queued event.
  * `listenerBus` is `private[spark]`, hence this package. The benchmark
  * calls it after each op so that the status tracker and the trace
  * listener have seen every job the op ran. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
