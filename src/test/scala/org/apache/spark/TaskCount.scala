package org.apache.spark

/** The number of Spark tasks that end while `body` runs. The listener
  * bus is drained before the count starts and before it is read, so no
  * earlier job's tasks are counted and none of `body`'s is missed;
  * draining the bus is `private[spark]`. */
object TaskCount {
  def during(sc: SparkContext)(body: => Unit): Long = {
    val n = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new scheduler.SparkListener {
      override def onTaskEnd(t: scheduler.SparkListenerTaskEnd): Unit = {
        n.incrementAndGet()
        ()
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
      n.get()
    } finally sc.removeSparkListener(listener)
  }
}
