package org.apache.spark

/** The ids of the Spark jobs still running, read after the listener bus
  * has delivered every event posted so far: the status tracker is fed
  * asynchronously, and draining the bus is `private[spark]`. */
object ActiveJobs {
  def of(sc: SparkContext): Seq[Int] = {
    sc.listenerBus.waitUntilEmpty()
    sc.statusTracker.getActiveJobIds().toSeq
  }
}
