package org.apache.spark

/** Waits until the SparkContext's listener bus has delivered every event
  * posted so far, so that a traced run's report holds all of them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
