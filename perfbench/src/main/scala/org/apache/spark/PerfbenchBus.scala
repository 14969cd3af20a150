package org.apache.spark

/** Waits until the listener bus has delivered every event posted so
  * far, so a traced unit of work can be closed with all of its job,
  * stage, task and query events counted. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
