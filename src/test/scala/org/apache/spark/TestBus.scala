package org.apache.spark

/** Test access to the listener bus: waits until every event posted so
  * far has been delivered, so a listener's counts are complete. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
