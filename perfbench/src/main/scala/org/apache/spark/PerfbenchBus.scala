package org.apache.spark

/** Waits for the listener bus to deliver every queued event, so task and
  * stage counts read right after an action include that action. The bus is
  * only reachable from inside the `org.apache.spark` package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
