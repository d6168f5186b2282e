package org.apache.spark

/** The one scheduler-internal call the trace collector needs: block
  * until the listener bus has delivered every posted event, so counters
  * read after an action include that action. */
object PerfbenchAccess {
  def waitForListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
