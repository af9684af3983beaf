package org.apache.spark

/** Access to the `private[spark]` listener bus: after an action returns, its
  * job and task events may still be queued. Draining the bus makes the
  * benchmark's listener totals and `statusTracker` exact at a boundary. */
object VsbenchShims {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
