package org.apache.spark

/** Test-only access to `private[spark]` state: a spec that sets the shared
  * SparkContext's checkpoint dir must be able to RESTORE it, or every later
  * test inherits the reliable-checkpoint code path (order-dependent plan
  * shapes). */
object GraftTestShims {
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None

  /** Block until every posted listener event has been delivered, so a
    * spec's listener has seen all jobs started before the call. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
