package org.apache.spark

/** Bridge to the private[spark] listener bus: a deterministic drain of
  * async listener delivery (job, stage and task events, and the
  * QueryExecutionListener events that ride the same bus), in place of
  * wall-clock settle sleeps. Used by `graft.tools.JobCount` and the specs.
  */
object GraftListenerBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
