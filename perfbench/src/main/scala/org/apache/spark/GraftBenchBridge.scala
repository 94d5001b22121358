package org.apache.spark

/** The benchmark's bridge to the private[spark] listener bus: blocks until
  * every event posted so far has been delivered, so counters are read
  * complete instead of after a fixed sleep. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
