package org.apache.spark

/** Test access to the SparkContext's asynchronous listener bus, whose
  * drain is package-private: a listener's counts are complete only once
  * every event posted before the drain has been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
