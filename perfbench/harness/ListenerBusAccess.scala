package org.apache.spark

/** The listener bus is package-private; the benchmark drains it before
  * reading the [[perfbench.Probe]] counters of a finished execution. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
