package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the
  * traced run drains it before reading the listener's counters. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
