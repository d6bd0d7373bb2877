package org.apache.spark

/** Reaches the listener bus's wait-until-empty, which Spark keeps
  * package-private: the benchmark drains the bus after each operation
  * instead of sleeping for a fixed time. */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
