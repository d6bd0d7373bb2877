package org.apache.spark

/** Reaches the listener bus's wait-until-empty, which Spark keeps
  * package-private, so diagnostics and tests can wait for every queued
  * job, stage and task event instead of sleeping for a fixed time. */
object ListenerBusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
