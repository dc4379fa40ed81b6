package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is private to Spark; graft.Probe needs to
  * wait until every posted event has reached its listener before it
  * reads or resets its counters (the bus delivers asynchronously). This
  * accessor lives under `org.apache.spark.scheduler` solely to re-export
  * that one wait — no other internals are touched. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
