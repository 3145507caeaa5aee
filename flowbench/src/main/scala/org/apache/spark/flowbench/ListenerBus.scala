package org.apache.spark.flowbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a traced
  * phase's records are complete before they are read. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
