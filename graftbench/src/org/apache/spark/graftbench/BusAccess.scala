package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a traced
 * phase can be closed without losing its last job, stage or progress
 * event. The listener bus is package-private to Spark. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
