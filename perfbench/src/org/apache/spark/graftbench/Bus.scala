package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the traced run must drain it
  * before it reads the ledger, or the last tasks' metrics are missing. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
