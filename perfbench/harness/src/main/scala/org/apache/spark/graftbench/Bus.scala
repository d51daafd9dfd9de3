package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits for the listener bus to deliver every queued event, so the
  * trace is complete before it is written (the bus is spark-private).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
