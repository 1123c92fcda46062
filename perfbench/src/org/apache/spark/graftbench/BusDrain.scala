package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every queued event, so
  * a benchmark listener's counts are complete before they are read.
  * Lives under `org.apache.spark` because the bus is package-private. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
