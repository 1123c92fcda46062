package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every posted listener event has been delivered, so a
  * test's job count is final when it reads it. `listenerBus` is
  * `private[spark]`, hence this one-file subpackage. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
