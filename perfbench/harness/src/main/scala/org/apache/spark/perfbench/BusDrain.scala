package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * pass's counters are complete before they are read. Lives in this
  * package only because `SparkContext.listenerBus` is `private[spark]`. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
