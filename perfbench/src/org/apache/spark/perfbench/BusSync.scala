package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every listener has seen every event posted so far, so task
  * and query metrics can be attributed to the span that produced them. The
  * listener bus is `private[spark]`; this is its only use.
  */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
