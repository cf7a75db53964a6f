package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; this one-line bridge
  * lives in a `org.apache.spark` subpackage so the benchmark can read its
  * own listener's records only after every queued event was delivered. */
object BusAccess {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
