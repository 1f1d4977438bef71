package org.apache.spark.perfbenchhook

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; this package is the only
  * way to reach it from outside Spark. Draining before reading listener
  * totals makes them complete without sleeping for an arbitrary time. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
