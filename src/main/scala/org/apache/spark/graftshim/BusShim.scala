package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`: a listener that
  * counts one query's jobs and stages must see every event the query posted
  * before the counters are read or reset. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
