package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`; the benchmark's
  * tracer needs it to attribute every event of an op before the next op
  * starts. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
