package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until every posted listener event has been
  * delivered, so per-span counters read after an action are complete.
  * The listener bus is `private[spark]`, hence this package. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
