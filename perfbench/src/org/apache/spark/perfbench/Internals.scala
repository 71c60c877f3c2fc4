package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the benchmark needs: draining the listener
  * bus, so the events of a finished job are all delivered before they are read.
  */
object Internals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
