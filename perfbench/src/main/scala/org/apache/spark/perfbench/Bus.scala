package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is the one call the
  * benchmark needs from it. Returns once every event posted so far has
  * reached every listener, so counters read afterwards are complete.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
