package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; [[graft.obs.Trace]] needs one call
  * from it. Returns once every event posted so far has reached every
  * listener, so what a listener recorded is complete when this returns.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
