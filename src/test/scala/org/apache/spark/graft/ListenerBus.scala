package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test doorway to the private[spark] listener bus: block until every
  * posted event has reached its listeners, so a listener's job count is
  * final when a spec reads it. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
