package org.apache.spark.e2ebench

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: blocks until every event
  * posted so far has been delivered, so a traced op's job spans are
  * complete before they are read. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
