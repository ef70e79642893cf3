package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bridge to Spark's `private[spark]` listener bus: block until every event
  * posted so far has been delivered, so a listener's view of a finished
  * action is complete before it is read. */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
