package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus for specs that count
  * listener events: block until every event posted so far has reached
  * every listener.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
