package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: block until every event
  * posted so far has reached every listener, so a pass's counters are
  * complete before they are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
