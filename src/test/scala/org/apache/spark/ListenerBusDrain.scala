package org.apache.spark

/** Test-side accessor for the `private[spark]` listener-bus drain: blocks
  * until every event posted so far has reached every listener, so a
  * listener's counters are final when read (the bus is asynchronous and
  * has no public flush). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
