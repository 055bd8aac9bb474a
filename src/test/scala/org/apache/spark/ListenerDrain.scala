package org.apache.spark

/** Listener events arrive asynchronously; specs that count them read
  * their counters only after the bus has delivered every event posted
  * so far. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
