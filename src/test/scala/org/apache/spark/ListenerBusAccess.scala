package org.apache.spark

/** Test access to the listener-bus flush, which Spark keeps
  * package-private: listener events are delivered asynchronously, so a
  * spec that counts jobs waits for the bus to drain before reading. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
