package org.apache.spark

/** Access to the listener bus flush, which Spark keeps package-private:
  * listener events are delivered asynchronously, so the benchmark waits
  * for the bus to drain before reading what its listeners recorded. */
object BenchBridge {
  def drainListenerBus(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
