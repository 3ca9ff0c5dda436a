package org.apache.spark

/** The listener bus is private to Spark; the benchmark only needs to
  * wait until every posted event has reached its listeners. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
