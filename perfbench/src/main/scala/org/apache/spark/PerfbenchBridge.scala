package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-span counters are read only after every queued event has been
  * delivered to the benchmark's listener. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
