package org.apache.spark

/** The one Spark-internal the benchmark's tracer needs: draining the
  * listener bus, so counters read after a call include all its events. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
