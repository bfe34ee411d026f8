package org.apache.spark

/** The listener bus is Spark-internal; the tracer needs it drained before
  * it reads what its listeners collected. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
