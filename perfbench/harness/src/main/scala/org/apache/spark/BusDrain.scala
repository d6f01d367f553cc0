package org.apache.spark

/** The listener bus is Spark-private; the tracer needs to wait for it
  * before reading its counters. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
