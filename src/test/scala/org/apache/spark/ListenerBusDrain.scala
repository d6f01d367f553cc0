package org.apache.spark

/** Test-only access to Spark's listener bus: a spec that counts
  * jobs with a `SparkListener` waits here until every event posted so
  * far has reached its listener, instead of polling for a stable count.
  * It lives in Spark's package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
