package org.apache.spark

/** Waits until every event posted so far has reached every listener. The
  * listener bus is asynchronous and its drain is Spark-private, so the
  * benchmark reaches it from inside the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
