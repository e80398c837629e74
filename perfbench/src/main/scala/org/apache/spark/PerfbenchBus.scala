package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * listener data read afterwards is complete. The bus is private to the
  * `org.apache.spark` package, hence this object's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
