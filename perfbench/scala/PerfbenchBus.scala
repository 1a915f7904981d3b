package org.apache.spark

/** The listener bus is Spark-private; metrics read after an action need it
  * drained first, since listener events arrive asynchronously.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
