package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * traced chunk's jobs, stages and queries are all recorded before its
  * listeners are removed. The bus is private to Spark, hence the package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
