package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * spec can count jobs and query executions without racing delivery.
  * Lives in this package because `listenerBus` is `private[spark]`.
  */
object TestBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
