package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a job-counting listener has seen every job an action started before
  * the test reads its count. The bus is private to Spark; this shim
  * lives in its package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
