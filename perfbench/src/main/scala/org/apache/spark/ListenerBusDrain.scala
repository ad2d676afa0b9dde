package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * a job's end is visible to the benchmark's listener before the next op
  * starts. The bus is private to Spark; this shim lives in its package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
