package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * test's listener has seen every job it started. The bus is internal to
  * Spark, hence this one helper lives in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
