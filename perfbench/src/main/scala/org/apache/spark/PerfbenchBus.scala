package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so the
  * traced run reads complete job and task records. The bus is internal to
  * Spark, hence this one helper lives in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
