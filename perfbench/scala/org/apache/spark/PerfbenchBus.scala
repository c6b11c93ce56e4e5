package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event,
  * so a traced run reads complete job and plan records. The bus is
  * package-private to Spark, hence this accessor's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
