package org.apache.spark.kgbenchbridge

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every queued event,
  * so listener counts read afterwards are complete. The bus is
  * package-private to Spark, hence this package.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
