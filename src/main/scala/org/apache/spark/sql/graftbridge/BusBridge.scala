package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge to the listener bus, which is `private[spark]`: waits until
  * every queued event has reached every listener, so what a listener
  * recorded is complete when it is read.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
