package org.apache.spark.prodbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event: the bus
  * is package-private to Spark, hence this file's package.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
