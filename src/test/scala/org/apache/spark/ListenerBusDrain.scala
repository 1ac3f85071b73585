package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener counts read afterwards are complete. The bus is private to
  * Spark's package, hence this file's package.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
