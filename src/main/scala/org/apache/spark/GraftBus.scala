package org.apache.spark

/** Blocks until the listener bus has delivered every posted event. The
  * bus is private to Spark's own package, hence this file's package.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
