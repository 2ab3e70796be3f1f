package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * listener's counters are complete when a traced call returns. The bus
  * is private to Spark's own package, hence this file's package.
  */
object KgperfBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
