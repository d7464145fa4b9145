package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * posted event, so per-query listener records are complete before the
  * benchmark reads them. `listenerBus` is package-private to Spark,
  * hence this file's package.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
