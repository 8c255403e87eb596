package org.apache.spark

/** Waits until every posted listener event has been delivered, so a
  * listener's totals are complete before they are read. The bus is
  * private to Spark, hence this package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
