package org.apache.spark

/** The listener bus is package-private to Spark; the harness needs to wait
  * until every posted event has reached its listeners before it reads them. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
