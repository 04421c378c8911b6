package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so
  * listener counters are complete before they are read. The bus is
  * private to Spark, hence this package.
  */
object BusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
