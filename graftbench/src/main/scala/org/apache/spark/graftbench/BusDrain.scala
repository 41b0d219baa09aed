package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Blocks until the listener bus has delivered every event posted so far.
  * The bus is package-private to Spark, hence this one-line bridge. */
object BusDrain {
  def apply(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
