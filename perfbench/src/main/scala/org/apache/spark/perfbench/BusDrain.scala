package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has been delivered to every
  * listener. The listener bus is package-private to Spark, hence the
  * package of this file. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
