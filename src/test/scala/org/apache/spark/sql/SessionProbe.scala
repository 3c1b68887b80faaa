package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics

/** Test access to Spark-private state: the listener bus, the count of
  * generated classes compiled in this JVM and a session's artifact state. */
object SessionProbe {

  /** Blocks until every event posted so far has reached every listener. */
  def drainBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Generated classes `CodeGenerator` has compiled in this JVM so far,
    * on the driver and, in local mode, in the executor's tasks. */
  def compiledClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Whether the jobs of `spark` carry a per-session artifact state, which
    * gives them their own class loader on the executor. */
  def artifactIsolated(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].artifactManager.state != null

  /** A clone of `spark`, as a streaming query's `sparkSessionForStream`. */
  def cloned(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()
}
