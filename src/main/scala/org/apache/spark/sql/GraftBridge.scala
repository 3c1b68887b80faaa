package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType

/** Bridge into the sql-private Column↔Expression converters so graft can
  * expose its custom Catalyst expressions as user-facing Columns (the same
  * hook third-party Spark extensions use). */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** DataFrame over an InternalRow RDD without the external-Row round-trip
    * (the sql-private `internalCreateDataFrame` — same hook Spark's own
    * sources use). Caller guarantees rows match `schema`. */
  def internalDF(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)

  /** Generated classes `CodeGenerator` has compiled in this JVM so far,
    * on the driver and, in local mode, in the executor's tasks. */
  def compiledClasses: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def cacheManager(ds: Dataset[_]) =
    ds.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  def isCached(ds: Dataset[_]): Boolean =
    cacheManager(ds).lookupCachedData(ds.asInstanceOf[classic.Dataset[_]]).isDefined

  /** Whether running `out` reads the cache entry of `cached`: its plan,
    * with cached data substituted, scans the entry, or an RDD leaf has the
    * entry's column buffers in its lineage. */
  def readsCache(out: Dataset[_], cached: Dataset[_]): Boolean = {
    import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    val cm = cacheManager(cached)
    cm.lookupCachedData(cached.asInstanceOf[classic.Dataset[_]]).exists { entry =>
      val builder = entry.cachedRepresentation.cacheBuilder
      val seen = scala.collection.mutable.HashSet.empty[Int]
      def reaches(r: RDD[_]): Boolean = r.id == builder.cachedColumnBuffers.id ||
        (seen.add(r.id) && r.dependencies.exists(d => reaches(d.rdd)))
      cm.useCachedData(out.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)
        .collectWithSubqueries {
          case r: InMemoryRelation => r.cacheBuilder eq builder
          case r: LogicalRDD => reaches(r.rdd)
          case r: ExternalRDD[_] => reaches(r.rdd)
        }
        .contains(true)
    }
  }
}
