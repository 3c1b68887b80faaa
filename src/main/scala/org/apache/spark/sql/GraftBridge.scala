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
}
