package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The catalog of the engine's input tables: each table's declared schema,
  * and the one way the engine reads a table.
  *
  * The BASELINE input is an Iceberg-shaped table set, and an Iceberg read
  * takes its schema from table metadata without opening a data file. A
  * plain `spark.read.parquet` instead infers the schema when the DataFrame
  * is built: it runs a one-task Spark job that reads a file footer. In a
  * long-lived session that answers many short queries, that job is a fixed
  * cost of every query. [[read]] passes the declared schema, so building
  * the DataFrame runs no job. TablesSpec checks every declared schema
  * against the schema Spark infers from the files.
  *
  * `ts`, `l_shipdate` and `o_orderdate` are written without a time zone
  * (parquet `isAdjustedToUTC = false`), so they are `TIMESTAMP_NTZ`. */
object Tables {

  val Schemas: Map[String, StructType] = Map(
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "events" ->
      "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING, value DOUBLE, props STRING",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    "customer" ->
      "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING",
    "lineitem" ->
      ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
        "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
        "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "orders" ->
      ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "part" ->
      ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, " +
        "p_retailprice DOUBLE"),
    "region" -> "r_regionkey INT, r_name STRING",
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  /** The parquet file of table `name` under `dir`. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** Table `name` under `dir`, read with its declared schema. */
  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(Schemas(name)).parquet(path(dir, name))
}
