package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Explicit skew handling: salted two-phase aggregation (north rule:
  * "partitioning / shuffle / skew handled explicitly").
  *
  * A hot key ("acme corp" holds ~20% of all mentions in the fixture corpus,
  * mirroring Zipfian web entities) makes a plain groupBy put one reducer in
  * the critical path. Salting splits each key into `salt` sub-keys for the
  * first (heavy) aggregation so the hot key's work spreads across `salt`
  * tasks; the second aggregation combines `salt` tiny partials per key.
  * Spark's partial aggregation already map-side combines, so salting only
  * pays off when per-key state is large (collect_list/collect_set) or when
  * AQE skew handling is unavailable; the engine salts its list collection. */
object Salting {

  /** Salted collect_list: per-key lists assembled in two phases so one hot
    * key never concentrates its whole list in a single task's memory. The
    * final sort_array makes the `<valueCol>s` column identical to an
    * unsalted groupBy's sorted list. `Encode.pools` collects its
    * `relation_ids` through it. */
  def saltedCollectList(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      salt: Int = 16): DataFrame = {
    val saltCol = pmod(xxhash64(col(valueCol)), lit(salt))
    df.withColumn("__salt", saltCol)
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(collect_list(col(valueCol)).as("__partial"))
      .groupBy(keys.map(col): _*)
      .agg(sort_array(flatten(collect_list(col("__partial")))).as(s"${valueCol}s"))
  }
}
