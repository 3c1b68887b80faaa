package graft.triples

import org.apache.spark.sql.{Dataset, SaveMode}
import org.apache.spark.sql.functions._

import graft.schema.Triple

/** Partitioned triple materialization (north_star: "(subj, pred, obj)
  * triples into partitioned Iceberg output").
  *
  * Physical layout (SURVEY.md §4): hive-partitioned by predicate, one
  * `pred_part=<label>` directory per relation label (19 of them, the natural
  * query axis for KG consumers), where `<label>` is [[predPart]] of `pred`.
  *
  * The write costs one shuffle: a rebalance on `pred_part`. Without it every
  * map task writes a file into every predicate directory, and a
  * 1000-executor run emits millions of small files. With AQE on (as in
  * [[graft.GraftSession]]), the rebalance coalesces small partitions and
  * splits a hot predicate into `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * pieces, so file counts follow data size: one file per predicate at
  * small scale, several for a predicate that outgrows the advisory size.
  * Without AQE it is a plain hash partitioning on `pred_part`, so each
  * predicate lands in exactly one task and writes one file — still bounded.
  *
  * Iceberg swap-in: replace write.parquet with writeTo(table).append — call
  * sites unchanged (no Iceberg jar on the classpath, SURVEY.md §7.6). */
object TripleSink {

  /** The partition directory label of a predicate: ASCII letters and digits
    * are kept and each maximal run of any other chars becomes one `_`.
    * Equals `pred.replaceAll("[^A-Za-z0-9]+", "_")` (a surrogate pair is two
    * non-alnum chars of one run, so it also yields a single `_`) without a
    * regex, which would otherwise run once per triple. */
  def predPart(pred: String): String = {
    if (pred == null) return null
    val sb = new java.lang.StringBuilder(pred.length)
    var inRun = false
    var i = 0
    while (i < pred.length) {
      val c = pred.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')) {
        sb.append(c)
        inRun = false
      } else if (!inRun) {
        sb.append('_')
        inRun = true
      }
      i += 1
    }
    sb.toString
  }

  private val predPartUdf = udf((pred: String) => predPart(pred))

  def write(triples: Dataset[Triple], path: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    triples
      .withColumn("pred_part", predPartUdf(col("pred")))
      .hint("rebalance", col("pred_part"))
      .write
      .mode(mode)
      .partitionBy("pred_part")
      .parquet(path)
  }

  def read(spark: org.apache.spark.sql.SparkSession, path: String): Dataset[Triple] = {
    import spark.implicits._
    spark.read.parquet(path).select("subj", "pred", "obj", "url").as[Triple]
  }
}
