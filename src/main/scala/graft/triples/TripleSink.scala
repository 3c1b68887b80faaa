package graft.triples

import org.apache.spark.sql.{Dataset, GraftBridge, SaveMode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.schema.Triple
import graft.textnorm.StringKernelExpression

/** Partitioned triple materialization (north_star: "(subj, pred, obj)
  * triples into partitioned Iceberg output").
  *
  * Physical layout (SURVEY.md §4): hive-partitioned by predicate, one
  * `pred_part=<label>` directory per relation label (19 of them, the natural
  * query axis for KG consumers), where `<label>` is [[predPart]] of `pred`.
  *
  * The write has one shuffle: a rebalance on `pred_part`. Without it every
  * map task writes a file into every predicate directory, and a
  * 1000-executor run emits millions of small files. With AQE on (as in
  * [[graft.GraftSession]]), the rebalance coalesces small partitions and
  * splits a hot predicate into `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * pieces, so file counts follow data size: one file per predicate at
  * small scale, several for a predicate that outgrows the advisory size.
  * Without AQE it is a plain hash partitioning on `pred_part`, so each
  * predicate lands in exactly one task and writes one file — still bounded.
  *
  * Beyond that shuffle, the write stage costs the writer's sort on
  * `pred_part`, parquet encoding, and the filesystem work per file: each
  * parquet file, its `.crc` sibling and each directory is created and has
  * its permission set. Under the stock local filesystem every permission
  * set forks a `chmod`, which made the forks a large part of the stage;
  * [[graft.GraftSession]] binds [[graft.io.LocalFs]], which sets them
  * in-process. `pred_part` itself is [[PredPartExpr]], a codegen'd
  * expression over the UTF-8 bytes, so no row decodes `pred` to a `String`.
  *
  * Iceberg swap-in: replace write.parquet with writeTo(table).append — call
  * sites unchanged (no Iceberg jar on the classpath, SURVEY.md §7.6). */
object TripleSink {

  /** The partition directory label of a predicate: ASCII letters and digits
    * are kept and each maximal run of any other chars becomes one `_`.
    * Equals `pred.replaceAll("[^A-Za-z0-9]+", "_")` (a surrogate pair is two
    * non-alnum chars of one run, so it also yields a single `_`). The
    * `String` oracle of [[predPartUtf8]], which the sink runs. */
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

  /** [[predPart]] over UTF-8 bytes: the same rule per byte. Every byte of a
    * multi-byte character is >= 0x80 and every such character is neither an
    * ASCII letter nor a digit, so a run of non-alnum chars is exactly a run
    * of non-alnum bytes and the two agree. */
  def predPartUtf8(pred: UTF8String): UTF8String = {
    val n = pred.numBytes
    val out = new Array[Byte](n)
    var o = 0
    var inRun = false
    var i = 0
    while (i < n) {
      val b = pred.getByte(i)
      if ((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')) {
        out(o) = b
        o += 1
        inRun = false
      } else if (!inRun) {
        out(o) = '_'
        o += 1
        inRun = true
      }
      i += 1
    }
    UTF8String.fromBytes(out, 0, o)
  }

  def write(triples: Dataset[Triple], path: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    triples
      .withColumn("pred_part", GraftBridge.column(PredPartExpr(GraftBridge.expression(col("pred")))))
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

/** `pred_part` of a `pred` column: [[TripleSink.predPartUtf8]] in generated
  * code. */
case class PredPartExpr(child: Expression) extends StringKernelExpression {
  override def fn: String = "graft.triples.TripleSink.predPartUtf8"
  override protected def invoke(s: UTF8String): UTF8String = TripleSink.predPartUtf8(s)
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(newChild)
}
