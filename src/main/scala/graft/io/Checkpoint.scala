package graft.io

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.DeserializationFeature._
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stage checkpoint manager + per-partition lineage metrics — the engine's
  * generalization of the reference's skip-if-exists pickle caches
  * (`mtb_data_loader.py:102-105`, `:136-145`; SURVEY.md §2.30, §7.4), made
  * auditable and partition-granular per the north rule ("resumable from
  * checkpoint with per-partition lineage + metrics").
  *
  * Each stage writes `<root>/<stage>/` (parquet), then publishes the JSON
  * manifest `<root>/<stage>.ok` through [[Commit]]: run id, row count,
  * checksum, wall ms and the per-partition lineage rows. The manifest is
  * the stage's only commit point, so a crash leaves no manifest (the stage
  * recomputes) or a whole one, and [[invalidate]] drops a stage's lineage
  * with its completion. A stage is complete when its manifest parses for
  * it; on restart complete stages are read back, not recomputed, so a
  * killed run resumes with identical results (the stages are deterministic).
  *
  * Sandbox note (SURVEY.md §7.6): no Iceberg runtime jar exists offline, so
  * tables are partitioned parquet + JSON manifest with Iceberg-like
  * semantics behind this one seam.
  */
final class CheckpointManager(spark: SparkSession, root: String, runId: String) {
  import CheckpointManager._

  private def stageDir(name: String) = s"$root/$name"
  private def manifestPath(name: String) = Paths.get(s"$root/$name.ok")

  /** The stage's manifest, None when it is missing or does not parse for
    * this stage. */
  private def manifest(name: String): Option[Manifest] =
    Try(Json.readValue(Files.readString(manifestPath(name)), classOf[Manifest])).toOption
      .filter(m => m.stage == name && m.partitions.map(_.rows_out).sum == m.rows)

  def isComplete(name: String): Boolean = manifest(name).isDefined

  /** Run (or resume) a stage. `compute` is only invoked on a cache miss. */
  def stage(name: String)(compute: => DataFrame): DataFrame = {
    if (isComplete(name)) spark.read.parquet(stageDir(name))
    else {
      val t0 = System.nanoTime()
      compute.write.mode("overwrite").parquet(stageDir(name))
      val wallMs = (System.nanoTime() - t0) / 1000000L

      // per-partition lineage over the MATERIALIZED stage output (stable
      // across resume: it reads the written files, not the plan), in one
      // scan; the manifest totals are derived from it locally
      val written = spark.read.parquet(stageDir(name))
      val parts = written
        .groupBy(spark_partition_id().as("partition_id"))
        .agg(
          count(lit(1)).as("rows_out"),
          // decimal sum: ANSI mode would overflow a long checksum
          sum(xxhash64(struct(written.columns.map(col): _*)).cast("decimal(38,0)"))
            .cast("string").as("checksum"))
        .collect().map(r => Partition(r.getInt(0), r.getLong(1), r.getString(2))).sortBy(_.partition_id)
      Commit.writeString(manifestPath(name), Json.writeValueAsString(Manifest(
        name, runId, parts.map(_.rows_out).sum, parts.map(p => BigDecimal(p.checksum)).sum.toString,
        wallMs, parts.toSeq)))
      written
    }
  }

  /** Lineage rows of every committed stage, read from the manifests (no
    * Spark job): stage, run_id, partition_id, rows_out, checksum, wall_ms. */
  def metrics: DataFrame = {
    val names = Option(new java.io.File(root).list()).toSeq.flatten.filter(_.endsWith(".ok"))
    val rows = names.map(_.stripSuffix(".ok")).sorted.flatMap(manifest).flatMap { m =>
      m.partitions.map(p => Row(m.stage, m.run_id, p.partition_id, p.rows_out, p.checksum, m.wall_ms))
    }
    spark.createDataFrame(rows.asJava, MetricsSchema)
  }

  private val kpiDir = s"$root/_kpi"

  /** Per-epoch KPI series (§2.29 — the reference appends per-epoch losses /
    * accuracy lists into its model checkpoints, `mtb_model.py:205-222`):
    * one appended row per (epoch, name) in a queryable parquet table
    * instead of pickled lists inside a weights file. */
  def logKpi(epoch: Int, name: String, value: Double): Unit =
    spark.createDataFrame(Seq((runId, epoch, name, value))).toDF("run_id", "epoch", "kpi", "value")
      .coalesce(1).write.mode("append").parquet(kpiDir)

  /** The KPI series, ordered for plotting/regression checks. */
  def kpiSeries: DataFrame =
    spark.read.parquet(kpiDir).orderBy("kpi", "epoch")

  /** Invalidate a stage, dropping its lineage with its completion (and
    * forcing its recompute on the next run). */
  def invalidate(name: String): Unit = Files.deleteIfExists(manifestPath(name))
}

object CheckpointManager {

  /** A stage's manifest: totals and its per-partition lineage rows. */
  private[io] final case class Manifest(stage: String, run_id: String, rows: Long,
      checksum: String, wall_ms: Long, partitions: Seq[Partition])
  private[io] final case class Partition(partition_id: Int, rows_out: Long, checksum: String)

  val MetricsSchema: StructType = StructType.fromDDL(
    "stage STRING, run_id STRING, partition_id INT, rows_out BIGINT, checksum STRING, wall_ms BIGINT")

  private val Json = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(FAIL_ON_TRAILING_TOKENS, FAIL_ON_MISSING_CREATOR_PROPERTIES, FAIL_ON_NULL_CREATOR_PROPERTIES)
    .build()
}
