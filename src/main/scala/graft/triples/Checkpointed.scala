package graft.triples

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.annotate.Gazetteer
import graft.io.CheckpointManager
import graft.kernel.ScoringKernel
import graft.schema.{Triple, WebPage}
import graft.tokenize.BertTokenizer

/** Resumable variant of the flagship pipeline (north rule: "resumable from
  * checkpoint with per-partition lineage + metrics"): two stages through
  * the CheckpointManager around the same code [[TriplePipeline.run]] runs.
  * `text_norm` materializes the per-url byte-identity surface; `triples`
  * runs the fused annotate → window → encode → score pass over it, one
  * narrow stage with no exchange. A killed run restarts at the first
  * incomplete stage and reproduces identical triples (both stages are
  * deterministic functions of their inputs). */
object Checkpointed {

  def run(
      spark: SparkSession,
      pages: Dataset[WebPage],
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      kernel: Broadcast[ScoringKernel],
      idx2rel: Broadcast[Map[Int, String]],
      ckptRoot: String,
      runId: String,
      cfg: TriplePipeline.Config = TriplePipeline.Config()): Dataset[Triple] = {
    import spark.implicits._
    val mgr = new CheckpointManager(spark, ckptRoot, runId)
    val textNorm = mgr.stage("text_norm") { TriplePipeline.normalizePages(pages, cfg) }
    mgr.stage("triples") {
      TriplePipeline
        .triplesFromNormalized(spark, textNorm, gaz, tokenizer, kernel, idx2rel, cfg)
        .toDF()
    }.as[Triple]
  }
}
