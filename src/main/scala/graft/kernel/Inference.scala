package graft.kernel

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Broadcast-model mapPartitions inference driver (SURVEY.md §2.22-2.24).
  *
  * Scale design: the model is broadcast once per executor; rows are length-
  * bucketed inside each partition (`sortWithinPartitions(size)`, the Spark
  * equivalent of the reference's batch length sort,
  * `preprocessing_funcs.py:92-98`) so padding waste stays low; batches are
  * padded to the batch max like Pad_Sequence (`:75-119`) and scored in one
  * kernel call. No collect, no driver loop — pure per-partition streaming.
  */
object Inference {

  final case class ScoreInput(id: Long, tokenIds: Seq[Int], e1Start: Int, e2Start: Int)
  final case class Scored(id: Long, pred: Int)

  def classify(
      spark: SparkSession,
      in: Dataset[ScoreInput],
      kernel: Broadcast[ScoringKernel],
      padId: Int,
      batchSize: Int = 64,
      maxSeqLen: Int = 512): Dataset[Scored] = {
    import spark.implicits._
    in.sortWithinPartitions(size($"tokenIds"))
      .mapPartitions { rows =>
        val k = kernel.value
        rows.grouped(batchSize).flatMap { group =>
          val batch = group.toArray
          val preds = padAndScore(
            k, batch.map(r => (r.tokenIds.take(maxSeqLen).toArray, r.e1Start, r.e2Start)), padId)
          batch.indices.map(i => Scored(batch(i).id, preds(i)))
        }
      }
  }

  /** One batch through the kernel: pads every row to the batch's longest
    * with `padId`, scores them in one `scoreBatch` call and returns each
    * row's argmax label id. Rows are not truncated. */
  def padAndScore(k: ScoringKernel, batch: Array[(Array[Int], Int, Int)], padId: Int): Array[Int] = {
    val maxLen = if (batch.isEmpty) 0 else batch.map(_._1.length).max
    k.scoreBatch(batch.map { case r @ (ids, e1, e2) =>
      if (ids.length == maxLen) r else (ids ++ Array.fill(maxLen - ids.length)(padId), e1, e2)
    }).map(StubKernel.argmax)
  }
}
