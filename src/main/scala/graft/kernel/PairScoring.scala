package graft.kernel

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Blank-relation similarity scoring (SURVEY.md §2.25): dot/cosine products
  * of pair embeddings within entity-pair pools — the reference computes
  * torch.mm over all positive combinations and pos×neg pairs
  * (`model/mtb_loss.py:43-66`, cosine variant `mtb_model.py:472-475`).
  *
  * Distributed shape: a self-join of the embedding table on the pool key.
  * Pools are small (bounded by max_size sampling), so the join is
  * hash-partitioned on pool id with partial aggregation; no driver loops.
  */
object PairScoring {

  /** All within-pool ordered pairs scored by cosine.
    * @param embedded (pool_id: long, relation_id: long, emb: array<float>) */
  def positivePairScores(embedded: DataFrame): DataFrame = {
    val a = embedded.select(
      col("pool_id"), col("relation_id").as("rid_a"), col("emb").as("emb_a"))
    val b = embedded.select(
      col("pool_id"), col("relation_id").as("rid_b"), col("emb").as("emb_b"))
    a.join(b, Seq("pool_id"))
      .filter(col("rid_a") < col("rid_b"))
      .withColumn("score", Similarity.cosineCol(col("emb_a"), col("emb_b")))
      .select("pool_id", "rid_a", "rid_b", "score")
  }

  /** Deterministic stub pair embedding from token ids (feature-hash bag) —
    * the embedding-producing stand-in for bert.py's fewrel head. */
  def stubEmbedding(tokenIds: Seq[Int], dim: Int = 64): Array[Float] = {
    val v = new Array[Float](dim)
    tokenIds.foreach { t =>
      var h = t.toLong * 0x9e3779b97f4a7c15L
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      val idx = ((h >>> 33) % dim).toInt
      v(idx) += (if ((h & 1) == 0) 1f else -1f)
    }
    val n = math.sqrt(v.map(x => x * x).sum).toFloat
    if (n > 0) v.map(_ / n) else v
  }

  /** Embed encoded statements with the stub head (mapPartitions, broadcast-
    * model shape identical to Inference.classify). */
  def embed(spark: SparkSession, in: DataFrame, dim: Int = 64): DataFrame = {
    import spark.implicits._
    in.select(col("pool_id").cast("long"), col("relation_id").cast("long"), col("token_ids"))
      .as[(Long, Long, Seq[Int])]
      .mapPartitions(_.map { case (p, r, ids) => (p, r, stubEmbedding(ids, dim)) })
      .toDF("pool_id", "relation_id", "emb")
  }
}
