package graft.statements

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{DenseId, KgOps}

/** The MTB statement/pool/sampling chain grounded on a generic `documents`
  * table (driver parquet) instead of the synthetic page corpus: banded
  * mention pairs → first-appearance dictionary → pair-frequency filter →
  * dense relation ids → entity-pair pools → seeded train/validation split
  * → positive/negative sampling.
  *
  * Same operator code as the Corpus-based MtbDataset path (Encode.pools,
  * Encode.entityPoolFromPools, MtbDataset.samplePositives/sampleNegatives) — but
  * every stage here is ANSI-SQL-expressible, so the whole sampling battery
  * gets an exact DuckDB oracle (reference semantics:
  * `mtb_data_loader.py:427-561`, `mtb_data_generator.py:129-193`).
  *
  * Scale shape: mentions are one narrow flatMap; the dictionary is a dim
  * (DenseId range exchange over distinct surfaces, broadcast back); the
  * frequency filter is a partial+final hash agg plus a semi join against
  * the keep set (broadcast below its budget); relation ids are a range
  * exchange of the statements; pools are the salted two-phase list
  * collection. No stage materializes more than one partition's rows at a
  * time.
  */
object MtbDocOps {

  /** Statements over documents: (doc_id, p1, p2, e1_id, e2_id,
    * relation_id), pair-frequency-filtered (min_count 2) with dense
    * relation ids assigned in (doc_id, p1, p2) order — the reference's
    * np.arange-after-filtering (`mtb_data_loader.py:249`).
    *
    * The annotate flatMap and the filtered pair set are cached for the
    * call only ([[graft.Persist.within]]): their consumers are the
    * dictionary's key and attach passes, the band join's two sides, the
    * keep-set count, the relation-id probe and attach; the statements are
    * materialized before both are released, so nothing stays cached. */
  def statements(spark: SparkSession, docs: DataFrame): DataFrame = {
    // one annotate pass for the dictionary and both band-join sides
    val m = KgOps.mentions(spark, docs)
    graft.Persist.within(m) {
      val dict = KgOps.dictEncode(m)
      val enc = KgOps.bandJoin(m)
        .join(broadcast(dict.withColumnRenamed("mention", "m1")
          .withColumnRenamed("e_id", "e1_id")), Seq("m1"))
        .join(broadcast(dict.withColumnRenamed("mention", "m2")
          .withColumnRenamed("e_id", "e2_id")), Seq("m2"))
        .select(col("doc_id"), col("p1"), col("p2"), col("e1_id"), col("e2_id"))
      // cached: the id probe's key pass populates it, the attach reads it
      val filtered = Encode.freqFilter(enc, enc, Seq("e1_id", "e2_id"), 2)
      // (doc_id, p1, p2) is a total order: mention positions are unique
      // within a document (first-occurrence per distinct surface). Bounded
      // driver rank (positions are document-local, well under the packed
      // 2^15/2^16 bounds); the classic range exchange is the fallback.
      graft.Persist.within(filtered) {
        DenseId.withDenseIdProbed(filtered, "relation_id", Seq("doc_id", "p1", "p2"))
      }
    }
  }
}
