package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.{Annotator, Gazetteer}

/** KG-construction operators exposed over generic document tables (the
  * driver's `documents` parquet): mention detection, banded pair windows,
  * first-appearance dictionary encoding, co-occurrence graph + components.
  * These are the same engine stages the page pipeline uses, parameterized
  * by an arbitrary gazetteer. */
object KgOps {

  /** Default gazetteer for the TPC-H-ish synthetic documents vocabulary. */
  val DocGazetteer: Seq[String] = Seq(
    "spark", "table", "join", "merge", "window", "stream", "vector",
    "customer", "query", "batch")

  /** Kind labels for the documents gazetteer — stand-in for spaCy NER
    * labels; the operator under test is the reference's entity-kind
    * allow-list (`src/tasks/infer.py:50-63`), which filters detected
    * entities to `entities_of_interest` before pair generation. */
  val DocKinds: Map[String, String] = Map(
    "spark" -> "SYS", "table" -> "SYS", "join" -> "SYS", "merge" -> "SYS",
    "window" -> "SYS",
    "stream" -> "DATA", "vector" -> "DATA", "customer" -> "DATA",
    "query" -> "DATA", "batch" -> "DATA")

  /** First-occurrence mention positions per document: (doc_id, mention,
    * pos). Runs the real Annotator (gazetteer match + dedupe-first-wins)
    * as one narrow flatMap. */
  def mentions(
      spark: SparkSession,
      docs: DataFrame,
      surfaces: Seq[String] = DocGazetteer): DataFrame =
    mentionsWithKinds(spark, docs, surfaces).drop("kind")

  /** Mentions with their kind label: (doc_id, mention, pos, kind). */
  def mentionsWithKinds(
      spark: SparkSession,
      docs: DataFrame,
      surfaces: Seq[String] = DocGazetteer): DataFrame = {
    import spark.implicits._
    val gaz = spark.sparkContext.broadcast(
      new Gazetteer(surfaces, s => DocKinds.getOrElse(s, "ENT")))
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        Annotator.annotate(id.toString, text, gaz.value).mentions.map { m =>
          (id, m.text, m.start, m.kind)
        }
      }
      .toDF("doc_id", "mention", "pos", "kind")
  }

  /** Rule-based noun-phrase mentions over a documents table:
    * (doc_id, mention, pos, rule) with rule in {'cap','det'} — see
    * [[graft.annotate.NounPhrases]]. One narrow flatMap; whitespace
    * tokenization (matching the SQL oracle's token CTE; the
    * Annotator-integrated path uses the punctuation-aware tokenizer). */
  def npMentions(spark: SparkSession, docs: DataFrame, maxLen: Int = 3): DataFrame = {
    import spark.implicits._
    docs
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.annotate.NounPhrases
          .candidates(graft.textnorm.PyText.pySplit(text).toIndexedSeq, maxLen)
          .map { case (m, p, r) => (id, m, p, r) }
      }
      .toDF("doc_id", "mention", "pos", "rule")
  }

  /** NER-kind allow-list filter (§2.36; reference `infer.py:50-63`):
    * mentions whose kind is outside `allowed` never reach pair
    * generation. A narrow Column filter — pushes into the same stage as
    * the annotate flatMap. */
  def mentionsFiltered(
      spark: SparkSession,
      docs: DataFrame,
      allowed: Set[String],
      surfaces: Seq[String] = DocGazetteer): DataFrame =
    mentionsWithKinds(spark, docs, surfaces)
      .filter(col("kind").isin(allowed.toSeq: _*))

  /** The banded self-join (§2.8's band predicate, row-local): ordered
    * mention pairs of one document with 1 <= p2 - p1 <= 40, as
    * (doc_id, m1, p1, m2, p2). */
  private[graft] def bandJoin(mentionsDf: DataFrame): DataFrame = {
    val a = mentionsDf.select(col("doc_id"), col("mention").as("m1"), col("pos").as("p1"))
    val b = mentionsDf.select(col("doc_id"), col("mention").as("m2"), col("pos").as("p2"))
    a.join(b, Seq("doc_id"))
      .filter(col("p2") - col("p1") >= 1 && col("p2") - col("p1") <= 40)
  }

  /** Banded pair counts per doc: (doc_id, n_pairs). */
  def bandPairCounts(mentionsDf: DataFrame): DataFrame =
    bandJoin(mentionsDf).groupBy("doc_id").agg(count(lit(1)).as("n_pairs"))

  /** Banded mention pairs with surfaces (for frequency/graph stages). */
  def bandPairs(mentionsDf: DataFrame): DataFrame =
    bandJoin(mentionsDf).select(col("doc_id"), col("m1"), col("m2"))

  /** First-appearance dense ids for mention surfaces: (mention, e_id) —
    * the §2.9 dictionary-encode over an arbitrary mention table, in the
    * least (doc_id, pos) order of [[DenseId.firstSeen]]. The
    * bounded-driver rank probe (withDenseIdProbed) assigns ids from ONE
    * column-pruned key pass when the dictionary fits the driver bound —
    * no range exchange, no RangePartitioner sample pass, no zipWithIndex
    * offsets job; above the bound the classic range-partitioned DenseId
    * path runs with bit-identical ids. */
  def dictEncode(mentionsDf: DataFrame): DataFrame = {
    // the dimension-sized first-seen table is cached (the eDict idiom): the
    // rank probe's key pass populates it, the id attach reads it
    val firstSeen = DenseId.firstSeen(mentionsDf, col("mention"), col("doc_id"), col("pos"))
    graft.Persist.within(firstSeen) {
      DenseId
        .withDenseIdProbed(firstSeen, "e_id", Seq("__d", "__p"))
        .select("mention", "e_id")
    }
  }

  /** Pair frequencies with min-support filter (§2.10). */
  def pairFreq(pairs: DataFrame, minCount: Long): DataFrame =
    pairs
      .groupBy("m1", "m2")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)

  /** Mention co-occurrence graph → connected components over mention ids:
    * (e_id, component). */
  def mentionComponents(spark: SparkSession, mentionsDf: DataFrame): DataFrame = {
    // three consumers (dict, pairs, and the final left join) — cached so
    // the upstream mention flatMap runs once, not three times
    graft.Persist.within(mentionsDf) {
      val dict = dictEncode(mentionsDf)
      val freq = pairFreq(bandPairs(mentionsDf), 1L)
      val edges = freq
        .join(dict.withColumnRenamed("mention", "m1").withColumnRenamed("e_id", "src"), Seq("m1"))
        .join(dict.withColumnRenamed("mention", "m2").withColumnRenamed("e_id", "dst"), Seq("m2"))
        .select("src", "dst")
      graft.link.ConnectedComponents.labelNodes(spark, edges, dict, "e_id", "component")
        .select("e_id", "component")
    }
  }
}
