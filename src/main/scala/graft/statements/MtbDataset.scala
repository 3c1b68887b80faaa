package graft.statements

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.{Annotator, Gazetteer}
import graft.ops.DenseId
import graft.schema.WebPage
import graft.tokenize.BertTokenizer
import graft.triples.TriplePipeline

/** MTB pre-training dataset builder — the distributed equivalent of the
  * reference's `build_dataset` + `preprocess` chain (SURVEY.md §3.1):
  * statements with marker insert + tokenize + span fixup (§2.11-13) →
  * dict-encode (§2.9) → min_count filter (§2.10) → min_pool_size filter
  * → relation ids → entity-pair pools with train/validation split
  * (§1.8, §2.16).
  *
  * Shuffle boundaries match §3.1 exactly: the two dictionary groupBys, the
  * (fused) frequency groupBy and the pools groupBy; everything else is
  * narrow.
  */
object MtbDataset {

  /** The built dataset. Its frames read the caches the Result owns (the
    * statements, the tokenized relations and, with `needDims`, the x
    * dictionary's first-seen table); `close()` releases them, and the
    * frames then still answer, by recomputation. */
  final case class Result(
      tokenizedRelations: DataFrame, // relation_id, token_ids, e1_span, e2_span, e1_id, e2_id
      pools: DataFrame,              // e1_id, e2_id, relation_ids, set
      e1Pool: DataFrame,
      e2Pool: DataFrame,
      xDim: DataFrame,               // null when built with needDims = false
      eDim: DataFrame)(             // null when built with needDims = false
      cached: Seq[DataFrame]) extends AutoCloseable {
    def close(): Unit = graft.Persist.release(cached: _*)
  }

  /** @param probe measurement hook: called once per pipeline stage with
    *   (stageName, constructThunk). The thunk CONSTRUCTS the stage's
    *   DataFrame, and construction runs Spark jobs (DenseId's key passes,
    *   the dictionaries' materialization, the freq-filter
    *   `Regime.collectUpTo`), so a benchmark that wants honest per-stage
    *   times must invoke the thunk INSIDE its timed window and then force
    *   the result. The probe MUST invoke the thunk exactly once; the
    *   default just constructs.
    * @param needDims when false, the window-text dictionary (Result.xDim)
    *   and the pruned dims are skipped entirely — callers that only
    *   consume tokenizedRelations/pools (the pair-scoring and loss paths)
    *   otherwise pay the dictionary's groupBy + rank probe for output they
    *   discard. The "dict_x" probe stage is not emitted in that mode, no
    *   statement carries its window text, and Result.xDim/eDim are null.
    *
    * When a stage throws (or the probe does), the caches already held are
    * released before the exception propagates. */
  def build(
      spark: SparkSession,
      pages: Dataset[WebPage],
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      minCount: Int = 2,
      minPoolSize: Int = 8,
      needDims: Boolean = true,
      probe: (String, () => DataFrame) => Unit = (_, f) => { f(); () }): Result = {
    import spark.implicits._

    // every cache this build makes, in order: the Result owns them, or a
    // stage that throws releases them
    val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { held += graft.Persist.hold(df); held.last }

    def stage(name: String)(f: => DataFrame): DataFrame = {
      var out: DataFrame = null
      try {
        probe(name, () => { out = f; out })
        require(out != null, s"probe for stage '$name' did not invoke the construction thunk")
      } catch {
        case e: Throwable =>
          graft.Persist.release(held.toSeq: _*)
          throw e
      }
      out
    }

    // one row per statement window, encoded where it is found:
    // (docOrd, pairOrd, x_text, e1, e2, token_ids, e1_span, e2_span), with
    // token_ids null where the markers vanish (the reference's ValueError
    // path; those rows still count in the dictionaries and the pair
    // filter, and are dropped after it). Each document is walked once by
    // TriplePipeline.encodeDoc, with the fused pass's per-partition
    // wordpiece memo. Cached (owned by the Result): the dictionaries, the
    // keep-set count and the fact join scan it.
    val statements = stage("statements") {
      // the default Config's mention filters are the identity: the MTB
      // path takes every gazetteer hit
      val cfg = TriplePipeline.Config()
      TriplePipeline
        .normalizePages(pages, cfg)
        .as[(String, String)]
        .mapPartitions { rows =>
          val tok = tokenizer.value
          val g = gaz.value
          val cache = new java.util.HashMap[String, Markers.TokPieces](4096)
          rows.flatMap { case (url, textNorm) =>
            val doc = TriplePipeline.filterMentions(Annotator.annotate(url, textNorm, g), cfg)
            val docOrd = TriplePipeline.stableDocOrd(url)
            val out = ArrayBuffer.empty[
              (Long, Int, String, String, String, Array[Int], Array[Int], Array[Int])]
            TriplePipeline.encodeDoc(doc, tok, cache, cfg.windowSize) {
              (pairOrd, rStart, rEnd, i1, i2, enc) =>
                val x =
                  if (!needDims) null
                  else doc.tokens.view.slice(rStart, rEnd).mkString(" ")
                out += ((docOrd, pairOrd, x, doc.mentions(i1).text, doc.mentions(i2).text,
                  if (enc == null) null else enc.tokenIds,
                  if (enc == null) null else Array(enc.e1Span.start, enc.e1Span.end),
                  if (enc == null) null else Array(enc.e2Span.start, enc.e2Span.end)))
            }
            out.iterator
          }
        }
        .toDF("docOrd", "pairOrd", "x_text", "e1", "e2", "token_ids", "e1_span", "e2_span")
        .transform(hold)
    }

    // the x dictionary's first-seen table is held too: the rank probe
    // populates it and the lazy id attach reads it, so a caller that never
    // reads Result.xDim pays no attach pass. Every window carries its text
    // here; the coalesce only types the key non-null, as the dictionary has it
    val xDim0 = if (needDims) stage("dict_x") {
      Encode.xDict(hold(DenseId.firstSeen(
        statements, coalesce(col("x_text"), lit("")).as("x_text"), col("docOrd"), col("pairOrd"))))
    } else null
    // the entity dictionary is dimension-sized (distinct surface forms) and
    // is consumed three times (two broadcast builds in encodeFact + the
    // prune semi join) — eDict returns it materialized, so each broadcast
    // reads the stored rows instead of re-running the dictionary plan
    val eDim0 = stage("dict_e") { Encode.eDict(statements) }
    val fact = Encode.encodeFact(statements, eDim0)

    // min_count (build) then min_pool_size (preprocess) both filter on the
    // SAME key's count — and dropping whole (e1_id, e2_id) groups leaves
    // every surviving group's count unchanged, so the chained filters are
    // exactly one filter at max(minCount, minPoolSize). The keep set is
    // counted on the cached statements' surface (e1, e2) keys — a
    // bijection of the id keys, so the groups are identical — which
    // column-prunes the count to two string columns.
    //
    // Cached HERE (not after DenseId): the relation-id key pass populates
    // the cache, and the id attach and every downstream consumer read it
    // instead of re-running the filter join.
    var afterPool: DataFrame = null
    val tokEnc = stage("filter_tokenize_encode") {
      afterPool = Encode.freqFilter(
        fact, statements, Seq("e1", "e2"), math.max(minCount, minPoolSize))
      afterPool
        .filter(col("token_ids").isNotNull)
        .select(col("docOrd"), col("pairOrd"), col("e1_id"), col("e2_id"),
          col("token_ids"), col("e1_span"), col("e2_span"))
        .transform(hold)
    }
    val (xDim, eDim) =
      if (needDims) Encode.pruneDims(afterPool, xDim0, eDim0) else (null, null)

    // dense relation ids over the cached tokenized rows; not cached again:
    // each consumer's id attach is a cheap read of the tokEnc cache
    val withIds = stage("relation_ids") { Encode.withRelationIds(tokEnc) }
    val pools = stage("pools") { Encode.pools(withIds) }
    Result(
      tokenizedRelations = withIds,
      pools = pools,
      // derived from the PAIR pools (the same per-entity multiset as the
      // fact table), so they aggregate pool rows, not statements
      e1Pool = Encode.entityPoolFromPools(pools, "e1"),
      e2Pool = Encode.entityPoolFromPools(pools, "e2"),
      xDim = xDim,
      eDim = eDim)(
      cached = held.toSeq)
  }

  /** Pool shuffling iterator (§2.17): the reference re-shuffles the pool
    * list every epoch (`np.random.shuffle`); the distributed equivalent is
    * a seeded epoch-keyed total order — deterministic under any
    * partitioning, and a range exchange rather than a driver sort. */
  def shuffledPools(pools: DataFrame, epoch: Int, seed: Long = 42L): DataFrame =
    pools.orderBy(
      PortableRng.drawCol(
        PortableRng.keyCol(lit(seed), col("e1_id"), col("e2_id"), lit(epoch.toLong)),
        lit(4L), lit(0L)),
      col("e1_id"), col("e2_id"))

  /** Positive sampling (§2.18, reference `random.sample(positives, n)`
    * in `mtb_data_generator.py:136`): up to maxSize relation ids per pool,
    * uniform without replacement via a keyed-permutation rank — order the
    * pool by the portable per-(pool,epoch) draw and keep the first n.
    * Pure Column arithmetic (codegen, PortableRng) so the DuckDB oracle
    * replays the identical sample. */
  def samplePositives(
      pools: DataFrame,
      maxSize: Int,
      epoch: Int,
      seed: Long = 42L): DataFrame = {
    val key = PortableRng.keyCol(lit(seed), col("e1_id"), col("e2_id"), lit(epoch.toLong))
    pools
      .withColumn("rid", explode(col("relation_ids")))
      .withColumn("h", PortableRng.drawCol(key, lit(3L), col("rid")))
      .withColumn(
        "rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("e1_id"), col("e2_id"))
            .orderBy(col("h"), col("rid"))))
      .filter(col("rn") <= maxSize)
      .drop("h", "rn")
  }

  /** The sampled-positive set for one pool — MUST stay in lockstep with
    * `samplePositives` (same stream tag 3, same (h, rid) tiebreak): the
    * reference collides fallback negative draws against `pos_idxs`, the
    * SAMPLED positives (`mtb_data_generator.py:139,186-192`), not the
    * pool's full positive list. */
  private[statements] def positiveSample(
      key: Long, positives: Seq[Long], maxSize: Int): Set[Long] = {
    val n = if (maxSize > 0) math.min(maxSize, positives.length) else positives.length
    nSmallestByDraw(positives, n, key, 3L).toSet
  }

  /** First n of the keyed permutation — selection, not sort: pools can be
    * huge (hot entities share an e1/e2 pool with every co-occurring
    * statement), and sorting a 100k-element candidate list to take 4 is
    * O(len log len) per pool; a bounded max-heap selection is O(len log n)
    * with n tiny. Order matches `ORDER BY draw, rid LIMIT n` exactly. */
  private[statements] def nSmallestByDraw(
      xs: Seq[Long], n: Int, key: Long, tag: Long): Array[Long] = {
    if (n <= 0) return Array.emptyLongArray
    // max-heap of the n smallest (draw, rid) pairs
    val ord = Ordering.by[(Long, Long), (Long, Long)](identity)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](ord)
    xs.foreach { r =>
      val k = (PortableRng.draw(key, tag, r), r)
      if (heap.size < n) heap.enqueue(k)
      else if (ord.lt(k, heap.head)) { heap.dequeue(); heap.enqueue(k) }
    }
    val out = new Array[Long](heap.size)
    var i = heap.size - 1
    while (i >= 0) { out(i) = heap.dequeue()._2; i -= 1 }
    out
  }

  /** Negative candidates for a pool (§2.19): relations sharing e1 but not
    * e2 (or vice versa) — the reference's set difference becomes
    * array_except over the pre-grouped pools. */
  def negativeCandidates(
      pools: DataFrame,
      e1Pool: DataFrame,
      e2Pool: DataFrame): DataFrame =
    pools
      .join(e1Pool.withColumnRenamed("relation_ids", "e1_rids"), Seq("e1_id"))
      .join(e2Pool.withColumnRenamed("relation_ids", "e2_rids"), Seq("e2_id"))
      .withColumn("neg_e1_not_e2", array_except(col("e1_rids"), col("e2_rids")))
      .withColumn("neg_e2_not_e1", array_except(col("e2_rids"), col("e1_rids")))
      .drop("e1_rids", "e2_rids")

  /** Full negative-sampling semantics of the reference's
    * `_sample_negative_indices` (`mtb_data_generator.py:161-193`), with
    * every `np.random`/`random` draw replaced by a PortableRng counter
    * stream keyed by (seed, e1_id, e2_id, epoch) — deterministic under any
    * partitioning AND bit-exactly replayable by the DuckDB oracle:
    *
    *  1. with p=0.5 sample WITHOUT replacement from one set-difference
    *     candidate pool (e1-side vs e2-side chosen p=0.5), size
    *     min(maxSize, |pool|). `random.sample` becomes a keyed-permutation
    *     rank (order by draw, take n) — still uniform w/o replacement.
    *  2. otherwise — or when the chosen pool is empty — uniform draws WITH
    *     replacement from the dense relation-id space [0, nRelations)
    *     (dense ids == the reference's index into all_relation_ids),
    *     re-drawing the WHOLE batch while any id collides with this pool's
    *     SAMPLED positives — `pos_idxs`, the `random.sample` output, NOT
    *     the pool's full positive list (`mtb_data_generator.py:139,192`).
    *     The reference's `while` is unbounded; the engine caps it at
    *     `maxAttempts` and then filters the final batch against the
    *     sampled positives — a totality guard that cannot trigger unless
    *     positives cover ~the whole id space (deliberate deviation).
    *
    * Output: (e1_id, e2_id, set, negative_ids). */
  def sampleNegatives(
      pools: DataFrame,
      e1Pool: DataFrame,
      e2Pool: DataFrame,
      nRelations: Long,
      maxSize: Int,
      epoch: Int,
      seed: Long = 42L,
      maxAttempts: Int = 100): DataFrame = {
    val spark = pools.sparkSession
    import spark.implicits._
    require(nRelations > 0, "sampleNegatives needs a non-empty relation set")

    negativeCandidates(pools, e1Pool, e2Pool)
      .select(
        col("e1_id"), col("e2_id"), col("set"), col("relation_ids"),
        col("neg_e1_not_e2"), col("neg_e2_not_e1"))
      .as[(Long, Long, String, Seq[Long], Seq[Long], Seq[Long])]
      .map { case (e1, e2, set, positives, negE1, negE2) =>
        val k = PortableRng.key(seed, e1, e2, epoch.toLong)
        val posSample = positiveSample(k, positives, maxSize)
        var negs: Array[Long] = Array.emptyLongArray
        if (PortableRng.draw(k, 0L, 0L) > PortableRng.Half) {
          val side = if (PortableRng.draw(k, 0L, 1L) > PortableRng.Half) negE1 else negE2
          val n = if (maxSize > 0) math.min(maxSize, side.length) else side.length
          negs = nSmallestByDraw(side, n, k, 1L)
        }
        if (negs.isEmpty) {
          val n = math.min(
            if (maxSize > 0) maxSize.toLong else nRelations, nRelations).toInt
          var a = 0
          var accepted: Array[Long] = null
          var last: Array[Long] = Array.emptyLongArray
          while (accepted == null && a < maxAttempts) {
            val d = Array.tabulate(n)(i =>
              PortableRng.drawInt(k, 2L, a.toLong * n + i, nRelations))
            if (!d.exists(posSample.contains)) accepted = d
            last = d
            a += 1
          }
          negs = if (accepted != null) accepted else last.filterNot(posSample.contains)
        }
        (e1, e2, set, negs.toSeq)
      }
      .toDF("e1_id", "e2_id", "set", "negative_ids")
  }
}
