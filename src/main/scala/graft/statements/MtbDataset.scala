package graft.statements

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.Gazetteer
import graft.schema.WebPage
import graft.tokenize.BertTokenizer
import graft.triples.TriplePipeline

/** MTB pre-training dataset builder — the distributed equivalent of the
  * reference's `build_dataset` + `preprocess` chain (SURVEY.md §3.1):
  * statements → dict-encode (§2.9) → min_count filter (§2.10) →
  * min_pool_size filter → marker insert + tokenize + span fixup (§2.11-13)
  * → relation ids → entity-pair pools with train/validation split
  * (§1.8, §2.16).
  *
  * Shuffle boundaries match §3.1 exactly: the two dictionary groupBys, the
  * (fused) frequency groupBy and the pools groupBy; everything else is
  * narrow.
  */
object MtbDataset {

  /** The built dataset. Its frames read two caches the Result owns (the
    * statements and the tokenized relations); `close()` releases them, and
    * the frames then still answer, by recomputation. */
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
    *   discard. The "dict_x" probe stage is not emitted in that mode;
    *   Result.xDim/eDim are null. */
  def build(
      spark: SparkSession,
      pages: Dataset[WebPage],
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      minCount: Int = 2,
      minPoolSize: Int = 8,
      windowSize: Int = 40,
      splitSeed: Long = 42L,
      needDims: Boolean = true,
      probe: (String, () => DataFrame) => Unit = (_, f) => { f(); () }): Result = {
    import spark.implicits._

    def stage(name: String)(f: => DataFrame): DataFrame = {
      var out: DataFrame = null
      probe(name, () => { out = f; out })
      require(out != null, s"probe for stage '$name' did not invoke the construction thunk")
      out
    }

    // statements as a DataFrame (docOrd, pairOrd, tokens, spans, e1, e2)
    // — cached (owned by the Result): the dictionaries and the fact join
    // scan it four times; without the cache the whole
    // scan→annotate→window pass re-runs per consumer
    val statements = stage("statements") {
      // the default Config's mention filters are the identity: the MTB
      // path takes every gazetteer hit
      val cfg = TriplePipeline.Config(windowSize = windowSize)
      TriplePipeline
        .normalizePages(pages, cfg)
        .as[(String, String)]
        .flatMap { case (url, textNorm) =>
          TriplePipeline.docStatements(url, textNorm, gaz.value, cfg)
        }
        .toDF()
        // url is identification-only in the MTB path (docOrd carries the
        // deterministic order); dropping it before the cache trims every
        // cached/shuffled row
        .drop("url")
        .transform(graft.Persist.hold)
    }

    val xDim0 = if (needDims) stage("dict_x") { Encode.xDict(statements) } else null
    // the entity dictionary is dimension-sized (distinct surface forms) and
    // is consumed three times (two broadcast builds in encodeFact + the
    // prune semi join) — eDict returns it materialized, so each broadcast
    // reads the stored rows instead of re-running the dictionary plan
    val eDim0 = stage("dict_e") { Encode.eDict(statements) }
    val fact = Encode.encodeFact(statements, eDim0)

    // min_count (build) then min_pool_size (preprocess) both filter on the
    // SAME key's count — and dropping whole (e1_id, e2_id) groups leaves
    // every surviving group's count unchanged, so the chained filters are
    // exactly one filter at max(minCount, minPoolSize): one count-agg +
    // one semi join instead of two of each.
    //
    // The keep set is computed from the cached STATEMENTS on the surface
    // (e1, e2) text keys — a bijection of the id keys, so the groups are
    // identical — which column-prunes the count-agg scan to two string
    // columns instead of recomputing the whole dictionary join a second
    // time as the semi join's build side. Regime split: up to
    // `Regime.MaxBroadcastPairs` surviving pairs the collected keep set IS
    // the broadcast (a LocalRelation, not a re-run aggregation) — the fact
    // side never exchanges, and the filter fuses into the tokenize
    // mapPartitions stage as one narrow chain. Above the budget (a huge
    // pair dictionary) the distributed semi join's shuffle is the right
    // shape.
    val minKeep = math.max(minCount, minPoolSize)
    var afterPool: DataFrame = null

    // marker insertion + tokenize + span fixup; drop rows whose markers
    // vanish (ValueError path) — counted by the caller via metrics.
    // Per-partition wordpiece memo, same as the fused inference pipeline:
    // statement windows draw from a near-closed vocabulary, so each
    // distinct surface tokenizes once per partition, not once per row.
    //
    // Cached HERE (not after DenseId): the relation-id key pass populates
    // the cache, and the id attach and every downstream consumer read it
    // instead of re-running the join+tokenize chain.
    val tokEnc = stage("filter_tokenize_encode") {
      afterPool =
        if (minKeep <= 1) fact
        else {
          val keepPairs = statements
            .groupBy(col("e1"), col("e2")).count()
            .filter(col("count") >= minKeep)
            .select(col("e1"), col("e2"))
          graft.Regime.collectUpTo(keepPairs, graft.Regime.MaxBroadcastPairs) match {
            case Some(local) =>
              val localDf = spark.createDataFrame(
                java.util.Arrays.asList(local: _*), keepPairs.schema)
              fact.join(broadcast(localDf), Seq("e1", "e2"), "left_semi")
            case None => fact.join(keepPairs, Seq("e1", "e2"), "left_semi")
          }
        }
      afterPool
        .mapPartitions { rows =>
          val tok = tokenizer.value
          val cache = new java.util.HashMap[String, Markers.TokPieces](4096)
          rows.map { row =>
            // no defensive .toSeq copy: encodeCached only reads the
            // row-backed sequence inside this map call
            val tokens: scala.collection.Seq[String] =
              row.getAs[scala.collection.Seq[String]]("tokens")
            val e1 = graft.schema.Span(row.getAs[Int]("e1s"), row.getAs[Int]("e1e"))
            val e2 = graft.schema.Span(row.getAs[Int]("e2s"), row.getAs[Int]("e2e"))
            val encOpt = Markers.encodeCached(tok, cache)(tokens, e1, e2)
            (
              row.getAs[Long]("docOrd"),
              row.getAs[Int]("pairOrd"),
              row.getAs[Long]("e1_id"),
              row.getAs[Long]("e2_id"),
              encOpt.map(_.tokenIds).orNull,
              encOpt.map(e => Seq(e.e1Span.start, e.e1Span.end)).orNull,
              encOpt.map(e => Seq(e.e2Span.start, e.e2Span.end)).orNull)
          }
        }
        .toDF("docOrd", "pairOrd", "e1_id", "e2_id", "token_ids", "e1_span", "e2_span")
        .filter(col("token_ids").isNotNull)
        .transform(graft.Persist.hold)
    }
    val (xDim, eDim) =
      if (needDims) Encode.pruneDims(afterPool, xDim0, eDim0) else (null, null)

    // dense relation ids over the cached tokenized rows; not cached again:
    // each consumer's id attach is a cheap read of the tokEnc cache
    val withIds = stage("relation_ids") { Encode.withRelationIds(tokEnc) }
    val pools = stage("pools") { Encode.pools(withIds, splitSeed) }
    Result(
      tokenizedRelations = withIds,
      pools = pools,
      // derived from the PAIR pools (the same per-entity multiset as the
      // fact table), so they aggregate pool rows, not statements
      e1Pool = Encode.entityPoolFromPools(pools, "e1"),
      e2Pool = Encode.entityPoolFromPools(pools, "e2"),
      xDim = xDim,
      eDim = eDim)(
      cached = Seq(statements, tokEnc))
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
