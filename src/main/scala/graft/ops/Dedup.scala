package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Persist, Regime}
import graft.link.{ConnectedComponents, MinHashLSH, UnionFind}

/** Deduplication operators for training-data curation at corpus scale.
  *
  * - exact: one hash-aggregate over the normalized text (partial+final
  *   combine; the canonical id is min(doc_id) so output is deterministic)
  * - minhash: shingle → signature → banded LSH → verified edges →
  *   connected components → cluster representative (scales linearly; the
  *   hot-bucket cap in MinHashLSH bounds worst-case skew)
  * - simhash: 64-bit near-dup signature, hamming-bucket join
  * - ngram-jaccard: exact verification operator for candidate pairs
  */
object Dedup {

  /** Exact dedup: (doc_id, canonical_id, dup_count). canonical = min id of
    * identical text.
    *
    * Scale shape: group/join on a 128-bit text digest plus the text length:
    * two independently seeded xxhash64 values (`__th` under Spark's seed 42,
    * `__th2` = xxhash64(salt, text), i.e. under the seed xxhash64(salt)), so
    * a false merge needs both 64-bit hashes to collide AND equal lengths —
    * out of reach at crawl scale, where one 64-bit digest is not. The text
    * never leaves the scan stage: exchanges carry (hash, hash, len, id). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val key = Seq("__th", "__th2", "__tl")
    val keyed = docs.select(
      col(idCol),
      xxhash64(col(textCol)).as("__th"),
      xxhash64(lit(0x5eed2L), col(textCol)).as("__th2"),
      length(col(textCol)).as("__tl"))
    val canon = keyed
      .groupBy(key.map(col): _*)
      .agg(
        min(col(idCol)).as("canonical_id"),
        count(lit(1)).as("dup_count"))
    keyed
      .join(canon, key)
      .select(col(idCol), col("canonical_id"), col("dup_count"))
  }

  /** Near-dup clusters via MinHash/LSH + connected components:
    * (doc_id, cluster_id), one row per document. Singletons map to
    * themselves.
    *
    * Two regimes, one probe: `Regime.collectUpTo` over the (doc_id, word
    * shingle) rows of a narrow flatMap, bounded by
    * `Regime.MaxDriverPairs` — fixed-size rows, so no document text
    * reaches the driver, and every document yields at least one shingle.
    * Below the budget [[MinHashLSH.localPairs]] and a [[UnionFind]] run on
    * the driver and the result is a LocalRelation; nothing persists.
    * Above it the distributed LSH + connected-components chain runs. Both
    * regimes assume `idCol` is a key. */
  def minhashClusters(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 48,
      bands: Int = 16): DataFrame = {
    import spark.implicits._
    val shingleRows = docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, text) =>
        MinHashLSH.shinglesOf(text, MinHashLSH.ShingleK, "word").iterator.map(sh => (id, sh))
      }
    Regime.collectUpTo(shingleRows, Regime.MaxDriverPairs) match {
      case Some(rows) =>
        val shinglesById = rows.groupMap(_._1)(_._2).map { case (id, sh) => id -> sh.toSet }
        val uf = new UnionFind
        MinHashLSH.localPairs(shinglesById, numHashes, bands, threshold)
          .foreach { case (a, b) => uf.union(a, b) }
        shinglesById.keys.toSeq.map(id => (id, uf.find(id))).toDF("doc_id", "cluster_id")
      case None =>
        // one scan: the (id, text) projection is cached for the LSH
        // signature pass and the verify's two text join-backs; the id list
        // is materialized from it, so the returned label join reads no cache
        val base = docs.select(col(idCol), col(textCol))
        Persist.within(base) {
          val edges = MinHashLSH
            .similarPairs(spark, base, idCol, textCol,
              numHashes = numHashes, bands = bands, threshold = threshold,
              shingleMode = "word")
            .select(col("id_a").as("src"), col("id_b").as("dst"))
          ConnectedComponents
            .labelNodes(spark, edges,
              Persist.materialize(base.select(col(idCol).cast("long").as("doc_id"))),
              "doc_id", "cluster_id")
            .select("doc_id", "cluster_id")
        }
    }
  }

  /** Engine-portable per-token 60-bit hash: two polynomial hashes with
    * moduli < 2^30 (base 31 mod 1e9+7, base 131 mod 998244353) packed as
    * (h1 << 30) | h2 — every packed bit is informative (a 31-bit shift
    * would leave two structurally-zero bits inside the signature). Every
    * intermediate fits a signed 64-bit value, so the same function is
    * expressible in ANSI SQL / DuckDB with no wrap-around arithmetic —
    * which is what makes the simhash column oracle-checkable. */
  def tokenHash60(t: String): Long = {
    var h1 = 0L
    var h2 = 0L
    var i = 0
    while (i < t.length) {
      h1 = (h1 * 31 + t.charAt(i)) % 1000000007L
      h2 = (h2 * 131 + t.charAt(i)) % 998244353L
      i += 1
    }
    (h1 << 30) | h2
  }

  final val SimhashBits = 60

  /** 60-bit SimHash over whitespace tokens (weight 1 per token). */
  def simhash(tokens: Seq[String]): Long = {
    val acc = new Array[Int](SimhashBits)
    tokens.foreach { t =>
      val h = tokenHash60(t)
      var b = 0
      while (b < SimhashBits) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < SimhashBits) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simhashDF(spark: SparkSession, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import spark.implicits._
    docs
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, simhash(graft.textnorm.PyText.pySplit(text).toSeq))
      })
      .toDF(idCol, "simhash")
  }

  /** SimHash near-dup clusters: pairs within hamming distance `maxDist` are
    * edges; clusters are connected components (cluster_id = min member).
    *
    * Banded hamming join, not all-pairs: the 60-bit signature is sliced
    * into (maxDist + 1) disjoint bit-bands ([[bandSlices]]); by
    * pigeonhole, any two signatures differing in <= maxDist bits agree
    * EXACTLY on at least one band, so bucketing on (band, band_bits) finds
    * every qualifying pair (recall = 1.0 by construction — this is why the
    * query is exact-oracle-checkable). Verification is bit_count(xor) on
    * the two 64-bit signatures — no text ever moves.
    *
    * Hot-bucket proofing: identical signatures collapse to one
    * representative (their min id) BEFORE the band buckets — thousands of
    * byte-identical boilerplate pages share all bands and would otherwise
    * make one O(n²) bucket. Components are computed on the reps and each
    * member takes its rep's label. Identical sigs are trivially
    * same-cluster (hamming 0), and any qualifying cross-group edge is
    * still found between the two groups' reps by pigeonhole, so a
    * component's min member is the min rep of its rep-graph component.
    *
    * Two regimes, one probe: `Regime.collectUpTo` over the (doc_id,
    * simhash) rows, bounded by `Regime.MaxDriverPairs`. Below the budget
    * the same collapse, band buckets, verify and min-id components run on
    * the driver ([[localSimhashClusters]]) and nothing persists; above it
    * the distributed band self-join + connected components run over one
    * materialized signature pass and the materialized reps. */
  def simhashClusters(
      spark: SparkSession,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3): DataFrame = {
    import spark.implicits._
    val sigs = simhashDF(spark, docs, idCol, textCol) // (idCol, simhash)
    val local = Regime.collectUpTo(sigs.as[(Long, Long)], Regime.MaxDriverPairs)
    if (local.isDefined) return localSimhashClusters(spark, local.get, maxDist)

    // the signatures and reps are read by several consumers AND by the
    // returned label join: materialized, not cached, they live as long as
    // the result does
    val sigRows = Persist.materialize(sigs)
    // one representative per distinct signature (min id, deterministic)
    val rep = Persist.materialize(
      sigRows.groupBy(col("simhash")).agg(min(col(idCol)).as("rep_id")))
    val banded = rep.select(
      col("rep_id").as("id"),
      col("simhash"),
      explode(array(bandSlices(maxDist + 1).map { case (b, lo, w) =>
        struct(
          lit(b).as("band"),
          shiftrightunsigned(col("simhash"), lo)
            .bitwiseAND(lit((1L << w) - 1L)).as("bits"))
      }: _*)).as("slice"))
      .select(col("id"), col("simhash"), col("slice.band"), col("slice.bits"))

    val a = banded.select(col("band"), col("bits"),
      col("id").as("src"), col("simhash").as("sig_a"))
    val b = banded.select(col("band"), col("bits"),
      col("id").as("dst"), col("simhash").as("sig_b"))
    val repEdges = a.join(b, Seq("band", "bits"))
      .filter(col("src") < col("dst"))
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxDist)
      .select(col("src"), col("dst"))
      .distinct()

    // member label = its rep's component (rep itself when edge-free)
    val members = sigRows
      .select(col(idCol).cast("long").as("doc_id"), col("simhash"))
      .join(rep, Seq("simhash"))
    ConnectedComponents.labelNodes(spark, repEdges, members, "rep_id", "cluster_id")
      .select("doc_id", "cluster_id")
  }

  /** The disjoint bit slices (band, lo, width) of a [[SimhashBits]]-bit
    * signature cut into `nBands` bands: band b covers [lo, lo + width). */
  private def bandSlices(nBands: Int): Seq[(Int, Int, Int)] = {
    val width = SimhashBits / nBands
    val extra = SimhashBits % nBands
    (0 until nBands).map { b =>
      (b, b * width + math.min(b, extra), width + (if (b < extra) 1 else 0))
    }
  }

  /** Driver mirror of [[simhashClusters]]' distributed chain over its
    * (doc_id, simhash) rows: equal signatures collapse to a min-id rep,
    * each band buckets the distinct signatures on the same bits, pairs
    * within `maxDist` bits union their reps, and every row takes its rep's
    * min-id root — one output row per input row. */
  private def localSimhashClusters(
      spark: SparkSession,
      rows: Array[(Long, Long)],
      maxDist: Int): DataFrame = {
    import spark.implicits._
    val repOf = scala.collection.mutable.HashMap.empty[Long, Long] // sig -> min id
    rows.foreach { case (id, sig) =>
      repOf.updateWith(sig)(r => Some(r.fold(id)(math.min(_, id)))) }
    val reps = repOf.toArray // (sig, rep)
    val uf = new UnionFind
    bandSlices(maxDist + 1).foreach { case (_, lo, w) =>
      reps.indices.groupBy(i => (reps(i)._1 >>> lo) & ((1L << w) - 1L)).valuesIterator
        .foreach { ix =>
          for (i <- ix.indices; j <- i + 1 until ix.length) {
            val ((sa, ra), (sb, rb)) = (reps(ix(i)), reps(ix(j)))
            if (java.lang.Long.bitCount(sa ^ sb) <= maxDist) uf.union(ra, rb)
          }
        }
    }
    rows.toSeq.map { case (id, sig) => (id, uf.find(repOf(sig))) }.toDF("doc_id", "cluster_id")
  }

  /** Embedding-cosine near-dup clusters: (id, cluster_id), edges where
    * cosine >= threshold, components by min id.
    *
    * Scale shape mirrors [[minhashClusters]] exactly: ONLY (id, table,
    * sig) rides the LSH bucket join (the probe side emits tables×(nBits+1)
    * rows per vector, but each is three scalars — never the vector);
    * candidate (id_a, id_b) pairs are de-duplicated FIRST, then each side
    * joins its vector back once for the codegen'd cosine verify. The
    * vector is shuffled at most once per side, keyed by id, regardless of
    * how many buckets a pair collides in.
    * At the high thresholds near-dup implies (>= 0.95) the probe-1 miss
    * probability is < 1e-3 per pair, so clusters coincide with the
    * exhaustive ground truth — which is what the driver oracle checks. */
  def embeddingClusters(
      spark: SparkSession,
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nBits: Int = 8,
      tables: Int = 8): DataFrame = {
    import spark.implicits._
    val base = vecs.select(col(idCol).cast("long").as("id"), col(vecCol).as("vec"))
    // regime split: the distributed chain's ~8 jobs (two sig flatMaps,
    // bucket join, pair distinct, two vector join-backs, CC probe, link
    // join) dwarf the work below Regime.MaxDriverRows vectors, where the
    // IDENTICAL constants run locally unless the pair-volume guard trips
    val local = Regime.collectUpTo(base.as[(Long, Array[Float])], Regime.MaxDriverRows)
      .flatMap(localEmbeddingClusters(spark, _, threshold, nBits, tables, idCol))
    if (local.isDefined) return local.get
    // distributed regime: the (id, vec) projection is cached so the two
    // signature flatMaps, the two vector join-backs and the final id list
    // read one scan of the vectors (the id list materialized from it)
    Persist.within(base) {
      val edges = embeddingEdges(spark, base, threshold, nBits, tables)
      ConnectedComponents.labelNodes(spark, edges, Persist.materialize(base.select(col("id"))),
        "id", "cluster_id")
        .select(col("id").as(idCol), col("cluster_id"))
    }
  }

  /** Driver-side mirror of [[embeddingEdges]] + min-id components for
    * dimension-sized vector sets: same hyperplane seeds, same probe-1
    * multi-probe on the query side, same CosineSimExpr arithmetic (double
    * accumulation over floats, min-length zip), same min-id component
    * labels — identical output to the distributed path by construction.
    *
    * Returns None when the bucket layout predicts more candidate pairs
    * than `maxCandidatePairs` (a duplicate-heavy corpus just under the
    * row threshold can still be O(n^2) in pairs): the caller falls
    * through to the distributed path, which spills instead of growing a
    * driver HashSet. */
  private[graft] def localEmbeddingClusters(
      spark: SparkSession,
      rows: Array[(Long, Array[Float])],
      threshold: Double,
      nBits: Int,
      tables: Int,
      idCol: String,
      maxCandidatePairs: Long = 64L << 20): Option[DataFrame] = {
    import spark.implicits._
    // base buckets: one signature per (vector, table)
    val buckets = new java.util.HashMap[Long, scala.collection.mutable.ArrayBuffer[Int]]()
    val sigsByRow = Array.ofDim[Int](rows.length, tables)
    var r = 0
    while (r < rows.length) {
      var t = 0
      while (t < tables) {
        val s = Similarity.hyperplaneSig(rows(r)._2, nBits, 0xd0d0 + t * 104729L)
        sigsByRow(r)(t) = s
        val k = t.toLong << 32 | (s & 0xffffffffL)
        buckets.computeIfAbsent(k, _ => scala.collection.mutable.ArrayBuffer.empty[Int]).append(r)
        t += 1
      }
      r += 1
    }
    // pair-volume guard: each probe touches its own bucket plus nBits
    // hamming-1 buckets; sum(|bucket|^2)*(nBits+1) upper-bounds the
    // candidate tuples the HashSet would hold
    var predicted = 0L
    buckets.forEach((_, b) => predicted += b.length.toLong * b.length)
    if (predicted * (nBits + 1) > maxCandidatePairs) return None
    def cosine(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      val d = math.sqrt(na) * math.sqrt(nb)
      if (d == 0.0) 0.0 else dot / d
    }
    // probe side: each vector probes its sig + all hamming-1 variants;
    // candidate (a, b) iff a's BASE sig equals one of b's probe sigs
    // (exactly the distributed join's asymmetry) — order-normalized by
    // the id_a < id_b filter there, so verify each unordered pair once
    val uf = new UnionFind
    val seen = scala.collection.mutable.HashSet.empty[(Long, Long)]
    r = 0
    while (r < rows.length) {
      val (idB, vecB) = rows(r)
      var t = 0
      while (t < tables) {
        val s = sigsByRow(r)(t)
        var p = -1 // -1 = the un-flipped sig, then one bit at a time
        while (p < nBits) {
          val probeSig = if (p < 0) s else s ^ (1 << p)
          val hit = buckets.get(t.toLong << 32 | (probeSig & 0xffffffffL))
          if (hit != null) hit.foreach { o =>
            val idA = rows(o)._1
            if (idA != idB) {
              val pair = (math.min(idA, idB), math.max(idA, idB))
              if (seen.add(pair) && cosine(rows(o)._2, vecB) >= threshold)
                uf.union(pair._1, pair._2)
            }
          }
          p += 1
        }
        t += 1
      }
      r += 1
    }
    Some(rows.toSeq.map { case (id, _) => (id, uf.find(id)) }
      .toDF(idCol, "cluster_id"))
  }

  /** Candidate generation + cosine verify for [[embeddingClusters]] —
    * exposed so PlanAuditSpec can assert the bucket-join exchanges carry
    * (id, table, sig) scalars only. */
  private[graft] def embeddingEdges(
      spark: SparkSession,
      base: DataFrame,
      threshold: Double,
      nBits: Int,
      tables: Int): DataFrame = {
    import spark.implicits._
    def sigs(probe: Boolean) = base
      .as[(Long, Array[Float])]
      .flatMap { case (id, v) =>
        (0 until tables).flatMap { t =>
          val s = Similarity.hyperplaneSig(v, nBits, 0xd0d0 + t * 104729L)
          val ss = if (probe) s +: (0 until nBits).map(b => s ^ (1 << b)) else Seq(s)
          ss.distinct.map(x => (id, t, x))
        }
      }

    val a = sigs(probe = false).toDF("id_a", "table", "sig")
    val b = sigs(probe = true).toDF("id_b", "table", "sig")
    val cand = a
      .join(b, Seq("table", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()

    cand
      .join(base.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("cos", Similarity.cosineCol(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
  }
}
