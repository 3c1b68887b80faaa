package graft.link

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MinHash/LSH candidate blocking for entity linking (north_star
  * requirement; no counterpart in the reference, which canonicalizes by
  * exact surface form only — SURVEY.md §2 note). Generalizes §2.9.
  *
  * Scale design: candidate generation is banded LSH — signatures are
  * computed in a narrow map, then ONE shuffle groups rows by (band, hash);
  * pairs are emitted per bucket with a bucket-size cap so a degenerate hot
  * bucket (skew!) cannot go quadratic. Verification re-computes exact
  * shingle Jaccard per candidate pair only.
  */
object MinHashLSH {

  /** Shingle size, in characters or words. This, [[MaxBucket]] and
    * [[EstSlack]] are the constants of [[similarPairs]] and of its driver
    * mirror [[localPairs]], whose output must equal it. */
  final val ShingleK = 3

  /** Hot-bucket cap: buckets larger than this are dropped (a degenerate hot
    * bucket otherwise goes quadratic in one task). Dropped-bucket counts
    * are surfaced via the Spark `observe` metric "minhash_lsh"
    * (dropped_buckets, max_bucket) — never a silent recall loss. */
  final val MaxBucket = 1000

  /** The signature pre-filter keeps pairs with estJaccard >= threshold -
    * EstSlack; with 48 hashes the estimator's sigma at j=0.8 is ~0.06, so
    * 0.25 is a >4-sigma guard against false negatives while still
    * discarding the unrelated-pair bulk before any text join. */
  final val EstSlack = 0.25

  /** Character k-gram shingles — right for SHORT strings (entity surfaces),
    * where edits move few grams. */
  def shingles(s: String, k: Int = 3): Set[Long] = {
    if (s.length < k) return Set(hash64(s, 0x9747b28cL))
    val out = scala.collection.mutable.HashSet.empty[Long]
    var i = 0
    while (i + k <= s.length) {
      out += hash64(s.substring(i, i + k), 0x9747b28cL)
      i += 1
    }
    out.toSet
  }

  /** Word k-gram shingles — right for DOCUMENTS: two texts over the same
    * vocabulary only collide when word ORDER matches, so LSH candidate
    * counts stay linear even on closed-vocabulary corpora (char-grams would
    * make every doc a near-dup of every other and go quadratic). */
  def wordShingles(s: String, k: Int = 3): Set[Long] = {
    val words = graft.textnorm.PyText.pySplit(s)
    if (words.length < k) return Set(hash64(words.mkString(" "), 0x9747b28cL))
    val out = scala.collection.mutable.HashSet.empty[Long]
    var i = 0
    while (i + k <= words.length) {
      var h = 0x9747b28cL
      var j = i
      while (j < i + k) { h = h * 0x100000001b3L ^ hash64(words(j), 77L); j += 1 }
      out += h
      i += 1
    }
    out.toSet
  }

  def shinglesOf(s: String, k: Int, mode: String): Set[Long] =
    if (mode == "word") wordShingles(s, k) else shingles(s, k)

  /** xxhash-style 64-bit string hash with seed (splitmix over chars). */
  def hash64(s: String, seed: Long): Long = {
    var h = seed ^ (s.length * 0x9e3779b97f4a7c15L)
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0xbf58476d1ce4e5b9L
      h ^= h >>> 27
      i += 1
    }
    h
  }

  /** MinHash signature: numHashes permutations approximated by seeded
    * re-hashing of the shingle hashes (standard practice). */
  def signature(sh: Set[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    sh.foreach { s =>
      var i = 0
      while (i < numHashes) {
        var h = s + i * 0x9e3779b97f4a7c15L
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
        h ^= h >>> 31
        if (h < sig(i)) sig(i) = h
        i += 1
      }
    }
    sig
  }

  /** Bucket hash of band `b` of a MinHash signature: FNV-style over the
    * band's `rowsPerBand` signature rows, seeded per band. */
  def bandHash(sig: Array[Long], b: Int, rowsPerBand: Int): Long = {
    var h = 0x2545f4914f6cdd1dL ^ b
    var r = 0
    while (r < rowsPerBand) { h = h * 0x100000001b3L ^ sig(b * rowsPerBand + r); r += 1 }
    h
  }

  def estJaccard(a: Array[Long], b: Array[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }

  def exactJaccard(a: Set[Long], b: Set[Long]): Double = {
    val inter = a.intersect(b).size.toDouble
    val union = a.size + b.size - inter
    if (union == 0) 1.0 else inter / union
  }

  /** Driver mirror of [[similarPairs]] for dimension-sized inputs, given
    * each row's shingle set by id (ids are a key): the same signatures,
    * `bandHash` buckets, [[MaxBucket]] cap, `estJaccard >= threshold -
    * EstSlack` pre-filter and exact shingle-Jaccard verify, so it returns
    * the same verified edges (idA < idB) by construction. Callers:
    * `EntityLinker.canonicalize` and `Dedup.minhashClusters` below their
    * `Regime` budgets. */
  def localPairs(
      shinglesById: scala.collection.Map[Long, Set[Long]],
      numHashes: Int,
      bands: Int,
      threshold: Double): Seq[(Long, Long)] = {
    val rpb = numHashes / bands
    require(rpb * bands == numHashes, "bands must divide numHashes")
    val sigById = shinglesById.map { case (id, sh) => id -> signature(sh, numHashes) }
    val buckets = scala.collection.mutable.HashMap
      .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Long]]
    sigById.foreach { case (id, sig) =>
      var b = 0
      while (b < bands) {
        buckets.getOrElseUpdate((b, bandHash(sig, b, rpb)),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += id
        b += 1
      }
    }
    val cand = scala.collection.mutable.HashSet.empty[(Long, Long)]
    buckets.valuesIterator.foreach { ids =>
      if (ids.length <= MaxBucket)
        for (i <- ids.indices; j <- i + 1 until ids.length)
          cand += ((math.min(ids(i), ids(j)), math.max(ids(i), ids(j))))
    }
    cand.iterator.filter { case (a, b) =>
      estJaccard(sigById(a), sigById(b)) >= threshold - EstSlack &&
        exactJaccard(shinglesById(a), shinglesById(b)) >= threshold
    }.toSeq
  }

  /** Candidate edges (idA < idB) between rows whose texts land in the same
    * LSH band bucket and pass exact shingle-Jaccard >= threshold.
    *
    * Scale shape (100-TB rules): document TEXT never rides the LSH
    * shuffles. The bucket join carries (id, signature) only; candidate
    * pairs are pre-filtered by MinHash signature agreement (estJaccard,
    * which the signatures were computed for) and de-duplicated down to a
    * 3-column (id_a, id_b, est) table; only the few survivors join the
    * corpus text back for the exact shingle-Jaccard verification.
    *
    * @param df input with (idCol: long, textCol: string)
    */
  def similarPairs(
      spark: SparkSession,
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 48,
      bands: Int = 16,
      threshold: Double = 0.7,
      shingleMode: String = "char"): DataFrame = {
    import spark.implicits._
    val rpb = numHashes / bands
    require(rpb * bands == numHashes, "bands must divide numHashes")

    val docs = df.select(col(idCol).cast("long").as("id"), col(textCol).as("text"))

    val sigs = docs
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val sig = signature(shinglesOf(text, ShingleK, shingleMode), numHashes)
          (id, sig, Array.tabulate(bands)(bandHash(sig, _, rpb)))
        }
      }
      .toDF("id", "sig", "band_hashes")

    val buckets = sigs
      .select(col("id"), col("sig"), posexplode(col("band_hashes")).as(Seq("band", "bh")))

    // hot-bucket cap with an observed metric (no silent drop): ONE window
    // pass over the (band, bh) exchange computes each bucket's size — the
    // former count-aggregate + semi-join-back paid a second exchange of
    // the bucket rows for the same filter. The observe counts each
    // dropped bucket once via the window's row_number.
    // both functions share ONE window spec (same partition AND order, the
    // count made order-insensitive by an explicit full-partition frame) so
    // they compile into a single Sort+Window pass — with the count left on
    // the default unordered spec Spark plans two Window operators with two
    // sorts over the same exchange
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("band"), col("bh")).orderBy(col("id"))
    val sized = buckets
      .withColumn("__cnt", count(lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__rn", row_number().over(w))
      .observe(
        "minhash_lsh",
        sum(when(col("__cnt") > MaxBucket && col("__rn") === 1, lit(1L)).otherwise(lit(0L)))
          .as("dropped_buckets"),
        coalesce(max(col("__cnt")), lit(0L)).as("max_bucket"))
      .filter(col("__cnt") <= MaxBucket)
      .drop("__cnt", "__rn")

    val a = sized.select(col("band"), col("bh"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = sized.select(col("band"), col("bh"), col("id").as("id_b"), col("sig").as("sig_b"))
    val est = udf { (sa: Seq[Long], sb: Seq[Long]) =>
      estJaccard(sa.toArray, sb.toArray)
    }
    val cand = a
      .join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      // estimate from the signatures already in hand — unrelated pairs die
      // here, before any dedup shuffle or text join
      .withColumn("est", est(col("sig_a"), col("sig_b")))
      .filter(col("est") >= threshold - EstSlack)
      .groupBy("id_a", "id_b")
      .agg(first(col("est")).as("est"))

    val verify = udf { (ta: String, tb: String) =>
      exactJaccard(shinglesOf(ta, ShingleK, shingleMode), shinglesOf(tb, ShingleK, shingleMode))
    }
    cand
      .join(docs.select(col("id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(docs.select(col("id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      // spread the verify work: AQE tends to coalesce the small candidate
      // shuffle to one partition, which would serialize the expensive
      // exact-Jaccard stage
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("jaccard", verify(col("text_a"), col("text_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
