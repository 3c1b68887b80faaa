package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, IvfIndex, Similarity}
import graft.statements.SplitmixRng

/** Round-5 additions: the persisted IVF index artifact (build-once /
  * serve-many, versioned commit, fingerprint staleness), the
  * embedding-dedup local-regime pair-volume guard, and the composed
  * three-source mention config. */
class Round5OpsSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("round5-ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def clusteredVecs(n: Int) = {
    val rng = new SplitmixRng(77L)
    (0 until n).map { i =>
      val c = i % 5
      val v = Array.tabulate(24) { d =>
        val base = if (d % 5 == c) 1.0f else 0.05f
        base + (rng.nextDouble().toFloat - 0.5f) * 0.05f
      }
      (i.toLong, v)
    }
  }

  private def tempRoot(): String =
    java.nio.file.Files.createTempDirectory("ivf-spec").resolve("idx").toString

  test("IvfIndex: build/load round-trip — search equals the in-query ivfTopK") {
    import spark.implicits._
    val corpus = clusteredVecs(300).toDF("vec_id", "embedding")
    val queries = clusteredVecs(300).take(8).toDF("vec_id", "embedding")
    val root = tempRoot()

    val built = IvfIndex.build(spark, corpus, root, nLists = 16)
    val loaded = IvfIndex.load(spark, root)
    assert(loaded.isDefined)
    assert(loaded.get.version == built.version)
    assert(loaded.get.nLists == built.nLists)
    // CENTROIDS text round-trips Float exactly
    assert(loaded.get.centroids.map { case (i, v) => (i, v.toSeq) }.toSeq ==
      built.centroids.map { case (i, v) => (i, v.toSeq) }.toSeq)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val viaIndex = rows(loaded.get.search(spark, queries, 5, nProbe = 4))
    val inQuery = rows(Similarity.ivfTopK(spark, queries, corpus, 5,
      nLists = 16, nProbe = 4))
    assert(viaIndex == inQuery)
  }

  test("IvfIndex: buildOrLoad serves the committed version while fresh, rebuilds when stale") {
    import spark.implicits._
    val corpus = clusteredVecs(200).toDF("vec_id", "embedding")
    val root = tempRoot()
    val v1 = IvfIndex.buildOrLoad(spark, corpus, root, nLists = 8)
    // unchanged corpus: served, not rebuilt
    assert(IvfIndex.buildOrLoad(spark, corpus, root, nLists = 8).version == v1.version)
    // corpus changed under the same root: fingerprint mismatch forces a rebuild
    val grown = clusteredVecs(201).toDF("vec_id", "embedding")
    assert(IvfIndex.buildOrLoad(spark, grown, root, nLists = 8).version > v1.version)
  }

  test("IvfIndex: corruption reads as 'no index', never throws") {
    import spark.implicits._
    val root = tempRoot()
    assert(IvfIndex.load(spark, root).isEmpty) // absent
    val corpus = clusteredVecs(50).toDF("vec_id", "embedding")
    IvfIndex.build(spark, corpus, root, nLists = 4)
    val rootP = java.nio.file.Paths.get(root)
    // manifest naming a missing version dir
    java.nio.file.Files.writeString(rootP.resolve("MANIFEST"), "v999\n")
    assert(IvfIndex.load(spark, root).isEmpty)
    // garbage manifest
    java.nio.file.Files.writeString(rootP.resolve("MANIFEST"), "not-a-version\n")
    assert(IvfIndex.load(spark, root).isEmpty)
    // truncated CENTROIDS under a validly-named version
    java.nio.file.Files.writeString(rootP.resolve("MANIFEST"), "v1\n")
    java.nio.file.Files.writeString(rootP.resolve("v1/CENTROIDS"), "4 24\n0 bad floats\n")
    assert(IvfIndex.load(spark, root).isEmpty)
    // and buildOrLoad recovers by rebuilding a fresh committed version
    val rebuilt = IvfIndex.buildOrLoad(spark, corpus, root, nLists = 4)
    assert(IvfIndex.load(spark, root).map(_.version).contains(rebuilt.version))
  }

  test("embeddingClusters: pair-volume guard falls through to the distributed path unchanged") {
    import spark.implicits._
    // 60 identical vectors (one hot bucket) + 3 distinct: predicted
    // candidate tuples ~ 60^2*(nBits+1) >> the tiny cap, so the local
    // regime must refuse, and the distributed chain it falls through to
    // must produce the exact same clustering the un-capped local mirror
    // does
    val hot = (0 until 60).map(i => (i.toLong, Array.fill(16)(1.0f)))
    val rest = Seq(
      (100L, Array.tabulate(16)(d => if (d < 8) 1.0f else -1.0f)),
      (101L, Array.tabulate(16)(d => if (d % 2 == 0) 1.0f else -1.0f)),
      (102L, Array.tabulate(16)(d => -1.0f)))
    assert(Dedup.localEmbeddingClusters(spark, (hot ++ rest).toArray, 0.95,
      nBits = 8, tables = 8, "vec_id", maxCandidatePairs = 100L).isEmpty)
    val df = (hot ++ rest).toDF("vec_id", "embedding")
    def run() =
      Dedup.embeddingClusters(spark, df, "vec_id", "embedding", threshold = 0.95)
        .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val guarded = Regime.forcingDistributed(run()) // the fall-through path
    val local = run() // default local mirror
    assert(guarded == local)
    // the 60 identical vectors all landed in one cluster
    assert(guarded.filter(_._1 < 60).map(_._2).distinct.size == 1)
  }

  test("composed mention config yields strictly more triples than gazetteer-only") {
    val gaz = SparkEntry.kgTriples(spark, 64, canonical = false).count()
    val composed = SparkEntry.kgTriples(spark, 64, canonical = false,
      cfg = graft.triples.TriplePipeline.Config(svoMentions = true, npMentions = true)).count()
    assert(composed > gaz)
  }

  test("per-pool MTB loss is deterministic and finite") {
    import spark.implicits._
    val q = SparkEntry.queries("q58_mtb_losses")
    val a = q(spark, "unused").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val b = q(spark, "unused").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(a == b)
    assert(a.exists { case (m, v) => m == "n_pools" && v > 0 })
  }

  // ---- DenseId bounded-driver ranking (skips the range exchange) ----

  test("withDenseIdProbed == withDenseId on sorted input") {
    import spark.implicits._
    val base = (0 until 400).map(i => (i.toLong / 7, (i % 7).toLong, s"v$i"))
      .toDF("d", "p", "v")
      .repartitionByRange(4, col("d"), col("p"))
      .sortWithinPartitions(col("d"), col("p"))
      .persist()
    base.count()
    val fast = graft.ops.DenseId.withDenseIdProbed(base, "id", Seq("d", "p"))
      .collect().map(r => (r.getString(2), r.getLong(3))).sortBy(_._1).toSeq
    val classic = graft.ops.DenseId.withDenseId(base, "id", col("d"), col("p"))
      .collect().map(r => (r.getString(2), r.getLong(3))).sortBy(_._1).toSeq
    base.unpersist()
    assert(fast == classic)
  }

  test("withDenseIdProbed ranks exactly on unsorted hash-partitioned input") {
    import spark.implicits._
    // hash-partitioned and shuffled key order — the driver ranking must
    // still produce the exact global (d, p) rank
    val base = (0 until 400).map(i => ((i * 137 % 400).toLong, (i % 3).toLong, i))
      .toDF("d", "p", "v").repartition(4).persist()
    base.count()
    val got = graft.ops.DenseId.withDenseIdProbed(base, "id", Seq("d", "p"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    base.unpersist()
    val expected = got.sortBy(r => (r._1, r._2)).zipWithIndex.map(_._2.toLong)
    assert(got.sortBy(r => (r._1, r._2)).map(_._4).toSeq == expected.toSeq)
  }

  test("withDenseIdProbed over the driver-key bound falls back to the range exchange") {
    import spark.implicits._
    val base = (0 until 400).map(i => ((i * 211 % 400).toLong, 0L, i))
      .toDF("d", "p", "v").repartition(4).persist()
    base.count()
    val forced = Regime.forcingDistributed(
      graft.ops.DenseId.withDenseIdProbed(base, "id", Seq("d", "p")))
    assert(forced.queryExecution.toRdd.toDebugString.contains("ShuffledRowRDD"))
    val capped = forced.collect().map(r => (r.getLong(0), r.getLong(3)))
    base.unpersist()
    val expected = capped.sortBy(_._1).zipWithIndex.map(_._2.toLong)
    assert(capped.sortBy(_._1).map(_._2).toSeq == expected.toSeq)
  }
}
