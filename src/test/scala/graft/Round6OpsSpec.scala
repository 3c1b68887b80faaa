package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.link.{ConnectedComponents, EntityLinker}
import graft.ops.{Dedup, DenseId, IvfIndex}

/** Round-6 forced-distributed-regime parity matrix (r5 VERDICT "Next
  * round" #2): every bounded local/broadcast regime in the engine has a
  * distributed fallback that IS the 100-TB code path, but fixtures never
  * cross the budgets. Each test here runs the operator inside
  * `Regime.forcingDistributed` (every budget reads 0, forcing the
  * fallback) and asserts output equality against the bounded regime on the
  * same fixture, the dedup mirrors included. Plus the simhash hot-bucket
  * fixture (#4) and the IvfIndex corrupt-manifest contract (#7).
  * embeddingClusters parity lives in Round4OpsSpec. */
class Round6OpsSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("round6-ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  // ---- EntityLinker: local driver mirror vs distributed LSH+CC chain ----

  test("EntityLinker.canonicalize: forced-distributed output equals local regime") {
    import spark.implicits._
    val surfaces = Seq(
      "acme corp", "acme corporation", "acme  corp", "globex", "globex inc",
      "initech", "initech llc", "umbrella", "wayne enterprises",
      "wayne enterprise", "stark industries", "stark industrie")
    val dim = surfaces.zipWithIndex.map { case (s, i) => (i.toLong + 10, s) }
      .toDF("e_id", "e_text")
    def run() = EntityLinker.canonicalize(spark, dim, threshold = 0.6)
      .orderBy("e_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(Regime.forcingDistributed(run()) == run())
  }

  // ---- ConnectedComponents: driver union-find vs iterative propagation ----

  test("ConnectedComponents.run: forced-distributed labels equal local regime") {
    import spark.implicits._
    val rng = new java.util.Random(99)
    // several chains + a star + isolated pair — diameter > 1 so the
    // iterative path needs real propagation rounds
    val edges = (
      (0 until 30).map(i => (i.toLong, (i + 1).toLong)) ++       // chain
        (40 until 60).map(i => (40L, i.toLong)) ++               // star
        Seq((100L, 101L)) ++
        (0 until 25).map(_ => { val a = rng.nextInt(20); (a.toLong, (a + 70).toLong) })
    ).toDF("src", "dst")
    def run() = ConnectedComponents.run(spark, edges)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(Regime.forcingDistributed(run()) == run())
  }

  test("ConnectedComponents.run: forced-distributed labels over 64-bit hash ids") {
    import spark.implicits._
    // ids near both ends of the long range, as xxhash64 surface ids are:
    // their plain long sum overflows
    val big = Long.MaxValue - 10
    val edges = Seq((big, big - 1), (big - 1, big - 2), (Long.MinValue + 5, big),
      (big - 5, big - 6)).toDF("src", "dst")
    def run() = ConnectedComponents.run(spark, edges)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val local = run()
    assert(local.map(_._2).distinct.sorted == Seq(Long.MinValue + 5, big - 6))
    assert(Regime.forcingDistributed(run()) == local)
  }

  // ---- DenseId: bounded-driver rank vs classic range exchange ----

  test("withDenseIdProbed: forced range-exchange ids equal bounded-rank ids") {
    import spark.implicits._
    val rng = new java.util.Random(7)
    val rows = (0 until 500).map { i =>
      (rng.nextInt(1 << 20).toLong * 500 + i, rng.nextInt(1000), s"payload-$i")
    }
    val df = rows.toDF("d", "p", "payload")
    def run() = DenseId.withDenseIdProbed(df, "id", Seq("d", "p"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(3))).toSeq
    assert(Regime.forcingDistributed(run()) == run()) // forced: withDenseId's range exchange
  }

  test("withDenseIdProbed3: forced range-exchange ids equal bounded-rank ids") {
    import spark.implicits._
    val rng = new java.util.Random(8)
    val rows = (0 until 400).map { i =>
      (rng.nextInt(1 << 20).toLong * 400 + i, rng.nextInt(1 << 14), rng.nextInt(1 << 15))
    }.distinct
    val df = rows.toDF("d", "p1", "p2")
    def run() = DenseId.withDenseIdProbed(df, "id", Seq("d", "p1", "p2"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
    assert(Regime.forcingDistributed(run()) == run())
  }

  test("withDenseIdProbed: NULL keys fall back to the classic NULLS-FIRST order") {
    import spark.implicits._
    val df = Seq(
      (Some(5L), Some(1)), (None, Some(2)), (Some(1L), None), (Some(2L), Some(0)))
      .toDF("d", "p")
    val probed = DenseId.withDenseIdProbed(df, "id", Seq("d", "p"))
      .orderBy("id").collect().map(r => (r.isNullAt(0), r.isNullAt(1), r.getLong(2))).toSeq
    val classic = DenseId.withDenseId(df, "id", col("d"), col("p"))
      .orderBy("id").collect().map(r => (r.isNullAt(0), r.isNullAt(1), r.getLong(2))).toSeq
    assert(probed == classic) // a NULL key must trigger the fallback, never rank as 0
  }

  test("withDenseIdProbed (three keys): NULL and out-of-range keys fall back, edge keys rank on the driver") {
    import spark.implicits._
    // three keys pack as (31, 15, 16) bits
    val ok = Seq((Some(4L), Some(3L), Some(7L)), (Some(1L), Some(2L), Some(9L)),
      (Some(1L), Some(5L), Some(1L)))
    val cases: Seq[(String, (Option[Long], Option[Long], Option[Long]), Boolean)] = Seq(
      ("NULL k1", (None, Some(1L), Some(1L)), false),
      ("NULL k2", (Some(2L), None, Some(1L)), false),
      ("NULL k3", (Some(2L), Some(1L), None), false),
      ("k2 = 2^15", (Some(2L), Some(1L << 15), Some(0L)), false),
      ("k3 = 2^16", (Some(2L), Some(0L), Some(1L << 16)), false),
      ("k2 = 2^15 - 1", (Some(2L), Some((1L << 15) - 1), Some((1L << 16) - 1)), true))
    for ((name, extra, onDriver) <- cases) {
      val df = (ok :+ extra).toDF("d", "p1", "p2")
      val probed = DenseId.withDenseIdProbed(df, "id", Seq("d", "p1", "p2"))
      val classic = DenseId.withDenseId(df, "id", col("d"), col("p1"), col("p2"))
      def rows(o: org.apache.spark.sql.DataFrame) = o.orderBy("id").collect().map(_.toSeq).toSeq
      assert(rows(probed) == rows(classic), name)
      // the fallback is withDenseId's range exchange; the driver rank
      // reads the input without a shuffle
      val shuffled = probed.queryExecution.toRdd.toDebugString.contains("ShuffledRowRDD")
      assert(shuffled != onDriver, s"$name: expected onDriver=$onDriver")
    }
  }

  // ---- MtbDataset pair-frequency filter: broadcast vs distributed semi join ----

  test("MtbDataset.build: forced-distributed freq filter equals broadcast regime") {
    import spark.implicits._
    val sc = spark.sparkContext
    def build() = graft.statements.MtbDataset.build(
      spark, graft.fixtures.Corpus.generate(spark, 96),
      sc.broadcast(new graft.annotate.Gazetteer(graft.fixtures.FixtureVocab.AllEntities)),
      sc.broadcast(graft.tokenize.Vocab.fixtureTokenizer),
      minCount = 2, minPoolSize = 2, needDims = false)
    def snap(r: graft.statements.MtbDataset.Result) = {
      val rel = r.tokenizedRelations
        .select(col("relation_id"), col("e1_id"), col("e2_id"),
          to_json(col("token_ids")).as("t"), to_json(col("e1_span")).as("s1"),
          to_json(col("e2_span")).as("s2"))
        .orderBy("relation_id").collect().map(_.toSeq).toSeq
      val pools = r.pools
        .select(col("e1_id"), col("e2_id"), to_json(col("relation_ids")).as("rids"), col("set"))
        .orderBy("e1_id", "e2_id").collect().map(_.toSeq).toSeq
      spark.catalog.clearCache()
      (rel, pools)
    }
    // forced: the distributed semi join (and DenseId's range exchange)
    assert(Regime.forcingDistributed(snap(build())) == snap(build()))
  }

  // ---- simhash hot-bucket fixture (r5 VERDICT "Next round" #4) ----

  test("simhashClusters: 1k identical docs collapse to one band-join row per band") {
    import spark.implicits._
    val docs = ((0 until 1000).map(i => (i.toLong, "the same boilerplate page text")) ++
      Seq((2000L, "a genuinely different document about spark streams")))
      .toDF("doc_id", "text")
    def run() = Dedup.simhashClusters(spark, docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val out = run()
    // identical docs: one signature, min-id cluster 0 for all 1000
    assert((0 until 1000).forall(i => out(i.toLong) == 0L))
    // the distributed chain's rep collapse gives the same labels
    assert(Regime.forcingDistributed(run()) == out)
    // the band self-join input is the DISTINCT signature set — 2 sigs
    // here, not 1001 rows — so the hottest band bucket is bounded by
    // distinct-signature multiplicity, not by boilerplate copies
    val sigs = Dedup.simhashDF(spark, docs, "doc_id", "text")
    assert(sigs.select("simhash").distinct().count() <= 2)
    spark.catalog.clearCache()
  }

  // ---- dedup driver mirrors vs distributed chains ----

  private def clusters(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("minhashClusters: a bucket over MaxBucket is dropped alike in both regimes") {
    import spark.implicits._
    val words = (0 until 20).map(i => s"w$i")
    val boiler = "the same boilerplate page text repeated across a whole crawl of sites"
    // 1,001 identical docs fill one bucket per band past MaxBucket (1,000)
    val docs = ((0 until 1001).map(i => (i.toLong, boiler)) ++ Seq(
      (5000L, words.mkString(" ")),
      (5001L, (words.init :+ "tail").mkString(" ")), // Jaccard 17/19
      (5002L, words.reverse.mkString(" ")),
      (5003L, boiler + " and one more"))) // meets the boilerplate only in hot buckets
      .toDF("doc_id", "text")
    val run = () => Dedup.minhashClusters(spark, docs, "doc_id", "text", threshold = 0.8)
    val local = run()
    assert(isLocal(local))
    val out = clusters(local)
    assert(out.length == 1005)
    // the dropped buckets leave every boilerplate copy a singleton
    assert(out.forall { case (id, c) => if (id == 5001L) c == 5000L else c == id })
    assert(Regime.forcingDistributed(clusters(run())) == out)
    spark.catalog.clearCache()
  }

  test("simhashClusters: forced-distributed output equals the driver mirror") {
    import spark.implicits._
    val rng = new java.util.Random(23)
    val vocab = (0 until 1000).map(i => s"t$i")
    val bases = (0 until 12).map(_ => (0 until 400).map(_ => vocab(rng.nextInt(1000))))
    // copies and one- or two-word edits of a dozen long bases: equal
    // signatures, signatures a few bits apart and unrelated ones
    val texts = (0 until 300).map { i =>
      val ws = bases(i % 12).toArray
      (0 until i % 3).foreach(_ => ws(rng.nextInt(ws.length)) = vocab(rng.nextInt(1000)))
      (i.toLong * 7, ws.mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text")
    val run = () => Dedup.simhashClusters(spark, docs, "doc_id", "text", maxDist = 3)
    val local = run()
    assert(isLocal(local))
    val out = clusters(local)
    val nSigs = texts.map(t => Dedup.simhash(graft.textnorm.PyText.pySplit(t._2).toSeq)).distinct.size
    assert(out.map(_._2).distinct.size < nSigs, "no edge between distinct signatures")
    assert(Regime.forcingDistributed(clusters(run())) == out)
    spark.catalog.clearCache()
  }

  test("dedup probes over their budget fall through to the distributed chains") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z")).toDF("doc_id", "text")
    val want = Seq((1L, 1L), (2L, 1L), (3L, 3L))
    for (op <- Seq(
        () => Dedup.minhashClusters(spark, docs, "doc_id", "text"),
        () => Dedup.simhashClusters(spark, docs, "doc_id", "text"))) {
      Regime.forcingDistributed {
        val forced = op()
        assert(!isLocal(forced))
        assert(forced.queryExecution.executedPlan.toString.contains("Exchange"))
        assert(clusters(forced) == want)
      }
      assert(clusters(op()) == want)
    }
    spark.catalog.clearCache()
  }

  // ---- IvfIndex: corrupt manifest reads None (r5 VERDICT "Next round" #7) ----

  test("IvfIndex.load: manifest naming a missing version reads as None") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_r6_ivf").toString
    try {
      val vecs = (0 until 64).map { i =>
        (i.toLong, Array.tabulate(8)(d => (i * 8 + d).toFloat / 100f))
      }.toDF("vec_id", "embedding")
      IvfIndex.build(spark, vecs, root, nLists = 4)
      assert(IvfIndex.load(spark, root).isDefined)
      // corrupt: manifest names a version whose directory does not exist
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "MANIFEST"), "v99999\n")
      assert(IvfIndex.load(spark, root).isEmpty)
      // and buildOrLoad recovers by rebuilding instead of throwing
      assert(IvfIndex.buildOrLoad(spark, vecs, root, nLists = 4).centroids.nonEmpty)
    } finally {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally st.close()
    }
  }

  // ---- entityPoolFromPools == entityPool (pair-pool-derived per-entity
  //      pools must equal the fact-table aggregation, hot keys included) ----

  /** Per-entity pools grouped straight from the fact table, in the salted
    * two-phase shape of `Encode.pools`: the reference that
    * `Encode.entityPoolFromPools` must reproduce. */
  private def entityPool(factWithIds: org.apache.spark.sql.DataFrame, side: String) =
    graft.ops.Salting.saltedCollectList(factWithIds, Seq(s"${side}_id"), "relation_id", salt = 16)

  test("entityPoolFromPools equals fact-table entityPool, including a hot key") {
    import spark.implicits._
    import graft.statements.Encode
    // entity 1 is hot: it pairs with every other entity; relation ids are
    // deliberately non-contiguous and interleaved across pairs so the
    // sort_array order actually matters
    val fact = (for {
      e2 <- 2L to 9L
      k <- 0 until 5
    } yield (1L, e2, e2 * 100 + k * 7)) ++ Seq((3L, 5L, 9000L), (3L, 5L, 8999L))
    val df = fact.toDF("e1_id", "e2_id", "relation_id")
    val pools = Encode.pools(df, seed = 42L)
    for (side <- Seq("e1", "e2")) {
      val fromFact = entityPool(df, side)
        .withColumn("relation_ids", to_json(col("relation_ids")))
        .orderBy(s"${side}_id").collect().toSeq
      val fromPools = Encode.entityPoolFromPools(pools, side)
        .withColumn("relation_ids", to_json(col("relation_ids")))
        .orderBy(s"${side}_id").collect().toSeq
      assert(fromPools == fromFact, s"side=$side")
    }
  }

  // ---- the q41/q53 multiset-count identity: SparkEntry.multisetCounts
  //      sums == exceptAll().count() on random multisets with duplicates
  //      and NULLs in every key column ----

  test("one-sided multiset difference count equals exceptAll().count()") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def orNull[A](a: A): Option[A] = if (rnd.nextInt(5) == 0) None else Some(a)
    def draw() =
      Seq.fill(80)((orNull(rnd.nextInt(6).toString), orNull(rnd.nextInt(4)))).toDF("k", "v")
    for (trial <- 1 to 3) {
      val a = draw()
      val b = draw()
      def oneSided(x: org.apache.spark.sql.DataFrame, y: org.apache.spark.sql.DataFrame) =
        SparkEntry.multisetCounts(x, y)
          .agg(coalesce(sum(greatest(col("__ca") - col("__cb"), lit(0L))), lit(0L)))
          .as[Long].head()
      val symmetric = SparkEntry.multisetCounts(a, b)
        .agg(coalesce(sum(abs(col("__ca") - col("__cb"))), lit(0L)))
        .as[Long].head()
      val aMinusB = a.exceptAll(b).count()
      val bMinusA = b.exceptAll(a).count()
      assert(oneSided(a, b) == aMinusB, s"trial=$trial a-b")
      assert(oneSided(b, a) == bMinusA, s"trial=$trial b-a")
      assert(symmetric == aMinusB + bMinusA, s"trial=$trial symmetric")
    }
  }
}
