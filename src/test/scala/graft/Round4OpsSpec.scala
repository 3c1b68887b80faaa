package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Similarity}
import graft.statements.SplitmixRng

/** Round-4 additions: embedding-dedup regime split, trained IVF
  * centroids, clustered recall fixture, checkpoint manifest hardening,
  * FewRel episode determinism. */
class Round4OpsSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("round4-ops-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  private def clusteredVecs(n: Int) = {
    import spark.implicits._
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

  test("embeddingClusters: local regime output equals distributed path exactly") {
    import spark.implicits._
    val vecs = clusteredVecs(120)
    val df = vecs.toDF("vec_id", "embedding")
    def run() =
      Dedup.embeddingClusters(spark, df, "vec_id", "embedding", threshold = 0.95)
        .orderBy("vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the seam forces the distributed LSH+CC chain; default takes the
    // local mirror — the regime split must be invisible in the output
    assert(Regime.forcingDistributed(run()) == run())
  }

  test("trainCentroids is deterministic and bounded") {
    import spark.implicits._
    val df = clusteredVecs(200).toDF("vec_id", "embedding")
    val a = Similarity.trainCentroids(df, 8, "vec_id", "embedding")
    val b = Similarity.trainCentroids(df, 8, "vec_id", "embedding")
    assert(a.length == 8)
    assert(a.map(_._2.toSeq) sameElements b.map(_._2.toSeq))
    // k capped by corpus size
    val tiny = clusteredVecs(3).toDF("vec_id", "embedding")
    assert(Similarity.trainCentroids(tiny, 8, "vec_id", "embedding").length == 3)
  }

  test("trained IVF achieves recall >= 0.9 on the driver-gate clustered fixture") {
    val cv = graft.fixtures.ClusteredVecs.generate(spark, 1024, 32, 32)
      .persist()
    val cq = cv.filter(col("vec_id") < 32)
    val exact = Similarity.bruteForceTopK(cq, cv, 5)
      .select(col("query_id"), col("neighbor_id")).persist()
    val nEx = exact.count().toDouble
    val hits = Similarity.ivfTopK(spark, cq, cv, 5, nLists = 32, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    exact.unpersist(); cv.unpersist()
    assert(hits / nEx >= 0.9, s"clustered IVF recall ${hits / nEx}")
  }

  test("ClusteredVecs is a pure function of the index (partitioning-independent)") {
    val a = graft.fixtures.ClusteredVecs.generate(spark, 64, 8, 4)
      .orderBy("vec_id").collect().map(_.getSeq[Float](1).toSeq).toSeq
    val b = graft.fixtures.ClusteredVecs.generate(spark, 64, 8, 4)
      .repartition(7)
      .orderBy("vec_id").collect().map(_.getSeq[Float](1).toSeq).toSeq
    assert(a == b)
  }

  test("KernelCheckpoint tolerates short/corrupt manifests and atomic re-save") {
    import graft.kernel.{ArtifactKernel, KernelCheckpoint}
    val dir = java.nio.file.Files.createTempDirectory("graft_kcp4")
    assert(KernelCheckpoint.loadLatest(dir).isEmpty)
    // corrupt: one-line manifest must read as "no checkpoint", not throw
    java.nio.file.Files.writeString(dir.resolve("MANIFEST"), "3\n")
    assert(KernelCheckpoint.loadLatest(dir).isEmpty)
    java.nio.file.Files.writeString(dir.resolve("MANIFEST"), "garbage\nfile\n")
    assert(KernelCheckpoint.loadLatest(dir).isEmpty)
    val k = new ArtifactKernel(
      2, 4, 0,
      Array.fill(6)(Array.fill(4)(0.5f)),
      Array.fill(2)(Array.fill(12)(0.25f)),
      Array.fill(2)(0.1f))
    KernelCheckpoint.save(k, dir, epoch = 3)
    val loaded = KernelCheckpoint.loadLatest(dir)
    assert(loaded.map(_._1).contains(3))
    // re-save same epoch: artifact replaced atomically, still loadable
    KernelCheckpoint.save(k, dir, epoch = 3)
    assert(KernelCheckpoint.loadLatest(dir).map(_._1).contains(3))
  }

  test("FewRel episodeAccuracy is deterministic across runs and partitionings") {
    import graft.fixtures.FewRelFixture
    val dir = java.nio.file.Files.createTempDirectory("graft_fr4")
    FewRelFixture.writeTo(dir)
    val ex = graft.fewrel.FewRel.read(spark, dir.toString + "/train_wiki.json")
    val tokB = spark.sparkContext.broadcast(graft.tokenize.Vocab.fixtureTokenizer)
    val a = graft.fewrel.FewRel.episodeAccuracy(spark, ex, tokB, 5, 1, 42L)
    val b = graft.fewrel.FewRel.episodeAccuracy(spark, ex.repartition(3), tokB, 5, 1, 42L)
    assert(a == b)
    assert(a > 0.5, s"stub episode accuracy $a suspiciously low")
  }
}
