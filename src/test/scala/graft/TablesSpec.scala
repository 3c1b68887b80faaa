package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SessionProbe
import org.apache.spark.sql.functions.{broadcast, col}
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables
import graft.ops.{IvfIndex, Similarity}

/** The input-table catalog and the IVF index layout: every declared
  * schema is the schema Spark infers from the files, and a read with it
  * runs no job. */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = GraftSpecSession.create("tables-spec")

  // the scale factors of TESTDATA.md, kept under the home directory, and
  // the benchmark's committed copy of two sf0.01 tables
  private val home = sys.props("user.home")
  private val dirs = Seq(
    s"$home/testdata/sf0.001", s"$home/testdata/sf0.01", s"$home/testdata/sf0.1",
    "perfbench/data/sf0.01")

  test("every declared schema equals the schema Spark infers from the files") {
    assert(Tables.Schemas.keySet == Set("documents", "events", "embeddings", "customer",
      "lineitem", "nation", "orders", "part", "region", "supplier"))
    for (dir <- dirs) {
      val tables = new java.io.File(dir).list().toSeq
        .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      assert(tables.nonEmpty, dir)
      assert(tables.forall(Tables.Schemas.contains), s"$dir: ${tables.mkString(",")}")
      if (!dir.startsWith("perfbench")) assert(tables.toSet == Tables.Schemas.keySet, dir)
      for (name <- tables) {
        val inferred = spark.read.parquet(Tables.path(dir, name)).schema
        assert(Tables.Schemas(name) == inferred, s"$dir/$name")
        assert(Tables.read(spark, dir, name).schema == inferred, s"$dir/$name")
      }
    }
  }

  /** Jobs `body` starts on this thread, counted once the bus is drained. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"tables-spec-${System.nanoTime()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "tables-spec", interruptOnCancel = false)
      body
      SessionProbe.drainBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    n.get
  }

  test("Tables.read runs no job; spark.read.parquet of the same path runs one") {
    val dir = dirs.head
    for (name <- Seq("documents", "events")) {
      assert(jobsOf(Tables.read(spark, dir, name)) == 0, name)
      assert(jobsOf(spark.read.parquet(Tables.path(dir, name))) == 1, name)
    }
  }

  test("IvfIndex reads only the probed lists, with no job to build the read") {
    val e = Tables.read(spark, dirs.head, "embeddings")
    val idx = IvfIndex.build(spark, e, Files.createTempDirectory("tables-spec-ivf").toString)
    val base = s"${idx.root}/v${idx.version}/assigned"
    assert(spark.read.parquet(base).schema == IvfIndex.AssignedSchema)
    // every list: more directories than one read lists without a job
    val all = 0 until idx.nLists
    assert(all.length > 32)
    assert(jobsOf(idx.assigned(spark, all)) == 0)
    assert(jobsOf(idx.assigned(spark, Seq(3))) == 0)
    assert(jobsOf(idx.assigned(spark, Seq.empty)) == 0)
    assert(idx.assigned(spark, Seq.empty).collect().isEmpty)
    assert(idx.assigned(spark, all).count() == e.count())
    assert(idx.assigned(spark, Seq(3)).collect().forall(_.getInt(2) == 3))
    // the search equals the rerank over the whole layout joined with the
    // probes, and an empty query side gives an empty result
    val q = e.filter(col("vec_id") < 32)
    val probes = Similarity.probeTable(spark,
      q.select(col("vec_id").as("query_id"), col("embedding").as("q_vec")), idx.centroids, 16)
    val want = Similarity.rerankTopK(
      spark.read.parquet(base).join(broadcast(probes), Seq("list_id")), 5)
    val got = idx.search(spark, q, 5)
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.count() == 32 * 5)
    assert(idx.search(spark, q.limit(0), 5).collect().isEmpty)
  }

  test("IvfIndex search skips probed lists that were assigned no rows") {
    import spark.implicits._
    // three distinct vectors repeated: the duplicate centroids tie, every
    // row goes to the smallest list id, and all other lists stay empty
    val base = Seq(Array(1f, 0f, 0f), Array(0f, 1f, 0f), Array(0f, 0f, 1f))
    val e = (0 until 200).map(i => (i, base(i % 3))).toDF("vec_id", "embedding")
    val idx = IvfIndex.build(spark, e, Files.createTempDirectory("tables-spec-ivf-empty").toString)
    val layout = s"${idx.root}/v${idx.version}/assigned"
    val filled = spark.read.parquet(layout).select("list_id").distinct().as[Int].collect().toSet
    assert(filled.size == 3 && idx.nLists == 64)
    val all = 0 until idx.nLists
    assert(jobsOf(idx.assigned(spark, all)) == 0)
    assert(idx.assigned(spark, all).count() == 200)
    assert(idx.assigned(spark, all.filterNot(filled)).collect().isEmpty)
    val q = e.filter(col("vec_id") < 6)
    val probes = Similarity.probeTable(spark,
      q.select(col("vec_id").cast("long").as("query_id"), col("embedding").as("q_vec")),
      idx.centroids, 16)
    assert(probes.select("list_id").as[Int].collect().exists(l => !filled(l)))
    val want = Similarity.rerankTopK(
      spark.read.parquet(layout).join(broadcast(probes), Seq("list_id")), 5)
    val got = idx.search(spark, q, 5)
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.count() == 6 * 5)
  }
}
