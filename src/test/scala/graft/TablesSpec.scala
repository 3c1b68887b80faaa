package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SessionProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables

/** The input-table catalog: every declared schema is the schema Spark
  * infers from the table's files, and a read with it runs no job. */
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

  test("Tables.read runs no job; spark.read.parquet of the same path runs one") {
    val sc = spark.sparkContext
    val dir = dirs.head
    /** Jobs `body` starts on this thread, counted once the bus is drained. */
    def jobsOf(body: => Unit): Int = {
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
    for (name <- Seq("documents", "events")) {
      assert(jobsOf(Tables.read(spark, dir, name)) == 0, name)
      assert(jobsOf(spark.read.parquet(Tables.path(dir, name))) == 1, name)
    }
  }
}
