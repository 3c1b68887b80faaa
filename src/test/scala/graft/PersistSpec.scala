package graft

import org.apache.spark.sql.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

/** The persist lifecycle: `Persist.within` releases its cache on every
  * exit and hands back results that outlive it, and no query leaves a
  * cache entry or a streaming sink table behind in a long-lived session. */
class PersistSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("persist-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  // the sf0.001 tables of TESTDATA.md, kept under the home directory
  private val sf = new java.io.File(sys.props("user.home"), "testdata/sf0.001").getPath

  private def cached = CacheProbe.cachedEntries(spark)

  test("Persist.within releases on return and on a throw; a materialized result survives") {
    val df = spark.range(0, 100).selectExpr("id", "id * 3 AS v")
    val before = cached
    val expect = df.filter("id % 2 = 0").collect().toSet

    val out = Persist.within(df) {
      assert(cached == before + 1)
      df.filter("id % 2 = 0")
    }
    assert(cached == before)
    assert(out.collect().toSet == expect)

    // a frame over the cached rows' RDD lineage (DenseId's shape) is
    // materialized too
    val ids = Persist.within(df)(graft.ops.DenseId.withDenseIdProbed(df, "rank", Seq("id", "v")))
    assert(cached == before)
    assert(ids.collect().map(r => (r.getLong(0), r.getLong(2))).toSet ==
      (0L until 100L).map(i => (i, i)).toSet)

    // results that do not read the cache come back untouched
    val other = spark.range(0, 5).toDF()
    assert(Persist.within(df)(other) eq other)
    assert(Persist.within(df)(df.count()) == 100L)

    val e = intercept[IllegalStateException] {
      Persist.within(df) { df.count(); throw new IllegalStateException("leg failed") }
    }
    assert(e.getMessage == "leg failed")
    assert(cached == before)
  }

  test("all queries in one session leave no cache entry behind") {
    // one reset isolates the sweep from suites run earlier in this JVM;
    // the sweep itself never clears the cache
    spark.catalog.clearCache()
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      fn(spark, sf).collect()
      assert(cached == 0, s"$name left $cached cached entries")
    }
  }

  test("streaming memory sinks leave no table behind and return equal rows") {
    def sinkTables = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_"))
    val events = s"$sf/events.parquet"
    val hourly = (1 to 2).map(_ => graft.streaming.EventStream.hourlyAgg(spark, events).collect().toSet)
    val sessions = (1 to 2).map(_ =>
      graft.streaming.EventStream.sessionize(spark, events).collect().toSet)
    assert(sinkTables.isEmpty, sinkTables.mkString(","))
    assert(hourly(0).nonEmpty && hourly(0) == hourly(1))
    assert(sessions(0).nonEmpty && sessions(0) == sessions(1))
  }
}
