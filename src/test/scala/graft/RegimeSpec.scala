package graft

import org.apache.spark.sql.{CacheProbe, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.link.ConnectedComponents

/** The driver-local vs distributed regime primitive: the `collectUpTo`
  * bound, the forced-distributed seam, the connected-components edge cache
  * and query-level parity of both regimes. */
class RegimeSpec extends AnyFunSuite {

  private lazy val spark =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .appName("regime-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  // the sf0.001 tables of TESTDATA.md, kept under the home directory
  private val sf = new java.io.File(sys.props("user.home"), "testdata/sf0.001").getPath

  test("Regime.collectUpTo: cap rows fit, cap + 1 overflow, the seam forces overflow") {
    import spark.implicits._
    val cap = 5
    assert(Regime.collectUpTo((1 to cap).toDS(), cap).map(_.sorted.toSeq) == Some(1 to cap))
    assert(Regime.collectUpTo((1 to cap + 1).toDS(), cap).isEmpty)
    assert(Regime.collectUpTo(spark.emptyDataset[Int], cap).map(_.length) == Some(0))
    assert(Regime.collectUpTo(Seq(1).toDS(), 0).isEmpty)
    assert(Regime.forcingDistributed(Regime.collectUpTo(Seq(1).toDS(), cap)).isEmpty)
    assert(Regime.forcingDistributed(Regime.collectUpTo(spark.emptyDataset[Int], cap))
      .map(_.length) == Some(0))
    assert(Regime.collectUpTo(Seq(1).toDS(), cap).isDefined) // the seam is scoped
    assertThrows[IllegalArgumentException](Regime.collectUpTo(Seq(1).toDS(), Int.MaxValue))
    assertThrows[IllegalArgumentException](Regime.collectUpTo(Seq(1).toDS(), -1))
  }

  test("ConnectedComponents.run leaves nothing it persisted cached, in either regime") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    for (forced <- Seq(false, true)) {
      spark.catalog.clearCache()
      val out = if (forced) Regime.forcingDistributed(ConnectedComponents.run(spark, edges))
        else ConnectedComponents.run(spark, edges)
      assert(CacheProbe.cachedEntries(spark) == 0, s"forced=$forced")
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)), s"forced=$forced")
    }
  }

  test("the seam reaches SparkEntry's parallel legs") {
    val b = Regime.MaxDriverRows
    assert(Regime.forcingDistributed(SparkEntry.inParallel(Regime.bound(b), Regime.bound(b))) ==
      ((0, 0)))
    assert(Regime.forcingDistributed(
      SparkEntry.inParallel3(Regime.bound(b), Regime.bound(b), Regime.bound(b))) == ((0, 0, 0)))
    assert(SparkEntry.inParallel(Regime.bound(b), Regime.bound(b)) == ((b, b)))
  }

  test("q18 and q23 persist nothing in the default regime") {
    for (q <- Seq("q18_minhash_clusters", "q23_simhash_clusters")) {
      spark.catalog.clearCache()
      assert(SparkEntry.queries(q)(spark, sf).collect().nonEmpty, q)
      assert(CacheProbe.cachedEntries(spark) == 0, q)
    }
  }

  // every SparkEntry query that reaches a regime split
  private val regimeQueries = Seq(
    "q18_minhash_clusters", "q23_simhash_clusters", "q26_embedding_dedup",
    "q28_ann_recall", "q32_mention_dict", "q34_mention_components",
    "q41_kg_triples_canonical", "q42_mtb_pools", "q43_pool_pair_scores",
    "q44_training_augment", "q45_negative_samples", "q46_positive_samples",
    "q47_kg_graph_nodes", "q48_grad_accum", "q53_stream_triples",
    "q58_mtb_losses")

  test("every query reaching a regime split: forced-distributed output equals default") {
    def rows(name: String): Map[Seq[Any], Int] = {
      spark.catalog.clearCache()
      val out = SparkEntry.queries(name)(spark, sf).collect().toSeq
      out.map((r: Row) => r.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    }
    for (q <- regimeQueries) {
      val default = rows(q)
      assert(default.nonEmpty, q)
      assert(Regime.forcingDistributed(rows(q)) == default, q)
    }
    spark.catalog.clearCache()
  }
}
