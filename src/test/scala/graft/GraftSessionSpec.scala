package graft

import org.apache.spark.sql.{GraftBridge, SessionProbe}
import org.scalatest.funsuite.AnyFunSuite

/** What [[GraftSession]]'s bindings do for a long-lived session: no
  * per-session artifact isolation, so a streaming query run again
  * recompiles none of its generated classes, and a codegen cache that
  * holds every class a query battery generates. */
class GraftSessionSpec extends AnyFunSuite {

  private lazy val spark = GraftSpecSession.create("graft-session-spec")

  // the sf0.001 tables of TESTDATA.md, kept under the home directory
  private val sf = new java.io.File(sys.props("user.home"), "testdata/sf0.001").getPath

  test("the session and its jobs carry no per-session artifact state") {
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(!SessionProbe.artifactIsolated(spark))
    // a streaming query runs on a clone of its session
    assert(!SessionProbe.artifactIsolated(SessionProbe.cloned(spark)))
  }

  test("a second q51 and a second q50 run in one session compile no class") {
    for (q <- Seq("q51_stream_sessions", "q50_stream_hourly")) {
      def run() = SparkEntry.queries(q)(spark, sf).collect().toSet
      val first = run()
      val before = GraftBridge.compiledClasses
      val second = run()
      val compiled = GraftBridge.compiledClasses - before
      assert(compiled == 0, s"$q compiled $compiled classes on its second run")
      assert(first.nonEmpty && second == first, q)
    }
  }

  test("a second pass over the battery's queries compiles no class") {
    val cap = GraftSession.CodegenCacheEntries.toString
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == cap)
    // the cap is read once per JVM, from whichever suite generates code
    // first, so the test JVM gets the same value as a system property
    assert(sys.props.get("spark.sql.codegen.cache.maxEntries").contains(cap))
    // perfbench's battery and its warm-up query
    val queries = Seq(
      "q06_events_hourly", "q10_doc_normalize", "q18_minhash_clusters",
      "q23_simhash_clusters", "q30_mentions", "q37_semeval_prf", "q51_stream_sessions",
      "q52_fewrel_source", "q55_masking", "q59_kernel_checkpoint", "q60_media_meta",
      "q12_lang_profile")
    def pass() = queries.map(q => q -> SparkEntry.queries(q)(spark, sf).collect().toSet).toMap
    val first = pass()
    val before = GraftBridge.compiledClasses
    val second = pass()
    val compiled = GraftBridge.compiledClasses - before
    assert(compiled == 0, s"the second pass compiled $compiled classes")
    assert(second == first)
  }
}
