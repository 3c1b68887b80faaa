package graft

import org.apache.spark.sql.SessionProbe
import org.scalatest.funsuite.AnyFunSuite

/** What [[GraftSession]]'s bindings do for a long-lived session: no
  * per-session artifact isolation, so a streaming query run again
  * recompiles none of its generated classes. */
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
      val before = SessionProbe.compiledClasses
      val second = run()
      val compiled = SessionProbe.compiledClasses - before
      assert(compiled == 0, s"$q compiled $compiled classes on its second run")
      assert(first.nonEmpty && second == first, q)
    }
  }
}
