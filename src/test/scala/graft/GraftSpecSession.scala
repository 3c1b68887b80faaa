package graft

import org.apache.spark.sql.SparkSession

/** A session built by [[GraftSession.builder]], for assertions about what
  * GraftSession's confs do. The suites of one test JVM share a
  * SparkContext, and `getOrCreate` would hand back whichever session an
  * earlier suite made, so this always creates a new session on the shared
  * context; its confs are GraftSession's whoever made the context. The
  * default and active sessions are left as they were. */
object GraftSpecSession {

  def create(app: String): SparkSession = {
    val (default, active) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    val spark = GraftSession.builder(4, app).create()
    default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
    active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    spark
  }
}
