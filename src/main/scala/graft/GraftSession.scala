package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the scale-oriented defaults every entry point shares.
  *
  * local[N] stands in for an N-executor cluster (see BASELINE.md): shuffle
  * partitions track core count instead of the default 200, AQE is on so
  * skewed stages re-plan at runtime, and broadcast joins stay enabled for
  * the dimension tables (vocab, label maps, entity dictionaries).
  *
  * The `file:` scheme is bound to [[graft.io.LocalFs]] (and its
  * `FileContext` twin): without libhadoop's NativeIO the stock local
  * filesystem forks a `chmod` per created file and directory and a
  * `readlink` per `FileContext` rename, which made those forks a large share
  * of the triple sink and of every streaming checkpoint. The binding picks
  * engine code, not a tuning value, and it is session-wide by necessity:
  * Hadoop caches one `FileSystem` per scheme for the whole JVM, so it cannot
  * be scoped to one write. Files, `.crc` siblings and permission bits are
  * the stock filesystem's.
  *
  * Per-session artifact isolation is off
  * (`spark.sql.artifact.isolation.enabled=false`), also a binding and not a
  * tuning value. With it on (the Spark 4.1 default), every job of a session
  * carries that session's `JobArtifactState`, and the executor gives each
  * session its own class loader. `CodeGenerator`'s cache is keyed by the
  * context class loader and the code, and every streaming query runs on a
  * clone of its session (`sparkSessionForStream`). So each run of a
  * streaming query (q50, q51, q53) got a new loader, and its tasks
  * recompiled every generated class while the other tasks waited on the
  * compile lock: 19 classes per repeated q51 run. The engine adds no JARs,
  * files or other artifacts to any session, so there is nothing to
  * isolate. The conf is read when a session is created, and clones copy
  * it.
  */
object GraftSession {

  def builder(cores: Int, app: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", math.max(cores, 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // local mode shares one JVM between driver and executor: a long
      // stop-the-world pause (a full GC of a large fixed heap on this
      // slow-paging microVM can exceed 2 min) must not trip the 120 s
      // default heartbeat timeout — HeartbeatReceiver would remove the
      // only executor, local mode cannot re-register it (no
      // CoarseGrainedScheduler endpoint), and the session dies after 60
      // failed heartbeats. On a real cluster these would stay at their
      // defaults; here a stall is survivable by construction.
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "20s")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config(graft.io.LocalFs.HadoopConf.map { case (k, v) => s"spark.hadoop.$k" -> v })

  def get(cores: Int, app: String = "graft"): SparkSession = {
    val spark = builder(cores, app).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
