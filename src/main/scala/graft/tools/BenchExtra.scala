package graft.tools

import org.apache.spark.sql.{GraftBridge, SparkSession}

/** Iteration-speed benchmark: times ONLY the query battery, with exactly
  * Bench's per-query methodology (same session config, `.count()` action,
  * best-of-N reps) but none of the scaling
  * legs — so an optimization round can re-measure a change in ~1 min
  * instead of ~25. Beside each query's best time (`queries`) it reports
  * the generated classes compiled during its timed reps (`compiles`).
  * Bench.scala itself is the frozen driver contract; this main only ADDS
  * measurement surface (guide §1.4/§1.5).
  *
  * Usage:
  *   tools/benchx.sh [queryName...]        time a subset (default: all)
  * Env:
  *   SPARK_GRAFT_SF_DIR       data dir   (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS         local[N]   (default 32)
  *   SPARK_GRAFT_BATTERY_REPS best-of-N  (default 2, same as Bench)
  *   SPARK_GRAFT_NOOP=1       time a noop-sink write instead of count()
  *                            (guide §1.4: computes every column, isolates
  *                            the computation from count()'s pruning)
  *   SPARK_GRAFT_EXPLAIN_DIR  if set, write <query>.txt with
  *                            .explain("formatted") for each timed query
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_BATTERY_REPS", "2").toInt
    val noop = sys.env.get("SPARK_GRAFT_NOOP").contains("1")
    val explainDir = sys.env.get("SPARK_GRAFT_EXPLAIN_DIR")

    val spark: SparkSession = {
      val s = graft.GraftSession.builder(cpus, s"graft-benchx-$cpus").getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    val selected =
      if (args.nonEmpty) graft.SparkEntry.queries.filter(q => args.contains(q._1))
      else graft.SparkEntry.queries
    require(selected.nonEmpty, s"no queries matched ${args.mkString(",")}")

    // same warmup as Bench: JIT + parquet footers via the cheapest query
    try graft.SparkEntry.queries("q12_lang_profile")(spark, sfDir).count()
    catch { case _: Throwable => () }

    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      spark.sparkContext.setJobDescription(s"benchx:$name")
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      sec
    }

    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      explainDir.foreach { dir =>
        try {
          val p = java.nio.file.Paths.get(dir)
          java.nio.file.Files.createDirectories(p)
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(p.resolve(s"$name.txt"), plan)
        } catch { case e: Throwable => System.err.println(s"explain $name: $e") }
      }
      val compiled0 = GraftBridge.compiledClasses
      val runs = (1 to reps).map { _ =>
        try once(name, fn) catch { case e: Throwable => System.err.println(s"$name: $e"); -1.0 }
      }
      (name, if (runs.exists(_ >= 0)) runs.filter(_ >= 0).min else -1.0,
        GraftBridge.compiledClasses - compiled0)
    }

    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, v, _) => k -> f"$v%.3f" })
    val compiles = obj(results.map { case (k, _, c) => k -> c.toString })
    val total = results.map(_._2).filter(_ >= 0).sum
    val json =
      s"""{"metric":"battery","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","noop":$noop,"compiles":$compiles}"""
    println(json)
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCHX_OUT", "target/benchx.json"))
      if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, json + "\n")
    } catch { case _: Throwable => () }
    spark.stop()
  }
}
