package graft.tools

import org.apache.spark.sql.functions._

/** Dumps the formatted physical plan of the MinHash/LSH candidate-pair
  * stage ([[graft.link.MinHashLSH.similarPairs]]) to a file. The q18
  * plan cannot show this subtree: below its `Regime` budget q18 runs on
  * the driver and plans as a LocalRelation, and above it connected
  * components executes the edge lineage eagerly inside its own probe, so
  * the final explain holds only the label join. This tool is measurement
  * surface only (guide §1) — it runs no query.
  *
  * Usage: graft.tools.PlanDumpLsh <outFile> [sfDir]
  */
object PlanDumpLsh {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: PlanDumpLsh <outFile> [sfDir]")
    val out = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.builder(4, "graft-plandump").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.io.Tables.read(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"))
    val pairs = graft.link.MinHashLSH.similarPairs(
      spark, docs, "doc_id", "text", threshold = 0.8, shingleMode = "word")
    val plan = pairs.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), plan)
    spark.stop()
  }
}
