package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.fixtures.Corpus

/** Runtime smoke: drives the Catalyst expression path (assemble_article
  * then text_norm) through a real SparkSession over the
  * generated corpus and prints plan + sample rows. Run:
  *   sbt "runMain graft.tools.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get(cores = 4, app = "graft-smoke")
    import spark.implicits._
    import graft.textnorm.functions._

    val pages = Corpus.generate(spark, 64)
    val normed = pages
      .select($"url", $"lang", $"text")
      .withColumn("article", assemble_article($"text"))
      .withColumn("text_norm", text_norm($"article"))

    normed.explain("formatted")
    val rows = normed
      .select($"url", $"text_norm")
      .orderBy(length($"url"), $"url")
      .limit(5)
      .collect()
    rows.foreach(r => println(s"${r.getString(0)}\t${r.getString(1)}"))
    println(s"rows=${normed.count()}")
    spark.stop()
  }
}
