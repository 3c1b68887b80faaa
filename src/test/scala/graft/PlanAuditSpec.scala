package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audits: the properties that make these queries survive a
  * 100x scale-up, asserted against the actual optimized plans.
  *
  *  - no partition-less ranking window anywhere in the battery (the
  *    round-1 scale-killer: `WindowExec: No Partition Defined` moves every
  *    row through one task)
  *  - filters and projections reach the parquet scan (PushedFilters /
  *    pruned ReadSchema)
  *  - small dimension joins broadcast instead of shuffling the fact side
  *  - the flagship pipeline stays a single narrow stage (no Exchange)
  *  - the triple sink adds exactly one rebalance exchange, and computes
  *    `pred_part` without a regex or a Scala UDF
  */
class PlanAuditSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("plan-audit")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Every node of a physical plan, through adaptive plans and their query
    * stages. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      // inputPlan predates EnsureRequirements (no exchanges yet);
      // executedPlan is the current physical plan with them inserted
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(allNodes)
  }

  /** The executed plan of the parquet write to a directory named `output`
    * that `write` performs, captured through a QueryExecutionListener. */
  private def writePlan(output: String)(write: => Unit): SparkPlan = {
    val plans = new java.util.concurrent.ConcurrentHashMap[String, SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName }
          .foreach(name => plans.put(name, qe.executedPlan))
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      write
      // listener events arrive asynchronously on the listener bus
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!plans.containsKey(output) && System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    val p = plans.get(output)
    assert(p != null, s"no write of $output observed; saw ${plans.keySet}")
    p
  }

  test("no query plans a partition-less ranking window") {
    // every Window operator must declare a partitioning; an empty
    // partition spec prints as "windowspecdefinition(<sort>" with no
    // leading partition expressions
    val offenders = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      // the KG/MTB builders spin up real pipelines; plan-only is enough
      val p =
        try plan(name)
        catch { case e: Throwable => fail(s"$name failed to plan: $e") }
      val bad = p.linesIterator.exists { l =>
        l.contains("Window ") && l.contains("windowspecdefinition(") &&
          // a partitioned window prints partition exprs before the sort
          // order inside the spec; partition-less specs start with the
          // order column list directly followed by ASC/DESC marker count
          l.contains("windowspecdefinition(") && {
            val spec = l.substring(l.indexOf("windowspecdefinition(") + "windowspecdefinition(".length)
            // heuristic: partition-less spec has its first comma-separated
            // token already carrying the sort direction
            spec.split(",").headOption.exists(t => t.contains("ASC") || t.contains("DESC"))
          }
      }
      if (bad) Some(name) else None
    }
    assert(offenders.isEmpty, s"partition-less windows in: $offenders")
  }

  test("filter and projection push into the parquet scan (q25 query side)") {
    val p = plan("q25_ann_topk")
    assert(p.contains("LessThan(vec_id,32)") && p.contains("PushedFilters"),
      s"vec_id<32 not pushed:\n${p.take(2000)}")
  }

  test("column pruning reaches the scan (q11 reads only doc_id, text)") {
    val p = plan("q11_token_counts")
    val scanLine = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(scanLine.contains("doc_id") && scanLine.contains("text"))
    assert(!scanLine.contains("lang") && !scanLine.contains("source"),
      s"scan reads unneeded columns: $scanLine")
  }

  test("dimension joins broadcast (q02 supplier/nation)") {
    val p = plan("q02_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "dims not broadcast")
    assert(!p.contains("SortMergeJoin"), "dim join fell back to sort-merge")
  }

  test("flagship triples pipeline is a single narrow stage (no Exchange)") {
    val p = SparkEntry.kgTriples(spark, 64, canonical = false)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"flagship pipeline shuffles:\n${p.take(2000)}")
  }

  test("checkpointed triples stage computes without an Exchange") {
    val sc = spark.sparkContext
    val (kernel, _, idx2rel) = SparkEntry.trainedKernel
    val root = java.nio.file.Files.createTempDirectory("graft_plan_ckpt").toString
    // the stage's compute plan is only visible as the plan of its parquet
    // write, so capture the write of <root>/triples
    val p = writePlan("triples") {
      graft.triples.Checkpointed.run(
        spark, graft.fixtures.Corpus.generate(spark, 32),
        sc.broadcast(new graft.annotate.Gazetteer(graft.fixtures.FixtureVocab.AllEntities)),
        sc.broadcast(graft.tokenize.Vocab.fixtureTokenizer),
        sc.broadcast(kernel: graft.kernel.ScoringKernel),
        sc.broadcast(idx2rel),
        root, "plan-audit")
    }.toString
    assert(!p.contains("Exchange"), s"checkpointed triples stage shuffles:\n${p.take(2000)}")
  }

  test("triple sink write is one rebalance exchange and runs no regex") {
    import org.apache.spark.sql.catalyst.expressions.{RegExpReplace, ScalaUDF}
    import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_COL, ShuffleExchangeLike}
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft_plan_sink").toString + "/sink"
    val p = writePlan("sink") {
      graft.triples.TripleSink.write(
        SparkEntry.kgTriples(spark, 64, canonical = false).as[graft.schema.Triple], dir)
    }
    val nodes = allNodes(p)
    val shuffles = nodes.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.map(_.shuffleOrigin) == Seq(REBALANCE_PARTITIONS_BY_COL),
      s"sink write shuffles other than one rebalance:\n$p")
    assert(!nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[RegExpReplace]))),
      s"sink write runs a per-row regex:\n$p")
    assert(!nodes.exists(_.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF]))),
      s"sink write runs a Scala UDF:\n$p")
  }

  test("relational aggregates keep partial (map-side) aggregation") {
    val p = plan("q01_pricing_summary")
    // partial + final HashAggregate pairs around one exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, "no partial aggregation")
  }

  test("q13 exact dedup exchanges never carry a text column") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.types.StringType

    // as planned here (the join back broadcasts) and with broadcast off,
    // where the join back is the shuffle it would be at scale
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    for (threshold <- Seq(prev, "-1")) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val p =
        try SparkEntry.queries("q13_exact_dedup")(spark, sf).queryExecution.executedPlan
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      val exchanges = allNodes(p).collect { case e: Exchange => e }
      assert(exchanges.nonEmpty, s"no exchange in q13's plan:\n$p")
      exchanges.foreach { e =>
        val text = e.output.filter(_.dataType == StringType)
        assert(text.isEmpty, s"text column ${text.map(_.name)} crosses an exchange:\n$p")
      }
    }
  }

  test("q26 LSH bucket exchanges never carry a vector column") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.types.ArrayType

    // the edge stage runs eagerly inside ConnectedComponents, so audit it
    // directly rather than the final (post-CC) join plan; disable broadcast
    // so the bucket join plans as the shuffle it would be at scale
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("vec"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan =
      try graft.ops.Dedup
        .embeddingEdges(spark, base, threshold = 0.95, nBits = 8, tables = 8)
        .queryExecution.executedPlan
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val bucketShuffles = allNodes(plan)
      .collect { case e: ShuffleExchangeExec => e }
      .filter(_.outputPartitioning match {
        case h: HashPartitioning => h.expressions.exists(_.toString.contains("sig"))
        case _ => false
      })
    assert(bucketShuffles.nonEmpty,
      s"expected an LSH bucket-join exchange on sig; nodes: ${allNodes(plan).map(_.getClass.getSimpleName).distinct}")
    bucketShuffles.foreach { e =>
      val arrays = e.child.schema.filter(_.dataType.isInstanceOf[ArrayType])
      assert(arrays.isEmpty,
        s"vector column rides the bucket-join shuffle: ${arrays.map(_.name)}")
    }
  }
}
