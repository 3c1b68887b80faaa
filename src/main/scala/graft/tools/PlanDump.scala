package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dump `explain(formatted)`-style physical plans for the headline queries
  * into PLANS.md — the reviewable evidence that filters push down, dims
  * broadcast, aggregates combine map-side, and the flagship pipeline stays
  * a single narrow stage. Complements PlanAuditSpec (which asserts the
  * same properties mechanically). */
object PlanDump {

  private val Headliners = Seq(
    "q01_pricing_summary" ->
      "relational agg: partial+final HashAggregate around one exchange; decimal sums",
    "q02_revenue_by_nation" ->
      "dim joins: both supplier and nation BroadcastHashJoin — fact never re-shuffles",
    "q11_token_counts" ->
      "scan pruning: ReadSchema carries only doc_id, text",
    "q13_exact_dedup" ->
      "exact dedup: one hash agg over the 128-bit text digest (two seeded xxhash64, __th and __th2) plus the length __tl, broadcast join back on it; no text crosses an exchange",
    "q18_minhash_clusters" ->
      "LSH near-dup, small regime: one (doc_id, shingle) probe job, then MinHashLSH.localPairs + union-find on the driver, so the plan is a sort over a LocalRelation (minhash_lsh_pairs shows the distributed LSH stage)",
    "minhash_lsh_pairs" ->
      "LSH candidate pairs (MinHashLSH.similarPairs, the distributed stage of q18 above its budget, dumped directly: below the budget q18 plans as a LocalRelation, and above it connected components runs the edge lineage inside its own probe)",
    "q25_ann_topk" ->
      "ANN exact: PushedFilters carries vec_id<32; broadcast query side, per-query window rank",
    "q32_mention_dict" ->
      "dictionary encode: bounded-driver rank ids (no range exchange, no global window), materialized before the first-seen cache is released, so the plan scans the stored (mention, e_id) rows",
    "q32_first_seen" ->
      "dictionary first-seen step (DenseId.firstSeen over q32's mention occurrences, dumped directly: every dictionary returns ranked or materialized rows, so no headliner above shows it): min of (doc_id, pos) packed into one decimal(38,0), a partial and a final HashAggregate around one exchange on the mention, no SortAggregate",
    "q38_np_mentions" ->
      "noun-phrase mentions: one narrow flatMap over the documents scan",
    "q42_mtb_pools" ->
      "MTB pools over documents: the statements arrive materialized (Scan ExistingRDD) — the dict broadcast back to the band join, the freq keep set collected and broadcast (a LocalRelation semi join, so the pairs never exchange) and the bounded-driver rank ids ran when they were built — then the salted two-phase list collection",
    "q40_kg_triples" ->
      "flagship pipeline (dumped directly — the q40 driver query adds one tiny pin-digest aggregate on top): ONE WholeStageCodegen+mapPartitions span, zero Exchange",
    "canonicalize_relabel" ->
      "canonicalization as an operator over triples (q41/q47 path): the linked dim resolves in the bounded local regime, so the relabel is two BroadcastHashJoins over a LocalRelation — the triple side never re-shuffles",
    "ivf_search" ->
      "IVF serve path (q24): only the probed list_id= directories are read, with the layout's declared schema, at most 32 paths per FileScan (a Union of two here), so building the read runs no listing or footer job — a probe-16 search scans only the probed lists, never the whole corpus",
    "mtb_filter_tokenize" ->
      "MTB freq-filter (broadcast regime): the statements cache already carries each window's encoding, so this stage tokenizes nothing — the keep set is a bounded collect broadcast as a LocalRelation, the semi join is a BroadcastHashJoin, and the entity-id joins and the non-null token_ids filter run in one codegen span over the statements cache; relation ids then attach via the bounded-driver rank table (no range exchange)")

  /** The executed plan of headliner `name`: a `queries(name)` call or one
    * of the special cases. */
  private def plan(spark: org.apache.spark.sql.SparkSession, sfDir: String, name: String): String = {
    import org.apache.spark.sql.functions.col
    def of(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    name match {
      case q if graft.SparkEntry.queries.contains(q) => of(graft.SparkEntry.queries(q)(spark, sfDir))
      case "q40_kg_triples" =>
        of(graft.SparkEntry.kgTriples(spark, 512, canonical = false))
      case "canonicalize_relabel" =>
        of(graft.SparkEntry.canonicalizeKg(
          spark, graft.SparkEntry.kgTriples(spark, 512, canonical = false)))
      case "minhash_lsh_pairs" =>
        of(graft.link.MinHashLSH.similarPairs(
          spark, graft.io.Tables.read(spark, sfDir, "documents").select(col("doc_id"), col("text")),
          "doc_id", "text", threshold = 0.8, shingleMode = "word"))
      case "q32_first_seen" =>
        of(graft.ops.DenseId.firstSeen(
          graft.ops.KgOps.mentions(spark, graft.io.Tables.read(spark, sfDir, "documents")),
          col("mention"), col("doc_id"), col("pos")))
      case "ivf_search" =>
        val e = graft.io.Tables.read(spark, sfDir, "embeddings")
        val root = s"${sys.props("java.io.tmpdir")}/graft-ivf-plandump"
        val idx = graft.ops.IvfIndex.buildOrLoad(spark, e, root)
        of(idx.search(spark, e.filter(col("vec_id") < 32), 5))
      case "mtb_filter_tokenize" =>
        val sc = spark.sparkContext
        var tok: org.apache.spark.sql.DataFrame = null
        val ds = graft.statements.MtbDataset.build(
          spark, graft.fixtures.Corpus.generate(spark, 512),
          sc.broadcast(new graft.annotate.Gazetteer(graft.fixtures.FixtureVocab.AllEntities)),
          sc.broadcast(graft.tokenize.Vocab.fixtureTokenizer),
          minCount = 2, minPoolSize = 2,
          probe = (n, f) => { val d = f(); if (n == "filter_tokenize_encode") tok = d })
        try of(tok) finally ds.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.get(8, "plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb ++= "# PLANS — physical-plan evidence (generated by graft.tools.PlanDump)\n\n"
    sb ++= "Regenerate: `sbt -batch \"runMain graft.tools.PlanDump\"`. " +
      "PlanAuditSpec asserts the load-bearing properties mechanically; this file\n" +
      "is the human-readable dump of the same plans at sf0.001.\n"
    Headliners.foreach { case (name, note) =>
      sb ++= s"\n## $name\n\n$note\n\n```\n"
      sb ++= plan(spark, sfDir, name).linesIterator.take(60).mkString("\n")
      sb ++= "\n```\n"
    }
    Files.write(
      Paths.get("PLANS.md"), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[plandump] wrote PLANS.md (${Headliners.size} plans)")
    spark.stop()
  }
}
