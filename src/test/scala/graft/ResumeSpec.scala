package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.Gazetteer
import graft.eval.SemEval
import graft.fixtures.{Corpus, FixtureVocab, SemEvalFixture}
import graft.kernel.ScoringKernel
import graft.tokenize.Vocab
import graft.triples.{Checkpointed, TriplePipeline}

/** North-rule resumability: kill-before-stage-k — a restarted run over
  * the same checkpoint root must reuse completed stages and produce
  * IDENTICAL triples, the same multiset the fused pipeline produces. */
class ResumeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("resume-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def broadcasts() = {
    val sc = spark.sparkContext
    val (kernel, _, idx2rel) = SparkEntry.trainedKernel
    (sc.broadcast(new Gazetteer(FixtureVocab.AllEntities)),
      sc.broadcast(Vocab.fixtureTokenizer),
      sc.broadcast(kernel: ScoringKernel),
      sc.broadcast(idx2rel))
  }

  private def sortedTriples(ds: org.apache.spark.sql.Dataset[graft.schema.Triple]) =
    ds.collect().toSeq.sortBy(t => (t.url, t.subj, t.obj, t.pred))

  test("checkpointed pipeline resumes mid-pipeline with identical triples") {
    val (gaz, tok, kern, labels) = broadcasts()
    val root = Files.createTempDirectory("graft_resume").toString
    def run(runId: String) = sortedTriples(Checkpointed.run(
      spark, Corpus.generate(spark, 48), gaz, tok, kern, labels, root, runId))

    val first = run("run1")
    assert(first.nonEmpty)

    // "crash" before each stage in turn, then before both: drop the
    // invalidated stages' manifests, keep the others
    val mgr = new graft.io.CheckpointManager(spark, root, "x")
    for ((dropped, i) <- Seq(Seq("triples"), Seq("text_norm"), Seq("text_norm", "triples")).zipWithIndex) {
      assert(mgr.isComplete("text_norm") && mgr.isComplete("triples"))
      dropped.foreach(mgr.invalidate)
      val resumed = run(s"run${i + 2}")
      assert(resumed == first, s"resume after dropping $dropped must reproduce identical triples")
    }

    // lineage metrics exist for every stage
    val stages = mgr.metrics.select("stage").distinct().collect().map(_.getString(0)).toSet
    assert(stages == Set("text_norm", "triples"))
  }

  test("checkpointed triples equal the fused pipeline's, as a multiset") {
    val (gaz, tok, kern, labels) = broadcasts()
    val root = Files.createTempDirectory("graft_ckpt_eq").toString
    val pages = Corpus.generate(spark, 48)
    val fused = sortedTriples(TriplePipeline.run(spark, pages, gaz, tok, kern, labels))
    val ckpt = sortedTriples(Checkpointed.run(spark, pages, gaz, tok, kern, labels, root, "eq"))
    assert(fused.nonEmpty)
    assert(ckpt == fused)
  }

  test("SemEval file source parses distributed (wholetext)") {
    val dir = Files.createTempDirectory("graft_semeval")
    Files.write(dir.resolve("train.txt"),
      (SemEvalFixture.trainLines.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val parsed = SemEval.read(spark, dir.toString + "/train.txt").collect()
    assert(parsed.length == SemEvalFixture.trainExamples.length)
    assert(parsed.map(_.exampleId).min == 1)
  }
}
