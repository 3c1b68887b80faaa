package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.Gazetteer
import graft.fixtures.{Corpus, FixtureVocab}
import graft.io.CheckpointManager
import graft.kernel.ScoringKernel
import graft.schema.{Triple, WebPage}
import graft.tokenize.Vocab
import graft.triples.{Checkpointed, TriplePipeline}

/** A scorer that fails every batch: a `triples` stage compute that throws. */
private class FailingKernel(val nClasses: Int) extends ScoringKernel {
  def scoreBatch(batch: Array[(Array[Int], Int, Int)]): Array[Array[Float]] =
    throw new IllegalStateException("injected scoring failure")
}

/** `Checkpointed.run` resumed under injected faults: a stage compute that
  * throws at each stage boundary, a completed stage invalidated, and every
  * manifest emptied, truncated or overwritten with garbage. After every
  * resume the triple multiset equals an uninterrupted run's, and the
  * `rows_out` totals read from `metrics` count each stage's rows once. */
class ResumeFaultSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("resume-fault-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Stages = Seq("text_norm", "triples")

  private lazy val pages = Corpus.generate(spark, 48)
  private lazy val (gaz, tok, kern, labels) = {
    val sc = spark.sparkContext
    val (kernel, _, idx2rel) = SparkEntry.trainedKernel
    (sc.broadcast(new Gazetteer(FixtureVocab.AllEntities)),
      sc.broadcast(Vocab.fixtureTokenizer),
      sc.broadcast(kernel: ScoringKernel),
      sc.broadcast(idx2rel))
  }

  private def run(
      root: String,
      runId: String,
      in: Dataset[WebPage] = pages,
      kernel: org.apache.spark.broadcast.Broadcast[ScoringKernel] = kern): Seq[Triple] =
    Checkpointed.run(spark, in, gaz, tok, kernel, labels, root, runId)
      .collect().toSeq.sortBy(t => (t.url, t.subj, t.obj, t.pred))

  /** The uninterrupted run's triples, and each stage's row count. */
  private lazy val (reference, stageRows) = {
    val triples = run(Files.createTempDirectory("graft_fault_ref").toString, "ref")
    (triples, Map(
      "text_norm" -> TriplePipeline.normalizePages(pages, TriplePipeline.Config()).count(),
      "triples" -> triples.length.toLong))
  }

  private def manager(root: String) = new CheckpointManager(spark, root, "probe")

  /** Resume `root` under `runId` and check the output and the lineage. */
  private def resumeAndCheck(root: String, runId: String, fault: String): Unit = {
    assert(run(root, runId) == reference, s"$fault: resumed triples differ")
    val mgr = manager(root)
    assert(Stages.forall(mgr.isComplete), s"$fault: a stage is incomplete after resume")
    val metrics = mgr.metrics
    assert(metrics.schema == StructType.fromDDL(
      "stage STRING, run_id STRING, partition_id INT, rows_out BIGINT, checksum STRING, wall_ms BIGINT"))
    val rowsOut = metrics.groupBy("stage").sum("rows_out").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rowsOut == stageRows, s"$fault: rows_out per stage must count each stage once")
    assert(!Files.exists(Paths.get(root, "_metrics")), s"$fault: no _metrics table")
  }

  test("a stage compute that throws at each stage boundary: resume with the same or a new run id") {
    assert(reference.nonEmpty)
    import spark.implicits._
    val failing = spark.sparkContext.broadcast(new FailingKernel(labels.value.size): ScoringKernel)
    // (the stage that fails, the stages complete after the failure, the failing run)
    val boundaries = Seq[(String, Seq[String], String => Unit)](
      ("text_norm", Nil, root => run(root, "r1", in = pages.map { p =>
        if (p.url != null) throw new IllegalStateException("injected page failure"); p })),
      ("triples", Seq("text_norm"), root => run(root, "r1", kernel = failing)))
    for ((stage, complete, failingRun) <- boundaries; resumeId <- Seq("r1", "r2")) {
      val root = Files.createTempDirectory("graft_fault_throw").toString
      intercept[Exception](failingRun(root))
      val mgr = manager(root)
      assert(Stages.filter(mgr.isComplete) == complete, s"after $stage failed")
      resumeAndCheck(root, resumeId, s"$stage threw, resumed as $resumeId")
    }
  }

  test("a completed stage whose manifest is invalidated recomputes and is counted once") {
    val root = Files.createTempDirectory("graft_fault_invalidate").toString
    assert(run(root, "r1") == reference)
    for (stage <- Stages; resumeId <- Seq("r1", "r2")) {
      manager(root).invalidate(stage)
      assert(!manager(root).isComplete(stage))
      resumeAndCheck(root, resumeId, s"$stage invalidated, resumed as $resumeId")
    }
  }

  test("an empty, truncated or garbage manifest reads as incomplete and the stage recomputes") {
    val root = Files.createTempDirectory("graft_fault_corrupt").toString
    assert(run(root, "r1") == reference)
    val damages = Seq[(String, Array[Byte] => Array[Byte])](
      "empty" -> (_ => Array.emptyByteArray),
      "truncated" -> (b => b.take(b.length / 2)),
      "garbage" -> (_ => "}\u0000 not a manifest {".getBytes(StandardCharsets.UTF_8)))
    for (stage <- Stages; ((kind, damage), i) <- damages.zipWithIndex) {
      val manifest = Paths.get(root, s"$stage.ok")
      Files.write(manifest, damage(Files.readAllBytes(manifest)))
      assert(!manager(root).isComplete(stage), s"$kind $stage manifest read as complete")
      resumeAndCheck(root, if (i % 2 == 0) "r1" else "r2", s"$kind $stage manifest")
    }
  }
}
