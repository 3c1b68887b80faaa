package perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.CollectionAccumulator

import graft.annotate.{Annotator, Gazetteer}
import graft.kernel.{ScoringKernel, StubKernel}
import graft.schema.{Span, Triple, WebPage}
import graft.statements.{Markers, Windowing}
import graft.tokenize.BertTokenizer
import graft.triples.TriplePipeline

/** The fused narrow loop of `TriplePipeline.run`, rebuilt in the benchmark
  * with a timer around each call into a layer's public function. Every
  * partition adds one counter array to an accumulator when its iterator is
  * exhausted. The triples it emits are the production loop's, so the
  * traced run's digest must equal the untraced one. */
object TracedKg {

  /** Counter slots, in the order they appear in the accumulated arrays. */
  val Fields: Seq[String] = Seq(
    "textnorm_ns", "textnorm_bytes", "pages", "annotate_ns", "mentions",
    "statements_ns", "statements", "tokenize_ns", "memo_lookups", "memo_hits",
    "dropped", "kernel_ns", "batches", "real_tokens", "padded_tokens", "triples")
  private val TextNormNs = 0; private val TextNormBytes = 1; private val Pages = 2
  private val AnnotateNs = 3; private val Mentions = 4; private val StatementsNs = 5
  private val Statements = 6; private val TokenizeNs = 7; private val MemoLookups = 8
  private val MemoHits = 9; private val Dropped = 10; private val KernelNs = 11
  private val Batches = 12; private val RealTokens = 13; private val PaddedTokens = 14
  private val Triples = 15

  /** WordPiece memo that counts its lookups and hits. */
  final class CountingMemo(c: Array[Long]) extends java.util.HashMap[String, Markers.TokPieces](4096) {
    override def get(key: Object): Markers.TokPieces = {
      val v = super.get(key)
      c(MemoLookups) += 1
      if (v != null) c(MemoHits) += 1
      v
    }
  }

  def run(
      spark: SparkSession,
      pages: Dataset[WebPage],
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      kernel: Broadcast[ScoringKernel],
      idx2rel: Broadcast[Map[Int, String]],
      acc: CollectionAccumulator[Array[Long]],
      cfg: TriplePipeline.Config = TriplePipeline.Config()): Dataset[Triple] = {
    import spark.implicits._
    val batchSize = cfg.batchSize
    val windowSize = cfg.windowSize
    TriplePipeline.normalizePages(pages, cfg)
      .as[(String, String)]
      .mapPartitions { rows =>
        val c = new Array[Long](Fields.length)
        val k = kernel.value
        val labels = idx2rel.value
        val tok = tokenizer.value
        val padId = tok.padId
        val cache = new CountingMemo(c)
        val timedRows = new Iterator[(String, String)] {
          def hasNext: Boolean = {
            val t0 = System.nanoTime()
            val h = rows.hasNext
            c(TextNormNs) += System.nanoTime() - t0
            h
          }
          def next(): (String, String) = {
            val t0 = System.nanoTime()
            val r = rows.next()
            c(TextNormNs) += System.nanoTime() - t0
            c(Pages) += 1
            c(TextNormBytes) += r._2.length
            r
          }
        }
        val statements = timedRows.flatMap { case (url, textNorm) =>
          var t0 = System.nanoTime()
          val doc = TriplePipeline.filterMentions(Annotator.annotate(url, textNorm, gaz.value), cfg)
          var t1 = System.nanoTime()
          c(AnnotateNs) += t1 - t0
          c(Mentions) += doc.mentions.length
          val sts = Windowing.statements(doc, TriplePipeline.stableDocOrd(url), windowSize)
          t0 = System.nanoTime()
          c(StatementsNs) += t0 - t1
          c(Statements) += sts.length
          sts.iterator.flatMap { st =>
            t1 = System.nanoTime()
            val enc = Markers.encodeCached(tok, cache)(st.tokens, Span(st.e1s, st.e1e), Span(st.e2s, st.e2e))
            c(TokenizeNs) += System.nanoTime() - t1
            if (enc.isEmpty) c(Dropped) += 1
            enc.map(e => (st.e1, st.e2, url, e.tokenIds, e.e1Span.start, e.e2Span.start))
          }
        }
        val out = statements.grouped(batchSize).flatMap { group =>
          val t0 = System.nanoTime()
          val batch = group.toArray
          val maxLen = if (batch.isEmpty) 0 else batch.map(_._4.length).max
          val padded = batch.map { r =>
            val ids = r._4
            c(RealTokens) += ids.length
            val o =
              if (ids.length == maxLen) ids
              else ids ++ Array.fill(maxLen - ids.length)(padId)
            (o, r._5, r._6)
          }
          val logits = k.scoreBatch(padded)
          val res = batch.indices.map { i =>
            val r = batch(i)
            Triple(r._1, labels(StubKernel.argmax(logits(i))), r._2, r._3)
          }
          c(KernelNs) += System.nanoTime() - t0
          c(Batches) += 1
          c(PaddedTokens) += batch.length.toLong * maxLen
          c(Triples) += batch.length
          res
        }
        new Iterator[Triple] {
          private var reported = false
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h && !reported) { reported = true; acc.add(c) }
            h
          }
          def next(): Triple = out.next()
        }
      }
  }

  /** Sum of the per-partition counter arrays, by field name. */
  def totals(acc: CollectionAccumulator[Array[Long]]): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    val sum = new Array[Long](Fields.length)
    acc.value.asScala.foreach(a => a.indices.foreach(i => sum(i) += a(i)))
    Fields.zip(sum).toMap
  }
}
