package graft.triples

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.annotate.{Annotator, Gazetteer}
import graft.kernel.ScoringKernel
import graft.schema.{AnnotatedDoc, Span, Triple, WebPage}
import graft.statements.{Markers, Windowing}
import graft.tokenize.BertTokenizer

/** The engine's flagship query (SURVEY.md §3.3, §7.3):
  *
  *   pages → filter(lang='en') → text_norm (byte-identical) → annotate
  *   (mentions) → pair windows (±40) → marker insert + WordPiece encode →
  *   broadcast-kernel mapPartitions scoring → argmax → (subj, pred, obj)
  *
  * Everything up to scoring is a NARROW pipeline — one fused map stage,
  * no shuffle (the pair product is row-local). The only wide operations on
  * the inference path are the final write and optional canonicalization,
  * exactly as SURVEY.md §3.1 prescribes for 100 TB inputs.
  */
object TriplePipeline {

  /** Pages are always English-filtered and article-assembled; every
    * gazetteer hit is a mention (the kind allow-list of the reference's
    * `infer.py:50-63` lives in `KgOps.mentionsFiltered`). */
  final case class Config(
      windowSize: Int = 40,
      batchSize: Int = 64,
      /** Second mention-pair source (reference `get_annotated_sents`,
        * `infer.py:212-223`: NER pairs UNION dep-parse sub/obj pairs).
        * When on, SVO-heuristic subject/object tokens join the mention
        * set, so pages with entities outside the gazetteer still yield
        * statements. Off by default — the training path is gazetteer-only. */
      svoMentions: Boolean = false,
      /** Third mention source (reference spaCy `noun_chunks`,
        * `mtb_data_loader.py:514-522`): rule-based noun phrases
        * (capitalized-sequence + determiner-phrase,
        * [[graft.annotate.NounPhrases]]) join the mention set, so
        * open-web pages whose entities are outside the gazetteer still
        * yield statements. Turn ON for open-web inference; the default
        * stays off so the gazetteer parity tests pin reference geometry. */
      npMentions: Boolean = false)

  /** Apply the Config's optional SVO and noun-phrase mention sources to
    * an annotated doc. */
  def filterMentions(
      doc: graft.schema.AnnotatedDoc,
      cfg: Config): graft.schema.AnnotatedDoc = {
    val withSvo = if (!cfg.svoMentions) doc else withSvoMentions(doc)
    if (!cfg.npMentions) withSvo else withNpMentions(withSvo)
  }

  /** Add rule-based noun-phrase mentions (kind "NP"), skipping positions
    * already covered by an existing mention and deduping by surface —
    * same merge geometry as [[withSvoMentions]]. */
  def withNpMentions(doc: graft.schema.AnnotatedDoc): graft.schema.AnnotatedDoc = {
    val covered = doc.mentions.flatMap(m => m.start to m.end).toSet
    val seen = scala.collection.mutable.HashSet.empty[String] ++= doc.mentions.map(_.text)
    val extra = graft.annotate.NounPhrases.candidates(doc.tokens)
      .iterator
      .flatMap { case (text, pos, _) =>
        val end = pos + text.count(c => c == ' ')
        if ((pos to end).forall(i => !covered(i)) && seen.add(text))
          Some(graft.schema.Mention(pos, end, text, "NP"))
        else None
      }
      .toVector
    doc.copy(mentions = (doc.mentions ++ extra).sortBy(_.start))
  }

  /** Add SVO-heuristic subject/object tokens as single-token mentions
    * (kind "SVO"), skipping positions already covered by a gazetteer
    * mention and deduping by surface like the annotator does. */
  def withSvoMentions(doc: graft.schema.AnnotatedDoc): graft.schema.AnnotatedDoc = {
    val verbs = graft.ops.SvoPairs.Verbs.toSet
    val stops = graft.ops.TextStats.Stopwords.toSet
    val toks = doc.tokens
    val vi = toks.indexWhere(verbs.contains)
    if (vi < 0) return doc
    val subj = toks.take(vi).lastIndexWhere(t =>
      !stops.contains(t) && t.exists(c => c >= 'a' && c <= 'z'))
    if (subj < 0) return doc
    val objs = (vi + 1 until toks.length).iterator
      .filter(i => !stops.contains(toks(i)) && !verbs.contains(toks(i)))
      .take(3)
    val taken = doc.mentions.map(_.start).toSet
    val seen = scala.collection.mutable.HashSet.empty[String] ++= doc.mentions.map(_.text)
    val extra = (Iterator.single(subj) ++ objs)
      .filter(i => !taken(i) && seen.add(toks(i)))
      .map(i => graft.schema.Mention(i, i, toks(i), "SVO"))
      .toVector
    doc.copy(mentions = (doc.mentions ++ extra).sortBy(_.start))
  }

  /** Normalized page text per url — the byte-identity surface: English
    * pages, article-assembled, then text_norm. No `cfg` field changes
    * it; callers pass the pipeline's config for a uniform stage call. */
  def normalizePages(pages: Dataset[WebPage], cfg: Config = Config()): DataFrame = {
    import graft.textnorm.functions._
    pages
      .filter(col("lang") === lit("en"))
      .select(col("url"), text_norm(assemble_article(col("text"))).as("text_norm"))
  }

  /** Stable per-document order key derived from the url — reproducible
    * under any partitioning (SURVEY.md §7.5 determinism note). */
  def stableDocOrd(url: String): Long = {
    // fixture urls carry the corpus line number; fall back to a hash
    val tail = url.substring(url.lastIndexOf('/') + 1)
    try tail.toLong
    catch {
      case _: NumberFormatException =>
        util.hashing.MurmurHash3.stringHash(url).toLong & 0x7fffffffL
    }
  }

  /** One document's statement windows: annotate → the Config's mention
    * filters → pair windows, ordered by [[stableDocOrd]]. The MTB
    * dataset's statements stage runs this. */
  def docStatements(
      url: String,
      textNorm: String,
      gaz: Gazetteer,
      cfg: Config): Seq[Windowing.StatementRow] =
    Windowing.statements(
      filterMentions(Annotator.annotate(url, textNorm, gaz), cfg),
      stableDocOrd(url),
      cfg.windowSize)

  /** The fused pass's per-document work: every kept window of `doc`,
    * encoded over window offsets by [[Markers.encodeWindow]] — no token
    * slices, and one doc-sized piece array, so each document token costs
    * one memo lookup however many windows hold it. Yields (e1, e2,
    * encoding) in [[docStatements]] order; windows whose markers vanish
    * in tokenization are dropped. */
  def encodeDoc(
      doc: AnnotatedDoc,
      tok: BertTokenizer,
      cache: java.util.HashMap[String, Markers.TokPieces],
      windowSize: Int): ArrayBuffer[(String, String, Markers.Encoded)] = {
    val out = ArrayBuffer.empty[(String, String, Markers.Encoded)]
    val pieces = new Array[Markers.TokPieces](doc.tokens.length)
    Windowing.foreachWindow(doc, windowSize) { (rStart, rEnd, i1, i2) =>
      val m1 = doc.mentions(i1)
      val m2 = doc.mentions(i2)
      Markers
        .encodeWindow(tok, cache, doc.tokens, pieces, rStart, rEnd,
          Span(m1.start, m1.end), Span(m2.start, m2.end))
        .foreach(enc => out += ((m1.text, m2.text, enc)))
    }
    out
  }

  /** Full pipeline to (subj, pred, obj, url) triples: [[normalizePages]]
    * then [[triplesFromNormalized]]. The whole pipeline is ONE narrow
    * stage (scan → normalize → annotate → window → encode → batch-score →
    * label). No join, no shuffle, no second evaluation of the narrow chain
    * — this is the plan that holds at 100 TB: cost is exactly one pass
    * over the pages. */
  def run(
      spark: SparkSession,
      pages: Dataset[WebPage],
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      kernel: Broadcast[ScoringKernel],
      idx2rel: Broadcast[Map[Int, String]],
      cfg: Config = Config()): Dataset[Triple] =
    triplesFromNormalized(
      spark, normalizePages(pages, cfg), gaz, tokenizer, kernel, idx2rel, cfg)

  /** `idx2rel` as an array indexed by label id; its keys must be exactly
    * `0 until idx2rel.size`. */
  def labelArray(idx2rel: Map[Int, String]): Array[String] = {
    require(idx2rel.keySet == (0 until idx2rel.size).toSet,
      s"label ids are not 0 until ${idx2rel.size}: ${idx2rel.keys.toSeq.sorted.mkString(",")}")
    Array.tabulate(idx2rel.size)(idx2rel)
  }

  /** The FUSED pass over (url, text_norm) rows: scoring runs inside the
    * same mapPartitions pass that carries the entity surfaces, so token
    * arrays never round-trip through a Dataset boundary.
    * [[Checkpointed]] runs it over its materialized `text_norm` stage. */
  def triplesFromNormalized(
      spark: SparkSession,
      textNorm: DataFrame,
      gaz: Broadcast[Gazetteer],
      tokenizer: Broadcast[BertTokenizer],
      kernel: Broadcast[ScoringKernel],
      idx2rel: Broadcast[Map[Int, String]],
      cfg: Config): Dataset[Triple] = {
    import spark.implicits._
    val batchSize = cfg.batchSize
    textNorm
      .as[(String, String)]
      .mapPartitions { rows =>
        // one partition-local pass: annotate -> window offsets -> encode ->
        // batch score -> label. No intermediate Dataset boundary, so token
        // arrays never round-trip through InternalRow encoding.
        val k = kernel.value
        // argmax -> label through an array: a Map[Int, String] lookup boxes
        // the index of every triple
        val labels = labelArray(idx2rel.value)
        val tok = tokenizer.value
        val g = gaz.value
        val padId = tok.padId
        // per-partition wordpiece memo: statement windows draw from a
        // near-closed token vocabulary, so each surface tokenizes (and
        // id-converts) once
        val cache = new java.util.HashMap[String, Markers.TokPieces](4096)
        val statements = rows.flatMap { case (url, textNorm) =>
          val doc = filterMentions(Annotator.annotate(url, textNorm, g), cfg)
          encodeDoc(doc, tok, cache, cfg.windowSize).iterator.map { case (e1, e2, enc) =>
            (e1, e2, url, enc.tokenIds, enc.e1Span.start, enc.e2Span.start)
          }
        }
        statements.grouped(batchSize).flatMap { group =>
          val batch = group.toArray
          val maxLen = if (batch.isEmpty) 0 else batch.map(_._4.length).max
          val padded = batch.map { r =>
            val ids = r._4
            val out =
              if (ids.length == maxLen) ids
              else ids ++ Array.fill(maxLen - ids.length)(padId)
            (out, r._5, r._6)
          }
          val logits = k.scoreBatch(padded)
          batch.indices.map { i =>
            val r = batch(i)
            Triple(r._1, labels(graft.kernel.StubKernel.argmax(logits(i))), r._2, r._3)
          }
        }
      }
  }
}
