package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.annotate.{Annotator, Gazetteer}
import graft.fixtures.{Corpus, FixtureVocab}
import graft.schema.{AnnotatedDoc, Mention, Span}
import graft.statements.{Markers, Windowing}
import graft.textnorm.{ArticleAssembly, CleanSent, Normalizer}
import graft.tokenize.{BertVocab, Vocab}
import graft.triples.TriplePipeline

/** Equivalence of the memoized per-token encode with the reference-shaped
  * joined-string tokenize across randomized statements, and of the fused
  * pass's window-offset encoder with the uncached string path. */
class MarkersCacheSpec extends AnyFunSuite {

  private val tok = Vocab.fixtureTokenizer

  private type Enc = (String, String, Seq[Int], Span, Span)

  /** The fused pass's encodings of one annotated doc: the walk's
    * non-null encodings, whose window indexes count every kept window. */
  private def fused(
      doc: AnnotatedDoc,
      cache: java.util.HashMap[String, Markers.TokPieces]): Seq[Enc] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Enc]
    var windows = 0
    TriplePipeline.encodeDoc(doc, tok, cache, 40) { (pairOrd, _, _, i1, i2, enc) =>
      assert(pairOrd == windows)
      windows += 1
      if (enc != null)
        out += ((doc.mentions(i1).text, doc.mentions(i2).text, enc.tokenIds.toSeq, enc.e1Span, enc.e2Span))
    }
    out.toSeq
  }

  /** Reference-shaped encode: tokenize the joined marker-bearing string,
    * spans from the first index of each marker. */
  private def joinedEncode(
      tokens: Seq[String],
      e1: Span,
      e2: Span): Option[(Seq[Int], Span, Span)] = {
    val pcs = tok.tokenize(Markers.addSpecialTokens(tokens, e1, e2).mkString(" "))
    val at = Seq(BertVocab.E1, BertVocab.E1End, BertVocab.E2, BertVocab.E2End).map(pcs.indexOf(_))
    if (at.exists(_ < 0)) None
    else Some((tok.convertTokensToIds(pcs), Span(at(0) + 1, at(1) - 1), Span(at(2) + 1, at(3) - 1)))
  }

  /** The same doc through sliced statements and the uncached encode,
    * which must agree with the joined-string tokenize. */
  private def sliced(doc: AnnotatedDoc): Seq[Enc] =
    Windowing.statements(doc, 0L).flatMap { st =>
      val (e1, e2) = (Span(st.e1s, st.e1e), Span(st.e2s, st.e2e))
      val enc = Markers.encode(tok)(st.tokens, e1, e2)
      assert(enc.map(e => (e.tokenIds.toSeq, e.e1Span, e.e2Span)) == joinedEncode(st.tokens, e1, e2))
      enc.map(e => (st.e1, st.e2, e.tokenIds.toSeq, e.e1Span, e.e2Span))
    }

  private def doc(tokens: Seq[String], mentions: Seq[Mention]): AnnotatedDoc =
    AnnotatedDoc(
      "u",
      tokens.toVector,
      tokens.map(Annotator.isPunctToken).toVector,
      tokens.indices.map(i => tokens(i) == "." || i == tokens.length - 1).toVector,
      mentions.toVector)

  test("fused window encoder == uncached encode on every statement of 200 corpus pages") {
    val gaz = new Gazetteer(FixtureVocab.AllEntities)
    // one memo across pages, like one partition of the fused pass
    val cache = new java.util.HashMap[String, Markers.TokPieces]()
    var statements = 0
    Iterator.iterate(0L)(_ + 1).map(Corpus.page).filter(_.lang == "en").take(200).foreach { p =>
      val article = ArticleAssembly.assembleArticle(p.text.split("\n", -1).toSeq)
      val norm = Normalizer.normalize(CleanSent.processTextlines(Seq(article)))
      val d = TriplePipeline.filterMentions(
        Annotator.annotate(p.url, norm, gaz), TriplePipeline.Config())
      val want = sliced(d)
      assert(fused(d, cache) == want, s"page ${p.url}")
      statements += want.length
    }
    assert(statements > 1000, s"only $statements statements")
  }

  test("window encoder handles zero-piece, multi-piece and [UNK] tokens") {
    val zero = "\u0000"
    assert(tok.tokenize(zero).isEmpty)
    assert(tok.tokenize("zq").length == 2)
    assert(tok.tokenize("é") == Seq("[UNK]"))
    val d = doc(
      Seq("intro", ".", "the", "cat", zero, "zq", "é", "sat", "mat", zero, "hat", "."),
      Seq(Mention(3, 3, "cat", "T"), Mention(8, 8, "mat", "T"), Mention(10, 10, "hat", "T")))
    val want = sliced(d)
    assert(want.length == 3)
    assert(fused(d, new java.util.HashMap[String, Markers.TokPieces]()) == want)
    assert(fused(d, null) == want)
  }

  test("a window token that tokenizes to a marker keeps the first occurrence") {
    // "[E2]" sits before the inserted [E2] marker, "x[/E1]y" before the
    // inserted [/E1]: the spans follow the first occurrence, as indexOf does
    val d = doc(
      Seq("a", "[E2]", "x[/E1]y", "cat", "sat", "mat", "."),
      Seq(Mention(3, 3, "cat", "T"), Mention(5, 5, "mat", "T")))
    val got = fused(d, new java.util.HashMap[String, Markers.TokPieces]())
    assert(got == sliced(d))
    val (_, _, ids, e1, e2) = got.head
    val pieces = ids.map(tok.convertIdToToken)
    assert(pieces(e2.start - 1) == "[E2]" && pieces(e2.start) == "x")
    assert(pieces(e1.end + 1) == "[/E1]" && pieces(e1.end) == "x")
  }

  test("encodeCached == joined-string tokenize semantics") {
    val r = new scala.util.Random(11)
    val vocabWords = graft.tokenize.Vocab.fixtureWords.toVector
    val cache = new java.util.HashMap[String, Markers.TokPieces]()
    (1 to 300).foreach { _ =>
      val n = 3 + r.nextInt(20)
      val words = Vector.fill(n)(
        if (r.nextDouble() < 0.8) vocabWords(r.nextInt(vocabWords.length))
        else (1 to 1 + r.nextInt(6)).map(_ => ('a' + r.nextInt(26)).toChar).mkString)
      val i1 = r.nextInt(n - 1)
      val i2 = i1 + 1 + r.nextInt(n - i1 - 1)
      // reference-shaped: tokenize the joined marker-bearing string
      val joined = Markers.addSpecialTokens(words, Span(i1, i1), Span(i2, i2)).mkString(" ")
      val viaJoined = tok.tokenize(joined)
      val viaCache = Markers.encodeCached(tok, cache)(words, Span(i1, i1), Span(i2, i2))
      val viaPlain = Markers.encode(tok)(words, Span(i1, i1), Span(i2, i2))
      assert(viaCache.map(_.tokenIds.toSeq) == viaPlain.map(_.tokenIds.toSeq))
      viaCache.foreach { enc =>
        assert(enc.tokenIds.toSeq == tok.convertTokensToIds(viaJoined))
      }
    }
  }

  test("embedded marker substrings inside words stay atomic both ways") {
    val words = Seq("pre[E1]post", "normal")
    val cache = new java.util.HashMap[String, Markers.TokPieces]()
    val a = Markers.encode(tok)(words, Span(0, 0), Span(1, 1))
    val b = Markers.encodeCached(tok, cache)(words, Span(0, 0), Span(1, 1))
    assert(a.map(_.tokenIds.toSeq) == b.map(_.tokenIds.toSeq))
  }
}
