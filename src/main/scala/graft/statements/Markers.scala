package graft.statements

import scala.collection.mutable.ArrayBuffer

import graft.schema.Span
import graft.tokenize.{BertTokenizer, BertVocab}

/** Entity-marker insertion + WordPiece re-encoding + span fixup —
  * exact ports of `mtb_data_loader.py:319-335` (_add_special_tokens) and
  * `:222-242` (marker index recovery; spans point INSIDE the markers). */
object Markers {

  /** `_add_special_tokens`: rebuild the window token list with [CLS],
    * [E1]/[/E1], [E2]/[/E2], [SEP]. Insertion order per the reference:
    * openers before the token (E1 first), closers after it (E1 first). */
  def addSpecialTokens(
      tokens: scala.collection.Seq[String],
      e1: Span,
      e2: Span): scala.collection.Seq[String] = {
    val out = new ArrayBuffer[String](tokens.length + 6)
    out += BertVocab.Cls
    var i = 0
    val n = tokens.length
    while (i < n) {
      if (i == e1.start) out += BertVocab.E1
      if (i == e2.start) out += BertVocab.E2
      out += tokens(i)
      if (i == e1.end) out += BertVocab.E1End
      if (i == e2.end) out += BertVocab.E2End
      i += 1
    }
    out += BertVocab.Sep
    out
  }

  /** Inference-side marker insertion by STRING matching — port of the
    * reference's `annotate_sent` (`src/tasks/infer.py:172-210`), the
    * variant its ad-hoc inference entry point uses. Quirks preserved:
    * only the FIRST token textually equal to the entity (or to its
    * first/last token for multi-token entities) is marked, e1 is tried
    * before e2 for every token, and the assembled string is
    * whitespace-collapsed and stripped at the end. */
  def annotateSent(tokens: Seq[String], e1: Seq[String], e2: Seq[String]): String = {
    val sb = new java.lang.StringBuilder
    var e1start = 0; var e1end = 0
    var e2start = 0; var e2end = 0
    tokens.foreach { t =>
      var consumed = false
      if (e1.length == 1) {
        if (t == e1.head && e1start == 0 && e1end == 0) {
          sb.append(" [E1]").append(t).append("[/E1] ")
          e1start = 1; e1end = 1; consumed = true
        }
      } else {
        if (t == e1.head && e1start == 0) {
          sb.append(" [E1]").append(t).append(" ")
          e1start += 1; consumed = true
        } else if (t == e1.last && e1end == 0) {
          sb.append(t).append("[/E1] ")
          e1end += 1; consumed = true
        }
      }
      if (!consumed) {
        if (e2.length == 1) {
          if (t == e2.head && e2start == 0 && e2end == 0) {
            sb.append(" [E2]").append(t).append("[/E2] ")
            e2start = 1; e2end = 1; consumed = true
          }
        } else {
          if (t == e2.head && e2start == 0) {
            sb.append(" [E2]").append(t).append(" ")
            e2start += 1; consumed = true
          } else if (t == e2.last && e2end == 0) {
            sb.append(t).append("[/E2] ")
            e2end += 1; consumed = true
          }
        }
      }
      if (!consumed) sb.append(" ").append(t).append(" ")
    }
    sb.toString.trim.replaceAll(" +", " ")
  }

  /** tokenIds as a primitive array: the encode→score path materializes one
    * per statement; Seq[Int] would box every id. */
  final case class Encoded(tokenIds: Array[Int], e1Span: Span, e2Span: Span)

  /** Memoized wordpieces + their vocab ids for one surface token — the
    * per-partition cache value. Caching the ID array too means the vocab
    * HashMap is consulted once per DISTINCT token, not once per emitted
    * wordpiece per statement (statement windows re-encode a near-closed
    * vocabulary; this is the hot allocation path of both chains). */
  final case class TokPieces(pieces: Array[String], ids: Array[Int])

  /** Tokenize the marker-bearing string and relocate spans to wordpiece
    * coordinates, inside the marker pairs: (e1_s+1, e1_e-1). Rows whose
    * markers vanish in tokenization are dropped (the reference counts and
    * drops them via the ValueError path, `mtb_data_loader.py:239-242`). */
  def encode(tokenizer: BertTokenizer)(
      tokens: scala.collection.Seq[String],
      e1: Span,
      e2: Span): Option[Encoded] =
    encodeWindow(tokenizer, null, tokens, new Array[TokPieces](tokens.length), 0, tokens.length, e1, e2)

  /** encode with per-partition memoization: the tokens are resolved
    * through the memo, then [[encodeWindow]] encodes the whole range. */
  def encodeCached(
      tokenizer: BertTokenizer,
      cache: java.util.HashMap[String, TokPieces])(
      tokens: scala.collection.Seq[String],
      e1: Span,
      e2: Span): Option[Encoded] = {
    val pieces = new Array[TokPieces](tokens.length)
    var i = 0
    tokens.foreach { t => pieces(i) = lookup(tokenizer, cache, t); i += 1 }
    encodeWindow(tokenizer, cache, tokens, pieces, 0, pieces.length, e1, e2)
  }

  /** WordPieces + ids of one surface token, through the memo (`cache` may
    * be null: no memo). */
  private def lookup(
      tokenizer: BertTokenizer,
      cache: java.util.HashMap[String, TokPieces],
      t: String): TokPieces = {
    var tp = if (cache == null) null else cache.get(t)
    if (tp == null) {
      val pcs = tokenizer.tokenize(t).toArray
      val idArr = new Array[Int](pcs.length)
      var i = 0
      while (i < pcs.length) { idArr(i) = tokenizer.convertTokenToId(pcs(i)); i += 1 }
      tp = TokPieces(pcs, idArr)
      if (cache != null) cache.put(t, tp)
    }
    tp
  }

  /** The one statement encoder: the ids of
    * `tokenize(" ".join(addSpecialTokens(tokens[from, until), e1, e2)))`,
    * with spans relocated inside the markers. `tokenize` of the joined
    * string equals the concatenation of `tokenize(t)` per element (tokens
    * contain no whitespace, and atomic markers cannot span a joined
    * boundary), so each token's pieces come from `pieces`, a doc-sized
    * array filled lazily through the memo: every window of a document
    * shares one lookup per token. `e1`/`e2` are positions in `tokens`.
    * Marker positions are the first piece equal to each marker string,
    * exactly `buf.indexOf` semantics — a token may itself tokenize to a
    * marker. One exact-size id array is written. */
  def encodeWindow(
      tokenizer: BertTokenizer,
      cache: java.util.HashMap[String, TokPieces],
      tokens: scala.collection.Seq[String],
      pieces: Array[TokPieces],
      from: Int,
      until: Int,
      e1: Span,
      e2: Span): Option[Encoded] = {
    var len = 2
    var i = from
    while (i < until) {
      if (pieces(i) == null) pieces(i) = lookup(tokenizer, cache, tokens(i))
      len += pieces(i).ids.length
      if (i == e1.start) len += 1
      if (i == e2.start) len += 1
      if (i == e1.end) len += 1
      if (i == e2.end) len += 1
      i += 1
    }
    val e1Id = tokenizer.e1Id
    val e1EndId = tokenizer.e1EndId
    val e2Id = tokenizer.e2Id
    val e2EndId = tokenizer.e2EndId
    val ids = new Array[Int](len)
    var e1s = -1; var e1e = -1; var e2s = -1; var e2e = -1
    ids(0) = tokenizer.clsId
    var n = 1
    i = from
    while (i < until) {
      // an inserted marker's piece is the marker string itself
      if (i == e1.start) { if (e1s < 0) e1s = n; ids(n) = e1Id; n += 1 }
      if (i == e2.start) { if (e2s < 0) e2s = n; ids(n) = e2Id; n += 1 }
      val tp = pieces(i)
      val tIds = tp.ids
      var k = 0
      while (k < tIds.length) {
        val id = tIds(k)
        // the four marker ids are consecutive (AddedTokens order), and only
        // a marker string converts to one; the string compare guards a
        // vocab whose own ids reach into the added-token range
        if (id >= e1Id && id <= e2EndId) {
          val p = tp.pieces(k)
          // the four marker strings are pairwise distinct, so at most one
          // branch can match; "first occurrence wins" == indexOf semantics
          if (e1s < 0 && p == BertVocab.E1) e1s = n
          else if (e1e < 0 && p == BertVocab.E1End) e1e = n
          else if (e2s < 0 && p == BertVocab.E2) e2s = n
          else if (e2e < 0 && p == BertVocab.E2End) e2e = n
        }
        ids(n) = id
        k += 1; n += 1
      }
      if (i == e1.end) { if (e1e < 0) e1e = n; ids(n) = e1EndId; n += 1 }
      if (i == e2.end) { if (e2e < 0) e2e = n; ids(n) = e2EndId; n += 1 }
      i += 1
    }
    ids(n) = tokenizer.sepId
    if (e1s < 0 || e1e < 0 || e2s < 0 || e2e < 0) None
    else Some(Encoded(ids, Span(e1s + 1, e1e - 1), Span(e2s + 1, e2e - 1)))
  }
}
