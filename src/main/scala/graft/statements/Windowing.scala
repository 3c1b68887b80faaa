package graft.statements

import scala.collection.mutable.ArrayBuffer

import graft.schema.{AnnotatedDoc, Span}

/** Entity-pair windowing — exact port of the reference's relation-statement
  * generation (`mtb_data_loader.py:446-453` product, `:563-602`
  * _resolve_entities, `:604-633` sentence-bound scans, window_size=40).
  *
  * This is a row-local theta self-join over the mention list (a band
  * predicate on token positions) executed as an array comprehension inside
  * flatMap — no shuffle; the cross product never leaves the document row.
  */
object Windowing {

  final case class StatementRow(
      url: String,
      docOrd: Long,
      pairOrd: Int,
      tokens: Seq[String],
      e1s: Int,
      e1e: Int,
      e2s: Int,
      e2e: Int,
      e1: String,
      e2: String)

  /** `re.search("[\d+]", text)` — any digit OR a literal '+'
    * (the reference's char class includes the plus sign). */
  private def hasDigitOrPlus(s: String): Boolean =
    s.exists(c => Character.isDigit(c) || c == '+')

  /** `_find_sent_start` (`mtb_data_loader.py:604-617`) — replicated branch
    * for branch including its start<=1 edge behavior. */
  def findSentStart(isPunct: Int => Boolean, e1start: Int): Int = {
    var start = e1start - 1
    if (start > 0) {
      var punct = false
      var break = false
      while (!punct && !break) {
        punct = isPunct(start)
        start -= 1
        if (start < 0) break = true
      }
      if (start > 0) start + 2 else 0
    } else 0
  }

  /** `_find_sent_end` (`mtb_data_loader.py:619-633`). Exclusive end. */
  def findSentEnd(isSentEnd: Int => Boolean, e2end: Int, len: Int): Int = {
    var start = e2end
    if (start < len) {
      var sentEnd = false
      var break = false
      while (!sentEnd && !break) {
        sentEnd = isSentEnd(start)
        start += 1
        if (start == len) break = true
      }
      if (start < len) start else len
    } else len
  }

  /** Receives one kept window: tokens `[rStart, rEnd)` of the document,
    * for the ordered mention pair `(i1, i2)`. A SAM trait rather than a
    * `Function4`, so the four ints are never boxed. */
  trait WindowVisitor {
    def apply(rStart: Int, rEnd: Int, i1: Int, i2: Int): Unit
  }

  /** `_resolve_entities`' window for one ordered mention pair, packed as
    * `rStart << 32 | rEnd`, or -1 when the reference drops the pair. */
  private def window(doc: AnnotatedDoc, i1: Int, i2: Int, windowSize: Int): Long = {
    if (i1 == i2) return -1L
    val m1 = doc.mentions(i1)
    val m2 = doc.mentions(i2)
    if (hasDigitOrPlus(m1.text) || hasDigitOrPlus(m2.text)) return -1L
    val e1end = m1.end // inclusive (merged mention => == start)
    val gap = m2.start - e1end
    if (gap < 1 || gap > windowSize) return -1L
    val tokens = doc.tokens
    val len = tokens.length
    val rStart = findSentStart(doc.isPunct, m1.start)
    val rEnd = findSentEnd(doc.isSentEnd, m2.end, len)
    if (rEnd - rStart > windowSize) return -1L
    // reference raises ValueError on empty entities/spans; our engine drops
    // the row (counted upstream) — fixtures never trigger it
    if (m1.text.isEmpty || m2.text.isEmpty) return -1L
    var k = rStart
    while (k < rEnd && tokens(k).isEmpty) k += 1
    if (k == rEnd) -1L else (rStart.toLong << 32) | rEnd
  }

  /** The window geometry of one document: visits every kept ordered
    * mention pair (the reference's product order, `i1` outer) with its
    * window offsets. Nothing is sliced; [[resolve]], [[statements]] and
    * `TriplePipeline.encodeDoc` (the fused triple pass and the MTB
    * statements stage) all run on it. */
  def foreachWindow(doc: AnnotatedDoc, windowSize: Int)(visit: WindowVisitor): Unit = {
    val n = doc.mentions.length
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) {
        val w = window(doc, i, j, windowSize)
        if (w >= 0) visit((w >>> 32).toInt, w.toInt, i, j)
        j += 1
      }
      i += 1
    }
  }

  /** `_resolve_entities` for one ordered mention pair. Spans inclusive. */
  def resolve(
      doc: AnnotatedDoc,
      i1: Int,
      i2: Int,
      windowSize: Int): Option[(Seq[String], Span, Span, String, String)] = {
    val w = window(doc, i1, i2, windowSize)
    if (w < 0) None
    else Some(slice(doc, (w >>> 32).toInt, w.toInt, i1, i2))
  }

  private def slice(
      doc: AnnotatedDoc,
      rStart: Int,
      rEnd: Int,
      i1: Int,
      i2: Int): (Seq[String], Span, Span, String, String) = {
    val m1 = doc.mentions(i1)
    val m2 = doc.mentions(i2)
    (
      doc.tokens.slice(rStart, rEnd),
      Span(m1.start - rStart, m1.end - rStart),
      Span(m2.start - rStart, m2.end - rStart),
      m1.text,
      m2.text)
  }

  /** All relation statements of one document, sliced: ordered product of
    * the deduped mentions (directed edges of the mention graph). The
    * engine encodes over offsets instead; tests check it against this
    * sliced form, which perfbench's traced loop also runs. */
  def statements(doc: AnnotatedDoc, docOrd: Long, windowSize: Int = 40): Seq[StatementRow] = {
    val out = ArrayBuffer.empty[StatementRow]
    foreachWindow(doc, windowSize) { (rStart, rEnd, i1, i2) =>
      val (x, s1, s2, e1, e2) = slice(doc, rStart, rEnd, i1, i2)
      out += StatementRow(
        doc.url, docOrd, out.length, x,
        s1.start, s1.end, s2.start, s2.end, e1, e2)
    }
    out.toSeq
  }
}
