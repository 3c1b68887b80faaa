package graft.tokenize

import scala.collection.mutable.ArrayBuffer

import graft.textnorm.PyText

/** Deterministic Scala port of the reference's BERT tokenizer semantics
  * (`model/bert_tokenizer.py:99-620`): BasicTokenizer (control-char removal,
  * CJK spacing, optional lowercase + NFD accent strip, punctuation split)
  * followed by greedy longest-match WordPiece with `##` continuations.
  *
  * The five task tokens `[E1] [/E1] [E2] [/E2] [BLANK]` are "added tokens"
  * appended after the base vocab (`mtb_data_loader.py:69`); they are atomic
  * in tokenize() and resolve to ids vocabSize..vocabSize+4. The classic
  * specials `[UNK] [SEP] [PAD] [CLS] [MASK]` are never split either.
  *
  * No mutable state, no I/O: one instance per executor, broadcast-friendly.
  */
object BertVocab {
  val Unk = "[UNK]"
  val Sep = "[SEP]"
  val Pad = "[PAD]"
  val Cls = "[CLS]"
  val Mask = "[MASK]"
  val Blank = "[BLANK]"
  val E1 = "[E1]"
  val E1End = "[/E1]"
  val E2 = "[E2]"
  val E2End = "[/E2]"

  val SpecialTokens: Seq[String] = Seq(Unk, Sep, Pad, Cls, Mask)
  /** Append order per `mtb_data_loader.py:69`. */
  val AddedTokens: Seq[String] = Seq(E1, E1End, E2, E2End, Blank)

  /** `load_vocab` semantics: line number = id (`bert_tokenizer.py:99-109`). */
  def fromLines(lines: Seq[String]): Map[String, Int] =
    lines.iterator.map(_.stripSuffix("\n")).zipWithIndex.toMap
}

final class BertTokenizer(
    val vocab: Map[String, Int],
    val doLowerCase: Boolean = false,
    maxInputCharsPerWord: Int = 100)
    extends Serializable {

  import BertVocab._

  /** Added tokens live after the base vocab (HF add_tokens semantics). */
  val addedTokens: Map[String, Int] =
    AddedTokens.zipWithIndex.map { case (t, i) => t -> (vocab.size + i) }.toMap

  val unkId: Int = vocab(Unk)
  val padId: Int = vocab(Pad)
  val clsId: Int = vocab(Cls)
  val sepId: Int = vocab(Sep)
  val maskId: Int = vocab(Mask)
  val e1Id: Int = addedTokens(E1)
  val e1EndId: Int = addedTokens(E1End)
  val e2Id: Int = addedTokens(E2)
  val e2EndId: Int = addedTokens(E2End)
  val blankId: Int = addedTokens(Blank)

  private val neverSplit: Set[String] = SpecialTokens.toSet
  private val atomic: Array[String] = (AddedTokens ++ SpecialTokens).toArray

  def vocabSize: Int = vocab.size

  def convertTokenToId(token: String): Int =
    addedTokens.getOrElse(token, vocab.getOrElse(token, unkId))

  def convertTokensToIds(tokens: Seq[String]): Seq[Int] =
    tokens.map(convertTokenToId)

  private val idToToken: Map[Int, String] =
    (vocab.map(_.swap) ++ addedTokens.map(_.swap)).toMap

  def convertIdToToken(id: Int): String = idToToken.getOrElse(id, Unk)

  /** `convert_tokens_to_string` (`bert_tokenizer.py:241-246`). */
  def tokensToString(tokens: Seq[String]): String =
    tokens.mkString(" ").replace(" ##", "").trim

  /** Full tokenize: split on atomic added/special tokens first, then run
    * basic+wordpiece on the in-between spans (HF base-class behavior). */
  def tokenize(text: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    splitOnAtomic(text).foreach {
      case Left(tok)  => out += tok
      case Right(seg) => out ++= tokenizeSegment(seg)
    }
    out.toSeq
  }

  def encode(text: String): Seq[Int] = convertTokensToIds(tokenize(text))

  /** Left = an atomic token occurrence, Right = plain text span. */
  private def splitOnAtomic(text: String): Seq[Either[String, String]] = {
    val out = ArrayBuffer.empty[Either[String, String]]
    var i = 0
    val n = text.length
    var segStart = 0
    while (i < n) {
      var matched: String = null
      if (text.charAt(i) == '[') {
        var k = 0
        while (matched == null && k < atomic.length) {
          val t = atomic(k)
          if (text.startsWith(t, i)) matched = t
          k += 1
        }
      }
      if (matched != null) {
        if (i > segStart) out += Right(text.substring(segStart, i))
        out += Left(matched)
        i += matched.length
        segStart = i
      } else i += 1
    }
    if (segStart < n) out += Right(text.substring(segStart))
    out.toSeq
  }

  private def tokenizeSegment(seg: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    basicTokenize(seg).foreach(tok => out ++= wordpiece(tok))
    out.toSeq
  }

  // ---- BasicTokenizer (`bert_tokenizer.py:358-506`) ----

  def basicTokenize(text: String): Seq[String] = {
    val cleaned = tokenizeChineseChars(cleanText(text))
    val orig = PyText.pySplit(cleaned)
    val split = ArrayBuffer.empty[String]
    orig.foreach { token0 =>
      val token =
        if (doLowerCase && !neverSplit(token0)) stripAccents(PyText.pyLower(token0))
        else token0
      split ++= runSplitOnPunc(token)
    }
    // reference re-joins and re-splits; pieces can contain neither
    // whitespace nor be empty here, so the filter is semantically identical
    // and allocation-free
    split.filter(_.nonEmpty).toSeq
  }

  private def cleanText(text: String): String = {
    // zero-copy fast path: most pipeline text is already plain ASCII words
    var i = 0
    var dirty = false
    while (!dirty && i < text.length) {
      val c = text.charAt(i)
      if (c != ' ' && (c < '!' || c == '�' || isControl(c) || isWhitespaceCp(c)))
        dirty = true
      i += 1
    }
    if (!dirty) return text
    val sb = new StringBuilder(text.length)
    i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val step = Character.charCount(cp)
      if (cp == 0 || cp == 0xfffd || isControl(cp)) ()
      else if (isWhitespaceCp(cp)) sb.append(' ')
      else sb.appendAll(Character.toChars(cp))
      i += step
    }
    sb.toString
  }

  private def tokenizeChineseChars(text: String): String = {
    var i = 0
    var any = false
    while (!any && i < text.length) {
      if (text.charAt(i) >= '㐀') any = true
      i += 1
    }
    if (!any) return text // zero-copy fast path: no CJK-range chars at all
    val sb = new StringBuilder(text.length)
    i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      val step = Character.charCount(cp)
      if (isChineseChar(cp)) {
        sb.append(' ').appendAll(Character.toChars(cp)).append(' ')
      } else sb.appendAll(Character.toChars(cp))
      i += step
    }
    sb.toString
  }

  private def stripAccents(text: String): String = {
    val nfd = java.text.Normalizer.normalize(text, java.text.Normalizer.Form.NFD)
    val sb = new StringBuilder(nfd.length)
    nfd.foreach { c =>
      if (Character.getType(c) != Character.NON_SPACING_MARK) sb.append(c)
    }
    sb.toString
  }

  private def runSplitOnPunc(text: String): Seq[String] = {
    if (neverSplit(text)) return Seq(text)
    val out = ArrayBuffer.empty[StringBuilder]
    var startNewWord = true
    text.foreach { c =>
      if (isPunctuation(c)) {
        out += new StringBuilder().append(c)
        startNewWord = true
      } else {
        if (startNewWord) out += new StringBuilder()
        startNewWord = false
        out.last.append(c)
      }
    }
    out.map(_.toString).toSeq
  }

  // ---- WordpieceTokenizer (`bert_tokenizer.py:510-570`) ----

  def wordpiece(token: String): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    // whitespace_tokenize fast path: basic-tokenizer output never contains
    // whitespace, so the per-token re-split is a single-element identity
    val words =
      if (token.forall(c => !PyText.isPySpace(c)) && token.nonEmpty) token :: Nil
      else PyText.pySplit(token).toList
    words.foreach { word =>
      if (word.length > maxInputCharsPerWord) out += Unk
      else {
        val subTokens = ArrayBuffer.empty[String]
        var start = 0
        var bad = false
        while (!bad && start < word.length) {
          var end = word.length
          var cur: String = null
          while (cur == null && start < end) {
            val sub0 = word.substring(start, end)
            val sub = if (start > 0) "##" + sub0 else sub0
            if (vocab.contains(sub)) cur = sub else end -= 1
          }
          if (cur == null) bad = true
          else { subTokens += cur; start = end }
        }
        if (bad) out += Unk else out ++= subTokens
      }
    }
    out.toSeq
  }

  // ---- char classes (`bert_tokenizer.py:575-620`) ----

  private def isWhitespaceCp(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == '\r' ||
      (cp <= Char.MaxValue && Character.getType(cp) == Character.SPACE_SEPARATOR)

  // Python `unicodedata.category(c).startswith("C")` = Cc|Cf|Cn|Co|Cs.
  private def isControl(cp: Int): Boolean = {
    if (cp == '\t' || cp == '\n' || cp == '\r') false
    else {
      val t = Character.getType(cp)
      t == Character.CONTROL || t == Character.FORMAT ||
      t == Character.PRIVATE_USE || t == Character.SURROGATE ||
      t == Character.UNASSIGNED
    }
  }

  def isPunctuation(c: Char): Boolean = {
    val cp = c.toInt
    if ((cp >= 33 && cp <= 47) || (cp >= 58 && cp <= 64) ||
        (cp >= 91 && cp <= 96) || (cp >= 123 && cp <= 126)) true
    else {
      val t = Character.getType(c)
      t == Character.DASH_PUNCTUATION || t == Character.START_PUNCTUATION ||
      t == Character.END_PUNCTUATION || t == Character.CONNECTOR_PUNCTUATION ||
      t == Character.OTHER_PUNCTUATION || t == Character.INITIAL_QUOTE_PUNCTUATION ||
      t == Character.FINAL_QUOTE_PUNCTUATION
    }
  }

  private def isChineseChar(cp: Int): Boolean =
    (cp >= 0x4e00 && cp <= 0x9fff) || (cp >= 0x3400 && cp <= 0x4dbf) ||
      (cp >= 0x20000 && cp <= 0x2a6df) || (cp >= 0x2a700 && cp <= 0x2b73f) ||
      (cp >= 0x2b740 && cp <= 0x2b81f) || (cp >= 0x2b820 && cp <= 0x2ceaf) ||
      (cp >= 0xf900 && cp <= 0xfaff) || (cp >= 0x2f800 && cp <= 0x2fa1f)
}
