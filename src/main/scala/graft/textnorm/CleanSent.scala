package graft.textnorm

/** Sentence/line cleaning — byte-identical re-expression of the reference's
  * `mtb_data_loader.py:397-415` (_clean_sent) and `:391-395`
  * (_process_textlines).
  *
  * Steps (order matters, it is part of byte-identity):
  *   1. sentences that are exactly " ", "\n" or "" yield None (dropped)
  *   2. strip '\n' from both ends
  *   3. remove uppercase special tokens like `<FIL/>`, `<S>` (pattern
  *      "<[A-Z]+" + "/" + "*>")
  *   4. replace the reference's punctuation char class with a space
  *   5. collapse whitespace runs (python " ".join(s.split()))
  *   6. strip
  *   7. collapse repeated sentence punctuation `([.?,!]){2,}` → last char
  *      (the captured group is the LAST repetition — CPython and Java agree)
  *   8. every ALL-CAPS run (≥2 uppercase A-Z) → str.capitalize()
  *
  * Every step is a char loop; the pattern strings below are the regexes the
  * loops reproduce, kept as the tests' oracles. Steps 4-8 are one pass: a
  * punctuation-class char is one more split separator, the joined text has
  * nothing to strip, and the runs of steps 7 and 8 never cross a space and
  * never touch each other's chars, so each is rewritten inside its token.
  * Step 2 is subsumed: '\n' is a separator of that pass, and no special
  * token contains it.
  */
object CleanSent {

  val SpecialTokenPattern = "<[A-Z]+/*>"

  /** `[\*\"\n\\…\+\-\/\=\(\)‘•€\[\]\|♫:;—”“~`#]` from the reference. */
  val PunctClassPattern: String =
    "[\\*\"\n\\\\…\\+\\-\\/\\=\\(\\)‘•€\\[\\]\\|♫:;—”“~`#]"

  val RepeatedPuncPattern = "([\\.\\?,!]){2,}"
  val AllCapsPattern = "([A-Z]{2,})"

  /** ASCII members of [[PunctClassPattern]]; the others are tested in
    * [[isPunctClass]]. All members are BMP chars, so a char test is a
    * code point test. */
  private val punctAscii: Array[Boolean] = {
    val t = new Array[Boolean](128)
    "*\"\n\\+-/=()[]|:;~`#".foreach(c => t(c) = true)
    t
  }

  private def isPunctClass(c: Char): Boolean =
    if (c < 128) punctAscii(c)
    else c == '…' || c == '‘' || c == '•' || c == '€' || c == '♫' ||
      c == '—' || c == '”' || c == '“'

  private def isSentPunct(c: Char): Boolean =
    c == '.' || c == '?' || c == ',' || c == '!'

  private def isUpper(c: Char): Boolean = c >= 'A' && c <= 'Z'

  /** Reference `_clean_sent`; None for the degenerate inputs it skips. */
  def cleanSent(sent: String): Option[String] =
    if (sent == " " || sent == "\n" || sent == "") None
    else Some(cleanTokens(removeSpecialTokens(sent)))

  /** Step 3: drop every match of [[SpecialTokenPattern]]. Its three
    * parts match disjoint chars, so a greedy scan needs no backtracking. */
  private def removeSpecialTokens(s: String): String = {
    var i = s.indexOf('<')
    if (i < 0) return s
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var last = 0
    while (i >= 0) {
      var j = i + 1
      while (j < n && isUpper(s.charAt(j))) j += 1
      var next = i + 1
      if (j > i + 1) {
        while (j < n && s.charAt(j) == '/') j += 1
        if (j < n && s.charAt(j) == '>') {
          sb.append(s, last, i)
          last = j + 1
          next = j + 1
        }
      }
      i = s.indexOf('<', next)
    }
    if (last == 0) s else sb.append(s, last, n).toString
  }

  /** Steps 4-8 in one pass: split on Python whitespace and the
    * punctuation class, join with single spaces, keep the last char of
    * each run of two or more of `.?,!`, and capitalize each run of two
    * or more A-Z (CPython str.capitalize() on ASCII capitals). */
  private def cleanTokens(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var space = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (PyText.isPySpace(c) || isPunctClass(c)) {
        if (sb.length > 0) space = true
        i += 1
      } else {
        if (space) { sb.append(' '); space = false }
        var j = i + 1
        if (isSentPunct(c)) {
          while (j < n && isSentPunct(s.charAt(j))) j += 1
          sb.append(s.charAt(j - 1))
        } else if (isUpper(c)) {
          while (j < n && isUpper(s.charAt(j))) j += 1
          sb.append(c)
          if (j - i >= 2) {
            var k = i + 1
            while (k < j) { sb.append((s.charAt(k) + ('a' - 'A')).toChar); k += 1 }
          }
        } else sb.append(c)
        i = j
      }
    }
    sb.toString
  }

  /** Reference `_process_textlines`: clean each line, join the survivors
    * with single spaces, then collapse 2+ spaces. */
  def processTextlines(lines: Seq[String]): String =
    PyText.collapseSpaces(lines.iterator.flatMap(cleanSent).mkString(" "))
}
