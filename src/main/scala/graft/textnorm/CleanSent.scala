package graft.textnorm

import java.util.regex.Pattern

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
  */
object CleanSent {

  val SpecialTokenPattern = "<[A-Z]+/*>"

  /** `[\*\"\n\\…\+\-\/\=\(\)‘•€\[\]\|♫:;—”“~`#]` from the reference. */
  val PunctClassPattern: String =
    "[\\*\"\n\\\\…\\+\\-\\/\\=\\(\\)‘•€\\[\\]\\|♫:;—”“~`#]"

  val RepeatedPuncPattern = "([\\.\\?,!]){2,}"
  val AllCapsPattern = "([A-Z]{2,})"

  private val specialRe = Pattern.compile(SpecialTokenPattern)
  private val punctRe = Pattern.compile(PunctClassPattern)
  private val repeatRe = Pattern.compile(RepeatedPuncPattern)
  private val capsRe = Pattern.compile(AllCapsPattern)
  private val multiSpaceRe = Pattern.compile(" {2,}")

  /** Reference `_clean_sent`; None for the degenerate inputs it skips. */
  def cleanSent(sent: String): Option[String] = {
    if (sent == " " || sent == "\n" || sent == "") return None
    var s = PyText.pyStrip(sent, Set('\n'))
    s = specialRe.matcher(s).replaceAll("")
    s = punctRe.matcher(s).replaceAll(" ")
    s = PyText.pySplit(s).mkString(" ")
    s = PyText.pyStrip(s)
    s = repeatRe.matcher(s).replaceAll("$1")
    s = capitalizeAllCaps(s)
    Some(s)
  }

  /** Replace-with-callback step: each run of >=2 uppercase ASCII letters is
    * rewritten with CPython str.capitalize() semantics. Exposed for the
    * Catalyst expression wrapper (graft.textnorm.expr.CapitalizeAllCaps). */
  def capitalizeAllCaps(s: String): String = {
    val m = capsRe.matcher(s)
    if (!m.find()) return s
    val sb = new java.lang.StringBuilder(s.length)
    var last = 0
    do {
      sb.append(s, last, m.start())
      sb.append(PyText.pyCapitalize(m.group(1)))
      last = m.end()
    } while (m.find())
    sb.append(s, last, s.length)
    sb.toString
  }

  /** Reference `_process_textlines`: clean each line, join the survivors
    * with single spaces, then collapse 2+ spaces. */
  def processTextlines(lines: Seq[String]): String = {
    val cleaned = lines.iterator.map(cleanSent).collect { case Some(s) => s }
    val joined = cleaned.mkString(" ")
    multiSpaceRe.matcher(joined).replaceAll(" ")
  }
}
