package graft.textnorm

/** CPython string-semantics helpers.
  *
  * The byte-identity invariant (BASELINE.json `input_hint`) binds our
  * normalized text per url to the reference's Python pipeline
  * (`helpers.py:42-74`, `mtb_data_loader.py:391-415`, `preprocess.py:29-68`).
  * Python's notion of "whitespace" (str.isspace / str.split / str.strip /
  * re \s on str patterns) is wider than Java's default: it adds the Unicode
  * White_Space set plus the four information-separator controls 0x1C-0x1F.
  * Every helper here reproduces the CPython behavior exactly so the Scala
  * engine and the reference agree byte-for-byte.
  */
object PyText {

  /** True where CPython str.isspace() is true. */
  def isPySpace(c: Char): Boolean =
    (c == ' ') ||
      (c >= '\u0009' && c <= '\u000d') ||
      (c >= '\u001c' && c <= '\u001f') ||
      c == '\u0085' || c == '\u00a0' || c == '\u1680' ||
      (c >= '\u2000' && c <= '\u200a') ||
      c == '\u2028' || c == '\u2029' || c == '\u202f' ||
      c == '\u205f' || c == '\u3000'

  /** CPython str.strip() — strips isspace() chars from both ends. */
  def pyStrip(s: String): String = {
    var i = 0
    var j = s.length
    while (i < j && isPySpace(s.charAt(i))) i += 1
    while (j > i && isPySpace(s.charAt(j - 1))) j -= 1
    s.substring(i, j)
  }

  /** CPython str.split() with no args: split on whitespace runs, no empties. */
  def pySplit(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && isPySpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isPySpace(s.charAt(i))) i += 1
      if (i > start) out += s.substring(start, i)
    }
    out.toArray
  }

  /** `re.sub(" +", " ", s)`: each run of spaces becomes one space. */
  def collapseSpaces(s: String): String = {
    var i = s.indexOf("  ")
    if (i < 0) return s
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    sb.append(s, 0, i + 1)
    i += 1
    while (i < n) {
      val c = s.charAt(i)
      if (c != ' ' || s.charAt(i - 1) != ' ') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** CPython str.lower(). Locale.ROOT matches CPython for the inputs the
    * pipeline sees (no locale-dependent dotted-I handling). */
  def pyLower(s: String): String = s.toLowerCase(java.util.Locale.ROOT)

  /** CPython str.capitalize(): first char title-cased, rest lower-cased. */
  def pyCapitalize(s: String): String =
    if (s.isEmpty) s
    else {
      val first = s.codePointAt(0)
      val head = new String(Character.toChars(Character.toTitleCase(first)))
      head + pyLower(s.substring(Character.charCount(first)))
    }
}
