package graft.textnorm

import java.util.regex.Pattern

/** Text normalizer — byte-identical Scala re-expression of the reference's
  * `helpers.py:12-74` (Normalizer): ordered method list
  * (lowercase → strip html tags → strip URLs), then collapse multiple spaces
  * and strip. This is THE `text → text_norm` per-url byte-identity invariant
  * from BASELINE.json; the pipeline reaches it through the `text_norm`
  * Catalyst expression ([[ExprFns.textNorm]]).
  *
  * The tag and space steps are char loops; [[HtmlTagPattern]] is the regex
  * the tag loop reproduces, kept as the tests' oracle. The URL step still
  * runs [[UrlPattern]], but only on text that contains '/' or "www".
  *
  * Regex parity notes (SURVEY.md §7.5): Python `re` on str is Unicode-aware
  * for \s and \d; Java needs the inline (?U) flag (UNICODE_CHARACTER_CLASS)
  * for the same meaning, so the URL pattern carries it and agrees with
  * CPython on non-ASCII whitespace.
  */
object Normalizer {

  /** `<.*?>` — reference `helpers.py:63-65` (_remove_html). */
  val HtmlTagPattern = "<.*?>"

  /** URL regex — reference `helpers.py:67-74` (_remove_urls), translated
    * character-for-character to Java syntax; (?U) makes \s/\d Unicode-wide
    * like Python's. Matches http(s)://…, www.…, and bare domain/path forms. */
  val UrlPattern: String =
    "(?U)((https?:\\/\\/|www\\d{0,3}[.]|[a-z0-9.\\-]+[.][a-z]{2,4}\\/)" +
      "(?:[^\\s()<>]+|\\(([^\\s()<>]+|(\\([^\\s()<>]+\\)))*\\))+" +
      "(?:\\(([^\\s()<>]+|(\\([^\\s()<>]+\\)))*\\)|" +
      "[^\\s`!()\\[\\]{};:'\".,<>?«»“”‘’]))"

  private val urlRe = Pattern.compile(UrlPattern)

  final val DefaultMethods: Seq[String] = Seq("lowercase", "html", "urls")

  /** Reference `helpers.py:42-56` Normalizer.normalize. */
  def normalize(text: String, methods: Seq[String] = DefaultMethods): String = {
    var t = text
    methods.foreach {
      case "lowercase" => t = PyText.pyLower(t)
      case "html"      => t = removeHtmlTags(t)
      // every alternative of the pattern's leading group holds a '/' or
      // "www", so text without either has no match
      case "urls" =>
        if (t.indexOf('/') >= 0 || t.contains("www")) t = urlRe.matcher(t).replaceAll("")
      case m => throw new IllegalArgumentException(s"unknown method $m")
    }
    PyText.pyStrip(PyText.collapseSpaces(t))
  }

  /** `.` outside DOTALL: any char but these line terminators. */
  private def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** [[HtmlTagPattern]] removal: a '<' opens a tag that ends at the first
    * '>' after it, unless a line terminator comes first. A failed scan
    * stops at `noClose`, and no '<' before that point can close either,
    * so the loop stays linear. */
  private def removeHtmlTags(s: String): String = {
    var i = s.indexOf('<')
    if (i < 0) return s
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var last = 0
    var noClose = -1
    while (i >= 0) {
      var next = i + 1
      if (i >= noClose) {
        var j = i + 1
        while (j < n && s.charAt(j) != '>' && !isLineTerminator(s.charAt(j))) j += 1
        if (j < n && s.charAt(j) == '>') {
          sb.append(s, last, i)
          last = j + 1
          next = j + 1
        } else noClose = j
      }
      i = s.indexOf('<', next)
    }
    if (last == 0) s else sb.append(s, last, n).toString
  }
}
