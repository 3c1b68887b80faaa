package graft

import java.util.regex.{Matcher, Pattern}

import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.Corpus
import graft.textnorm.{ArticleAssembly, CleanSent, Normalizer, PyText}

/** Byte-identity golden tests for SURVEY.md §2.3-2.5: the goldens were
  * produced by executing the reference's Python pipeline semantics
  * (tools/make_goldens.py) over the same fixture pages. */
class TextNormSpec extends AnyFunSuite {

  private lazy val goldens = GoldenUtil.lines("text_norm.golden.jsonl")

  /** The regex implementations that the char loops replaced, built from
    * the kept pattern strings: the oracle of the differential fuzz. */
  private object RegexOracle {
    private val special = Pattern.compile(CleanSent.SpecialTokenPattern)
    private val punct = Pattern.compile(CleanSent.PunctClassPattern)
    private val repeat = Pattern.compile(CleanSent.RepeatedPuncPattern)
    private val caps = Pattern.compile(CleanSent.AllCapsPattern)
    private val twoSpaces = Pattern.compile(" {2,}")
    private val html = Pattern.compile(Normalizer.HtmlTagPattern)
    private val url = Pattern.compile(Normalizer.UrlPattern)
    private val spaces = Pattern.compile(" +")

    private def stripNewlines(s: String): String =
      s.dropWhile(_ == '\n').reverse.dropWhile(_ == '\n').reverse

    def cleanSent(sent: String): Option[String] = {
      if (sent == " " || sent == "\n" || sent == "") return None
      var s = stripNewlines(sent)
      s = special.matcher(s).replaceAll("")
      s = punct.matcher(s).replaceAll(" ")
      s = PyText.pySplit(s).mkString(" ")
      s = PyText.pyStrip(s)
      s = repeat.matcher(s).replaceAll("$1")
      s = caps.matcher(s).replaceAll(m => Matcher.quoteReplacement(PyText.pyCapitalize(m.group(1))))
      Some(s)
    }

    def processTextlines(lines: Seq[String]): String =
      twoSpaces.matcher(lines.flatMap(cleanSent).mkString(" ")).replaceAll(" ")

    def normalize(text: String, methods: Seq[String]): String = {
      var t = text
      methods.foreach {
        case "lowercase" => t = PyText.pyLower(t)
        case "html"      => t = html.matcher(t).replaceAll("")
        case "urls"      => t = url.matcher(t).replaceAll("")
      }
      PyText.pyStrip(spaces.matcher(t).replaceAll(" "))
    }
  }

  /** Fuzz units: every punctuation-class char, every CPython whitespace
    * char (all line terminators among them), tag and URL pieces, A-Z
    * runs, the repeated-punctuation class and a surrogate pair. */
  private val fuzzUnits: IndexedSeq[String] = {
    val punctClass = "*\"\n\\…+-/=()‘•€[]|♫:;—”“~`#".map(_.toString)
    val pySpace = (0 to 0xffff).map(_.toChar).filter(PyText.isPySpace).map(_.toString)
    val other = Seq(
      "<", ">", "/", ".", "?", ",", "!", "a", "b", "x", "7", "A", "B", "Z", "é", "İ",
      "AB", "XYZ", "www", "WWW", "http://", "https://", "x.com/", "ab.cd/", "www1.",
      "\r\n", "<S>", "<FIL/>", "<b>", "</b>", "😀", "\ud83d")
    (punctClass ++ pySpace ++ other).toIndexedSeq
  }

  private def fuzzText(r: scala.util.Random): String = {
    val sb = new StringBuilder
    (0 until r.nextInt(13)).foreach(_ => sb ++= fuzzUnits(r.nextInt(fuzzUnits.length)))
    sb.toString
  }

  test("char-loop text_norm == regex oracles on 100k fuzzed inputs per function") {
    val r = new scala.util.Random(20261017L)
    val methodLists = Seq(Normalizer.DefaultMethods, Seq("html", "urls"), Seq("urls", "html"))
    def check[A](what: => String, input: => Any, got: A, want: A): Unit =
      if (got != want) fail(s"$what on $input: got $got, oracle $want")
    (0 until 100000).foreach { _ =>
      val a = fuzzText(r)
      check("cleanSent", a.map(_.toInt), CleanSent.cleanSent(a), RegexOracle.cleanSent(a))
      val lines = Seq.fill(1 + r.nextInt(3))(fuzzText(r))
      check("processTextlines", lines.map(_.map(_.toInt)),
        CleanSent.processTextlines(lines), RegexOracle.processTextlines(lines))
      val b = fuzzText(r)
      val ms = methodLists(r.nextInt(methodLists.length))
      check(s"normalize $ms", b.map(_.toInt), Normalizer.normalize(b, ms), RegexOracle.normalize(b, ms))
    }
  }

  test("article assembly matches reference get_art_abs byte-for-byte") {
    goldens.foreach { g =>
      val id = GoldenUtil.long(g, "id")
      val raw = Corpus.rawText(id)
      val article = ArticleAssembly.assembleArticle(raw.split("\n", -1).toSeq)
      assert(article == GoldenUtil.str(g, "article"), s"page $id")
    }
  }

  test("_process_textlines + _clean_sent match reference byte-for-byte") {
    goldens.foreach { g =>
      val article = GoldenUtil.str(g, "article")
      val cleaned = CleanSent.processTextlines(Seq(article))
      assert(cleaned == GoldenUtil.str(g, "clean"), s"page ${GoldenUtil.long(g, "id")}")
    }
  }

  test("Normalizer.normalize matches reference byte-for-byte") {
    goldens.foreach { g =>
      val norm = Normalizer.normalize(GoldenUtil.str(g, "clean"))
      assert(norm == GoldenUtil.str(g, "norm"), s"page ${GoldenUtil.long(g, "id")}")
    }
  }

  test("clean_sent skips the reference's degenerate sentinels") {
    assert(CleanSent.cleanSent(" ").isEmpty)
    assert(CleanSent.cleanSent("\n").isEmpty)
    assert(CleanSent.cleanSent("").isEmpty)
    assert(CleanSent.cleanSent("  ").nonEmpty) // two spaces are NOT skipped
  }

  test("clean_sent unit semantics") {
    // uppercase special tokens removed; lowercase tags survive
    assert(CleanSent.cleanSent("a <FIL/> b <S> c").get == "a b c")
    // lowercase tags survive the uppercase-tag removal, but the '/' char is
    // in the punctuation class and becomes a space (reference behavior)
    assert(CleanSent.cleanSent("a <b>x</b> c").get == "a <b>x< b> c")
    // punctuation class to space + whitespace collapse
    assert(CleanSent.cleanSent("a *\"(b)\" c").get == "a b c")
    // repeated sentence punctuation collapses to the LAST char of the run
    assert(CleanSent.cleanSent("wait!!").get == "wait!")
    assert(CleanSent.cleanSent("wait!?").get == "wait?")
    assert(CleanSent.cleanSent("wait.,").get == "wait,")
    // ALLCAPS (>=2) to Capitalize; single capitals untouched
    assert(CleanSent.cleanSent("NASA and A Cat SAYS").get == "Nasa and A Cat Says")
    assert(CleanSent.cleanSent("ABCdef").get == "Abcdef")
  }

  test("normalize unit semantics") {
    assert(Normalizer.normalize("A <b>Bold</b> Move") == "a bold move")
    assert(Normalizer.normalize("go to http://x.test/a now") == "go to now")
    assert(Normalizer.normalize("go to www.x.test/a now") == "go to now")
    assert(Normalizer.normalize("  a   b  ") == "a b")
  }

  test("fix_missing_period quirks preserved") {
    assert(ArticleAssembly.fixMissingPeriod("has @highlight inside") == "has @highlight inside")
    assert(ArticleAssembly.fixMissingPeriod("") == "")
    assert(ArticleAssembly.fixMissingPeriod("ends well.") == "ends well.")
    assert(ArticleAssembly.fixMissingPeriod("no end") == "no end .")
    assert(ArticleAssembly.fixMissingPeriod("quote”") == "quote”")
  }

  test("article assembly drops everything after first @highlight (dead-reset quirk)") {
    val lines = Seq("first.", "@highlight", "summary one.", "second.", "third.")
    assert(ArticleAssembly.assembleArticle(lines) == "first.")
  }

  test("python whitespace semantics") {
    assert(PyText.pyStrip(" x ") == "x")
    assert(PyText.pySplit("a b  c").toSeq == Seq("a", "b", "c"))
    assert(PyText.pyCapitalize("HELLO") == "Hello")
    assert(PyText.pyCapitalize("") == "")
  }
}
