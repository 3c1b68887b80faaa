package graft.fixtures

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.schema.WebPage

/** Deterministic synthetic web-page corpus (FIXTURES.md F1) matching the
  * BASELINE.json input_hint shape `(url, warc_ts, html, text, lang)`.
  *
  * Generation is a pure function of the page id, so the corpus can be built
  * distributed (`spark.range(n).map(page)`) with no driver-side state, no
  * wall-clock, and no external data — the same page id yields the same bytes
  * at every scale and parallelism level. Hot-entity skew is built in:
  * ~20% of mentions are "acme corp" to exercise salting/AQE paths.
  */
object Corpus {
  import FixtureVocab._

  val Seed = 42L
  private val BaseTs = 1735689600000L // 2025-01-01T00:00:00Z, fixed

  /** Raw text of one page: template sentences plus the dirty features the
    * normalizer must strip (HTML fragments, URLs, ALLCAPS, repeated
    * punctuation, multi-spaces, @highlight blocks, "(CNN) -- " prefixes). */
  def rawText(id: Long): String = {
    val h0 = mix(Seed ^ id)
    val nSents = 3 + (Math.floorMod(h0, 4L)).toInt
    val sb = new StringBuilder
    if (Math.floorMod(h0 >> 8, 13L) == 0) sb.append("(CNN) -- ")
    var s = 0
    while (s < nSents) {
      val h = mix(h0 + 31L * s)
      val (label, connector) = pick(Templates, h >> 3)
      val e1 = pickEntity(h >> 13)
      val e2 = pickEntity(h >> 23)
      val e1r = decorateEntity(titleCase(e1), h >> 33)
      val e2r = titleCase(e2)
      val conn =
        if (Math.floorMod(h >> 41, 11L) == 0) connector.toUpperCase else connector
    // sentence punctuation variant: repeated "!!" collapses to "!" downstream
      val punct = Math.floorMod(h >> 47, 9L) match {
        case 0 => "!!"
        case 1 => "?"
        case _ => "."
      }
      val gap = if (Math.floorMod(h >> 51, 7L) == 0) "  " else " "
      sb.append(s"The $e1r $conn the $e2r$punct").append(gap)
      if (Math.floorMod(h >> 55, 17L) == 0)
        sb.append("see www.example.com/ref ")
      val _ = label
      s += 1
    }
    if (Math.floorMod(h0 >> 16, 13L) == 0) {
      sb.append("\n@highlight\n")
      sb.append("this trailing summary is dropped by article assembly")
    }
    sb.toString
  }

  /** Skewed entity pick: ~20% "acme corp" (hot key). */
  def pickEntity(h: Long): String = {
    val r = Math.floorMod(h, 10L)
    if (r < 2) "acme corp"
    else {
      val all = People ++ Orgs ++ Places ++ Things
      pick(all, h >> 4)
    }
  }

  private def decorateEntity(e: String, h: Long): String =
    Math.floorMod(h, 7L) match {
      case 0 => s"<b>$e</b>"
      case _ => e
    }

  def page(id: Long): WebPage = {
    val text = rawText(id)
    val html = s"<html><body><p>$text</p></body></html>"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val lang = Math.floorMod(mix(Seed + id * 7L), 20L) match {
      case 0 => "de"
      case 1 => "fr"
      case _ => "en"
    }
    WebPage(
      url = s"https://ex${id % 97}.test/$id",
      warc_ts = new Timestamp(BaseTs + id * 1000L),
      html = html,
      text = text,
      lang = lang)
  }

  /** Distributed corpus: pure map over spark.range — no shuffle, no driver
    * materialization; scales to any n. */
  def generate(spark: SparkSession, n: Long): Dataset[WebPage] = {
    import spark.implicits._
    spark.range(n).map(id => page(id))
  }
}
