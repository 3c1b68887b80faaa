package graft.fixtures

/** Deterministic FewRel-format fixture: one JSON object keyed by relation
  * id, each an array of {tokens, h:[surface,qid,[[positions]]], t:[...]}.
  * Includes the malformed shapes the reference filters out (one-to-many
  * mappings, overlapping/adjacent entities) so the source's validation
  * paths are exercised. */
object FewRelFixture {
  import FixtureVocab._

  val Relations: Vector[String] = Vector(
    "P931", "P4552", "P140", "P1923", "P150", "P6", "P27", "P449")

  private def json(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** One example; variant hash decides entity lengths and filler words. */
  private def example(relIdx: Int, v: Int): String = {
    val h = mix(9000L + relIdx * 101L + v)
    val e1 = pick(Things, h >> 3).split(' ').toVector
    val e2 = pick(Things, h >> 9).split(' ').toVector
    val filler1 = Vector("the")
    // relation-distinctive connector so same-relation examples share signal
    // (mirrors real FewRel, where relation instances share lexical cues)
    val filler2 = Templates(relIdx % Templates.length)._2.split(' ').toVector :+ "the"
    val tail = Vector("in", "practice", ".")
    val tokens = filler1 ++ e1 ++ filler2 ++ e2 ++ tail
    val hPos = (filler1.length until filler1.length + e1.length).toVector
    val tStart = filler1.length + e1.length + filler2.length
    val tPos = (tStart until tStart + e2.length).toVector
    val toksJson = tokens.map(json).mkString("[", ",", "]")
    def posJson(p: Vector[Int]) = p.mkString("[[", ",", "]]")
    s"""{"tokens":$toksJson,"h":[${json(e1.mkString(" "))},${json("Q" + (h & 0xffff))},${posJson(hPos)}],""" +
      s""""t":[${json(e2.mkString(" "))},${json("Q" + ((h >> 16) & 0xffff))},${posJson(tPos)}]}"""
  }

  /** A one-to-many mapping (2 position runs) — must be filtered out. */
  private def badOneToMany: String =
    """{"tokens":["a","b","c","d","e"],"h":["b","Q1",[[1],[3]]],"t":["d","Q2",[[3]]]}"""

  /** Adjacent entities (no separating token) — must be filtered out. */
  private def badAdjacent: String =
    """{"tokens":["x","y","z","w"],"h":["y","Q3",[[1]]],"t":["z","Q4",[[2]]]}"""

  val ExamplesPerRelation = 6

  def jsonText: String = {
    val rels = Relations.zipWithIndex.map { case (rel, ri) =>
      val good = (0 until ExamplesPerRelation).map(v => example(ri, v))
      val bad = if (ri == 0) Seq(badOneToMany, badAdjacent) else Seq.empty
      s"""${json(rel)}:[${(good ++ bad).mkString(",")}]"""
    }
    rels.mkString("{", ",", "}")
  }

  /** Expected number of valid examples after the reference's filters. */
  def expectedValid: Int = Relations.length * ExamplesPerRelation

  /** Publishes the fixture through [[graft.io.Commit]]: it lives at a
    * FIXED path (both the engine query and the DuckDB oracle read it), so
    * concurrent verify runs must never observe a partially-written file. */
  def writeTo(dir: java.nio.file.Path): java.nio.file.Path =
    graft.io.Commit.writeString(dir.resolve("train_wiki.json"), jsonText)
}
