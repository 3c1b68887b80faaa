package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `Verify.oracleJson` writes the oracle_sql.json that Python's
  * `json.load` reads (tools/check_oracle.py). Jackson's default parser is
  * as strict (a raw control char inside a string is an error), so each
  * oracle must parse back byte for byte. */
class VerifySpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap

  test("oracle_sql.json parses back to SparkEntry.oracleSql, one oracle per query") {
    val back = parse(Verify.oracleJson(SparkEntry.oracleSql))
    assert(back == SparkEntry.oracleSql)
    assert(back.keySet == SparkEntry.queries.keySet)
  }

  test("oracle JSON escapes quotes, backslashes and every control char") {
    val tricky = Map(
      "q\"\\" -> "a\tb\rc\nd\u0001e\u001f \"x\" \\y é",
      "plain" -> "SELECT 1")
    assert(parse(Verify.oracleJson(tricky)) == tricky)
  }
}
