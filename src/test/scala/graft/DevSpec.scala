package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class DevSpec extends AnyFunSuite {

  private def parse(json: String): Map[String, String] =
    new ObjectMapper().readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap

  test("Dev oracle writes JSON that parses back to exactly SparkEntry.oracleSql") {
    val out = java.nio.file.Files.createTempFile("oracle_sql", ".json")
    try {
      Dev.main(Array("oracle", out.toString))
      assert(parse(java.nio.file.Files.readString(out)) == SparkEntry.oracleSql)
    } finally java.nio.file.Files.deleteIfExists(out)
  }

  test("oracleJson escapes quotes, backslashes and every control character") {
    val tricky = Map(
      "q\"name\\" -> "SELECT 'a\tb' AS \"c\"\r\nFROM t -- \\d+",
      "ctl" -> (0 until 0x20).map(_.toChar).mkString,
      "unicode" -> "café ≥ 2³¹ — 表")
    assert(parse(Verify.oracleJson(tricky)) == tricky)
  }
}
