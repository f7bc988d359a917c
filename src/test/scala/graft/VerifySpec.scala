package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** `oracle_sql.json` is what the DuckDB oracle gate loads: every entry
  * must read back exactly as written, control chars included. */
class VerifySpec extends AnyFunSuite {
  test("oracleJson round-trips every oracle SQL entry and a string with " +
      "a quote, a backslash, a tab and a control char") {
    val sql = SparkEntry.oracleSql + ("escapes" -> "a\"b\\c\td\u0001e")
    val back = new ObjectMapper()
      .readValue(Verify.oracleJson(sql), classOf[java.util.Map[String, String]])
      .asScala.toMap
    assert(back === sql)
  }
}
