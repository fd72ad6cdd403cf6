package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `oracle_sql.json`, which the correctness gate reads: it must parse back
  * to exactly the registry's oracle SQL, control characters included. */
class VerifySpec extends AnyFunSuite {
  test("verify: oracle_sql.json round-trips the oracle SQL, control characters included") {
    val sql = SparkEntry.oracleSql + ("ctrl_chars" -> "SELECT 'a\tb'\r\nFROM t \u0001 \"q\" \\")
    val path = Files.createTempDirectory("graft_verify_json").resolve("oracle_sql.json")
    Verify.writeOracleSql(path.toString, sql)
    val text = Files.readString(path)
    assert(!text.exists(_ < ' '), "raw control character in the JSON text")
    val back = new ObjectMapper().readValue(path.toFile, classOf[java.util.Map[String, String]])
    assert(back.asScala.toMap == sql)
  }
}
