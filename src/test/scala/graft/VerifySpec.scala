package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Verify's dump: the query dirs its filter keeps, and the oracle file
  * tools/check.py reads. */
class VerifySpec extends SparkSpec {

  test("a filtered dump writes only the kept query but the full oracle file") {
    val out = Files.createTempDirectory("graft-verify")
    Verify.dump(spark, sf0001, out.toString, Some(Set("q01_agg_pricing_summary")))
    val oracle = new ObjectMapper()
      .readTree(Files.readString(out.resolve("oracle_sql.json")))
    assert(oracle.fieldNames().asScala.toSet == SparkEntry.oracleSql.keySet)
    assert(SparkEntry.oracleSql.forall { case (k, v) => oracle.get(k).asText == v })
    val dumped = Files.list(out)
    try assert(dumped.iterator().asScala.filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSet == Set("q01_agg_pricing_summary"))
    finally dumped.close()
  }

  test("oracleJson escapes quotes, backslashes and control characters") {
    val sql = Map("q1_a" -> "SELECT '\"\\x'\n\tFROM t\r\u0001", "q2_b" -> "")
    val parsed = new ObjectMapper().readTree(Verify.oracleJson(sql))
    assert(parsed.fieldNames().asScala.map(k => k -> parsed.get(k).asText).toMap == sql)
  }
}
