package graft

/** `Verify.writeOracleSql`: the map `tools/check_oracle.py` reads back.
  * The loop that writes each query's result is [[Run.each]] (`RunSpec`). */
class VerifySpec extends SparkSpec {

  test("oracle_sql.json parses back to the identical map, control chars and non-ASCII included") {
    withTempDir("graft_verify") { out =>
      val sql = Seq(
        "quote" -> "SELECT 'a\"b' AS \"x\"",
        "backslash" -> "SELECT '\\d+' AS re",
        "whitespace" -> "SELECT 1\tAS a,\r\n  2 AS b\n",
        "control" -> "SELECT '\u0001' AS c",
        "unicode" -> "SELECT 'naïve café — 東京 😀' AS u")
      Verify.writeOracleSql(out, sql)
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readValue(
        java.nio.file.Paths.get(s"$out/oracle_sql.json").toFile,
        classOf[java.util.LinkedHashMap[String, String]])
      import scala.jdk.CollectionConverters._
      assert(parsed.asScala.toMap == sql.toMap)
    }
  }
}
