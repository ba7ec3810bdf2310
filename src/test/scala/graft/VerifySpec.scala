package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `Verify.writeAll`: a failing query is reported by name and does not stop
  * the queries after it; a fatal error is not swallowed. `Verify.main` exits
  * non-zero exactly when this list is non-empty. */
class VerifySpec extends SparkSpec {

  private type Query = (SparkSession, String) => DataFrame

  private def rows(n: Int): Query = (s, _) => s.range(n).toDF("id")

  test("a throwing query is returned as a failure and the rest are written") {
    withTempDir("graft_verify") { out =>
      val boom: Query = (_, _) => throw new IllegalStateException("synthetic failure")
      val failed = Verify.writeAll(spark, "/root/testdata/sf0.001", out,
        Seq("first" -> rows(3), "boom" -> boom, "last" -> rows(5)))
      assert(failed == Seq("boom"))
      assert(spark.read.parquet(s"$out/first").count() == 3)
      assert(spark.read.parquet(s"$out/last").count() == 5)
      assert(!Files.exists(java.nio.file.Paths.get(s"$out/boom")))
    }
  }

  test("a fatal error propagates instead of being logged as a failure") {
    withTempDir("graft_verify") { out =>
      val fatal: Query = (_, _) => throw new OutOfMemoryError("synthetic")
      intercept[OutOfMemoryError] {
        Verify.writeAll(spark, "/root/testdata/sf0.001", out, Seq("fatal" -> fatal))
      }
    }
  }

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
