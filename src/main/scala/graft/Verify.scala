package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits non-zero
  * when any query failed, after naming the failures. */
object Verify {
  /** Writes `outDir/oracle_sql.json`, one JSON object of query name →
    * oracle SQL, as `tools/check_oracle.py` reads it. */
  def writeOracleSql(outDir: String, sql: Iterable[(String, String)]): Unit = {
    val m = new java.util.LinkedHashMap[String, String]()
    sql.foreach { case (k, v) => m.put(k, v) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(m))
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration subset (driver leaves this unset → full catalog).
    val queries = Run.select(SparkEntry.queries)
    val spark = Engine.session("graft-verify")
    Engine.tuneLogging()
    new java.io.File(outDir).mkdirs()
    val failed = Run.each(spark, sfDir, queries) { (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }.filter(_.seconds.isFailure).map(_.name)
    writeOracleSql(outDir, queries.map { case (n, _) => n -> SparkEntry.oracleSql(n) })
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
