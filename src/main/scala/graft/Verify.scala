package graft
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. Exits non-zero
  * when any query failed, after naming the failures. */
object Verify {
  /** Writes each query's result to `outDir/<name>` as one parquet file
    * and returns the names of the queries that failed, in run order. A
    * non-fatal failure is printed and the run goes on to the next query;
    * a fatal error (OOM, linkage) propagates. */
  def writeAll(spark: SparkSession, sfDir: String, outDir: String,
      queries: Iterable[(String, (SparkSession, String) => DataFrame)]): Seq[String] =
    queries.toSeq.flatMap { case (name, fn) =>
      val failed =
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      // release any frames the query persisted (LSH bands, shingles)
      spark.catalog.clearCache()
      failed
    }

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
    val spark = Engine.session("graft-verify")
    Engine.tuneLogging()
    new java.io.File(outDir).mkdirs()
    // Local-iteration subset (driver leaves this unset → full catalog).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def keep(n: String): Boolean = only.forall(_.contains(n))
    val failed = writeAll(spark, sfDir, outDir, SparkEntry.queries.filter(kv => keep(kv._1)))
    writeOracleSql(outDir, SparkEntry.oracleSql.filter(kv => keep(kv._1)))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
