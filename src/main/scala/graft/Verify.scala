package graft
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

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Engine.session("graft-verify")
    Engine.tuneLogging()
    new java.io.File(outDir).mkdirs()
    // Local-iteration subset (driver leaves this unset → full catalog).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    def keep(n: String): Boolean = only.forall(_.contains(n))
    val failed = writeAll(spark, sfDir, outDir, SparkEntry.queries.filter(kv => keep(kv._1)))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
