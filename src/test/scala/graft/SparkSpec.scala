package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide context). */
object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the generated-class cache size and the RocksDB state store that ship
      .config(Engine.jvmConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Evaluates `body` with expression codegen genuinely OFF. Flipping
    * spark.sql.codegen.wholeStage alone is not enough: outside
    * whole-stage spans Spark still COMPILES expressions through the
    * generated-UnsafeProjection factory (factoryMode FALLBACK), so a
    * custom Expression's eval / nullSafeEval never runs and an
    * "interpreted" leg would exercise doGenCode twice. factoryMode =
    * NO_CODEGEN is what forces the interpreted projection. */
  def interpreted[T](body: => T): T = {
    val prevWS = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    val prevFM = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prevWS)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFM)
    }
  }
}
