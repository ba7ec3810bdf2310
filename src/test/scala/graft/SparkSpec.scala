package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Shared local session for all suites (one JVM-wide context): the engine's
  * own session, so the specs run what ships. */
object SparkSpec {
  lazy val session: SparkSession = Engine.session("graft-test", cores = "4")
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` on the path of a new directory in `java.io.tmpdir`, then
    * deletes the directory and everything under it, whether `body` returns
    * or throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix).toFile
    try body(dir.getPath)
    finally org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

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
