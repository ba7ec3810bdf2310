package graft.functions

import graft.SparkSpec
import graft.functions.MortonInterleave.morton_interleave
import org.apache.spark.sql.functions._
import scala.util.Random

/** MortonInterleave contract: the mask-spread implementation must equal
  * the per-bit definition (the oracle's formulation), interpreted eval
  * must equal codegen, the SQL registration must resolve, and the
  * monotonicity property x12's pruning soundness rests on must hold. */
class MortonSpec extends SparkSpec {
  import spark.implicits._

  private def reference(x: Long, y: Long): Long =
    (0 until 16).map { i =>
      (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
    }.sum

  test("mask-spread equals the per-bit definition on random and edge inputs") {
    val rnd = new Random(11)
    val cases = Seq((0L, 0L), (0xFFFFL, 0xFFFFL), (1L, 0L), (0L, 1L),
      (0x12345L, 0xABCDEL)) ++ // high bits ignored
      Seq.fill(200)((rnd.nextLong().abs, rnd.nextLong().abs))
    for ((x, y) <- cases)
      assert(MortonInterleave.interleave16(x, y) == reference(x & 0xFFFFL, y & 0xFFFFL),
        s"mismatch at ($x, $y)")
    // known value: x=3 (011), y=5 (101) -> 100111b = 39
    assert(MortonInterleave.interleave16(3L, 5L) == 39L)
  }

  test("interpreted eval equals codegen equals the Scala helper") {
    val df = Seq((3L, 5L), (65535L, 0L), (12345L, 54321L)).toDF("x", "y")
    def run(): Seq[Long] =
      df.select(morton_interleave($"x", $"y")).as[Long].collect().toSeq
    val expect = Seq((3L, 5L), (65535L, 0L), (12345L, 54321L))
      .map { case (x, y) => MortonInterleave.interleave16(x, y) }
    assert(run() == expect)
    assert(interpreted(run()) == expect) // factoryMode=NO_CODEGEN -> nullSafeEval
  }

  test("SQL registration resolves and rejects wrong arity/types") {
    val got = spark.sql("SELECT morton_interleave(3L, 5L) AS z").collect().head.getLong(0)
    assert(got == 39L)
    intercept[Exception](spark.sql("SELECT morton_interleave(1L)").collect())
    intercept[Exception](spark.sql("SELECT morton_interleave('a', 'b')").collect())
  }

  test("monotone in both coordinates (pruning soundness)") {
    val rnd = new Random(13)
    for (_ <- 1 to 500) {
      val (x1, y1) = (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong)
      val x2 = x1 + rnd.nextInt((65536 - x1).toInt max 1)
      val y2 = y1 + rnd.nextInt((65536 - y1).toInt max 1)
      assert(MortonInterleave.interleave16(x1, y1) <=
        MortonInterleave.interleave16(x2, y2))
    }
  }
}
