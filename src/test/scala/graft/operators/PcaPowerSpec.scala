package graft.operators

import graft.SparkSpec

/** Power iteration (pcaCentered → pcaTrainAxis → pcaProjectFrom) must
  * recover a planted dominant axis: points drawn along a known direction
  * u (spread ±10) plus a weaker orthogonal direction (±1.5) must yield an
  * axis with |cos(axis, u)| ≈ 1, and the projection must carry the
  * dominant coordinate. */
class PcaPowerSpec extends SparkSpec {
  import spark.implicits._

  test("power iteration recovers the planted dominant axis") {
    val dims = 16
    val u = {
      val raw = (1 to dims).map(j => math.sin(j.toDouble))
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }
    val w = { // Gram-Schmidt a second direction against u
      val raw = (1 to dims).map(j => math.cos(3.0 * j))
      val d = raw.lazyZip(u).map(_ * _).sum
      val o = raw.lazyZip(u).map((a, b) => a - d * b)
      val n = math.sqrt(o.map(x => x * x).sum)
      o.map(_ / n)
    }
    val rows = (0 until 300).map { i =>
      val t = (i % 21) - 10.0         // dominant spread along u
      val s = ((i % 7) - 3.0) * 0.5   // weak spread along w
      (i.toLong, (0 until dims).map(j => (t * u(j) + s * w(j)).toFloat).toArray)
    }
    val df = rows.toDF("vec_id", "embedding")
    val centered = Similarity.pcaCentered(df, dims)
    val ax = Similarity.pcaTrainAxis(centered, rounds = 8, dims = dims)
    val projected = Similarity.pcaProjectFrom(centered, ax)
    val cos = ax.toSeq.lazyZip(u).map(_ * _).sum
    assert(math.abs(cos) > 0.99, s"|cos(axis, u)| = ${math.abs(cos)}")

    // projections carry the dominant coordinate (up to the global sign)
    val sign = math.signum(cos)
    val errs = projected.collect().map { r =>
      val i = r.getLong(0).toInt
      val t = (i % 21) - 10.0
      val tMean = (0 until 300).map(j => (j % 21) - 10.0).sum / 300.0
      math.abs(sign * r.getDouble(1) - (t - tMean))
    }
    // residual = the weak-direction leakage, bounded well under u's spread
    assert(errs.max < 2.0, s"max |proj - t| = ${errs.max}")
  }
}
