package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins [[Sketch]] semantics: the CMS lower bound, exactness without
  * collisions, and cell-wise mergeability (the property that makes the
  * sketch distributable). */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private val keyed = Seq(("u1", 5L), ("u2", 3L), ("u3", 2L), ("u4", 7L))
    .toDF("k", "n")

  test("estimates are >= exact counts (CMS lower bound), exact when wide") {
    for (width <- Seq(2, 4096)) {
      val grid = Sketch.cmsGrid(keyed, "k", "n", width)
      val est = Sketch.cmsEstimate(keyed.select($"k"), "k", grid, width)
        .join(keyed, "k").select($"k", $"est", $"n")
        .as[(String, Long, Long)].collect()
      assert(est.length == 4)
      est.foreach { case (k, e, n) =>
        assert(e >= n, s"width=$width key=$k est=$e < exact=$n")
        if (width == 4096) assert(e == n, s"width=$width key=$k est=$e != $n")
      }
    }
  }

  test("bloom: no false negatives at any width; no false positives when wide") {
    val members = keyed.select($"k")
    val outsiders = Seq("z1", "z2", "z3", "z4", "z5").toDF("k")
    for (m <- Seq(4, 65536)) {
      val bits = Sketch.bloomBits(members, "k", m)
      val flags = Sketch.bloomMaybe(members.unionAll(outsiders), "k", bits, m)
        .as[(String, Boolean)].collect().toMap
      keyed.select($"k").as[String].collect().foreach { k =>
        assert(flags(k), s"m=$m member $k not maybe — bloom false negative")
      }
      if (m == 65536)
        Seq("z1", "z2", "z3", "z4", "z5").foreach { k =>
          assert(!flags(k), s"m=$m outsider $k flagged maybe at sparse width")
        }
    }
  }

  test("bloom bit sets merge by distinct union") {
    val m = 16
    val left = Sketch.bloomBits(keyed.filter($"k" <= "u2").select($"k"), "k", m)
    val right = Sketch.bloomBits(keyed.filter($"k" > "u2").select($"k"), "k", m)
    val merged = left.unionAll(right).distinct()
    val whole = Sketch.bloomBits(keyed.select($"k"), "k", m)
    assert(merged.exceptAll(whole).isEmpty && whole.exceptAll(merged).isEmpty,
      "merged bit set differs from whole-input bit set")
  }

  test("bloom pruning before a join preserves the join result exactly") {
    // the semi-join pruning contract: FPs survive the prune but die in the
    // join; no-false-negatives means nothing real is lost — so prune + join
    // must equal plain join at ANY filter width (even a saturated 4-bit one)
    val dim = Seq(("u1", "US"), ("u3", "DE")).toDF("k", "geo")
    val fact = (keyed.select($"k") unionAll
      Seq("z1", "z2", "z3").toDF("k")).withColumn("v", length($"k"))
    for (m <- Seq(4, 1024)) {
      val bits = Sketch.bloomBits(dim.select($"k"), "k", m)
      val pruned = Sketch.bloomMaybe(fact, "k", bits, m)
        .filter($"maybe").drop("maybe")
      val viaPrune = pruned.join(dim, "k")
      val plain = fact.join(dim, "k")
      assert(viaPrune.exceptAll(plain).isEmpty && plain.exceptAll(viaPrune).isEmpty,
        s"m=$m pruned-then-joined result differs from plain join")
    }
  }

  test("bloomMaybe rejects a probe frame already carrying its output/scratch columns") {
    val m = 16
    val bits = Sketch.bloomBits(keyed.select($"k"), "k", m)
    val clash = keyed.select($"k").withColumn("maybe", lit(true))
    val ex = intercept[IllegalArgumentException] {
      Sketch.bloomMaybe(clash, "k", bits, m)
    }
    assert(ex.getMessage.contains("maybe"))
  }

  test("theta: exact-mode sketches estimate, union, and intersect exactly") {
    // 0..99 tagged A, 50..149 tagged B: |A| = |B| = 100, |A ∩ B| = 50 —
    // far below nominal (lgK=12), so every estimate must be EXACT
    val rows = ((0L until 100L).map(("A", _)) ++ (50L until 150L).map(("B", _)))
      .toDF("tag", "id")
    val direct = rows.groupBy($"tag").agg(theta_sketch_agg($"id", 12).as("sk"))
    // sharded build: per-shard sketches union to the same sets
    val sharded = rows.withColumn("shard", pmod($"id", lit(3)))
      .groupBy($"tag", $"shard").agg(theta_sketch_agg($"id", 12).as("psk"))
      .groupBy($"tag").agg(theta_union_agg($"psk", 12).as("sk"))
    for (sk <- Seq(direct, sharded)) {
      val est = sk.select($"tag", theta_sketch_estimate($"sk").as("e"))
        .as[(String, Long)].collect().toMap
      assert(est == Map("A" -> 100L, "B" -> 100L),
        s"exact-mode estimates wrong: $est")
      val both = sk.filter($"tag" === "A").select($"sk".as("ska"))
        .crossJoin(sk.filter($"tag" === "B").select($"sk".as("skb")))
        .select(theta_sketch_estimate(theta_intersection($"ska", $"skb")))
        .as[Long].head()
      assert(both == 50L, s"exact-mode intersection wrong: $both")
    }
  }

  test("grids merge by cell-wise addition") {
    val width = 8
    val left = Sketch.cmsGrid(keyed.filter($"k" <= "u2"), "k", "n", width)
    val right = Sketch.cmsGrid(keyed.filter($"k" > "u2"), "k", "n", width)
    val merged = left.unionAll(right)
      .groupBy($"j", $"bucket").agg(sum($"cell").as("cell"))
    val whole = Sketch.cmsGrid(keyed, "k", "n", width)
    val diff = merged.unionAll(whole)
      .groupBy($"j", $"bucket")
      .agg(count(lit(1)).as("c"), countDistinct($"cell").as("d"))
      .filter($"c" =!= 2 || $"d" =!= 1)
    assert(diff.isEmpty, "merged grid differs from whole-input grid")
  }
}
