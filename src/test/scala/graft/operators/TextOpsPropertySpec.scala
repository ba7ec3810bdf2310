package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import scala.util.Random

/** Seeded property-style tests for the dedup/text operator algebra
  * (SURVEY §5 "Our strategy": property tests for the counter/top-K and
  * hashing operators). Deterministic seeds — rerunning cannot flake. */
class TextOpsPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42)
  private val vocab = Vector("spark", "scan", "join", "filter", "agg", "sort",
    "hash", "merge", "stream", "batch", "row", "column", "the", "a", "dup")

  private def randText(n: Int): String =
    Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  test("jaccard is 1 on self, symmetric, and within [0,1]") {
    val docs = (0 until 30).map(i => (i.toLong, randText(20 + rnd.nextInt(40)))).toDF("doc_id", "text")
    val sh = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), TextOps.shinglesOf(col("t")).as("sh"))
    val pairs = sh.as("a").crossJoin(sh.as("b"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        TextOps.jaccard(col("a.sh"), col("b.sh")).as("jab"),
        TextOps.jaccard(col("b.sh"), col("a.sh")).as("jba"))
      .collect()
    pairs.foreach { r =>
      val (i, j, jab, jba) = (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(jab >= 0.0 && jab <= 1.0, s"jaccard($i,$j)=$jab out of range")
      assert(jab == jba, "jaccard not symmetric")
      if (i == j) assert(jab == 1.0, s"self-jaccard($i)=$jab")
    }
  }

  test("minhash LSH: exact dups collapse to one representative; near-dup pairs found via it") {
    // plant exact dups and near-dups among noise
    val base = randText(60)
    val nearDup = base.split(" ").updated(5, "XX").mkString(" ")
    val docs = ((0 until 40).map(i => (i.toLong, randText(60))) ++
      Seq((100L, base), (101L, base), (102L, nearDup))).toDF("doc_id", "text")
    val cands = TextOps.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    // exact-dup cluster {100,101} collapses to representative 100 BEFORE
    // banding (canonicalDocs): within-cluster pairs are d1's output, not
    // LSH's, and banding the whole cluster would put N²/2 pairs in one
    // bucket — so (100,101) must NOT reappear here
    assert(!cands.contains((100L, 101L)),
      "exact-dup pair should be collapsed before banding, not re-emitted by LSH")
    assert(!cands.exists(p => p._1 == 101L || p._2 == 101L),
      "non-canonical duplicate 101 leaked into LSH banding")
    assert(cands.contains((100L, 102L)),
      "0.9-jaccard near-dup pair (via the cluster representative) missed by LSH (16 hashes / 4 bands)")
  }

  test("minhash LSH: a 1000-identical-doc cluster yields zero bucket blow-up") {
    // the dup-cluster skew hole: N byte-identical docs share every band key;
    // banded naively they put N²/2 ≈ 500k pairs in ONE bucket. canonicalDocs
    // collapses the cluster first, so the candidate count stays bounded by
    // the NON-identical corpus structure (here: one planted near-dup pair).
    val base = randText(60)
    val nearDup = base.split(" ").updated(7, "YY").mkString(" ")
    val cluster = (0 until 1000).map(i => (1000L + i, base))
    val docs = (cluster ++ (0 until 30).map(i => (i.toLong, randText(60))) :+
      (5000L, nearDup)).toDF("doc_id", "text")
    val cands = TextOps.minhashCandidates(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1000L, 5000L)),
      "near-dup of the cluster representative missed")
    // bound: all candidates come from the 32 distinct texts, never the
    // 999 collapsed duplicates — far under the 499500 within-cluster pairs
    assert(cands.size < 100, s"candidate blow-up: ${cands.size} pairs")
    assert(!cands.exists(p => p._1 > 1000L && p._1 < 2000L),
      "non-canonical cluster member leaked into banding")
  }

  test("Shingles (codegen) equals the HOF formulation incl. order and short docs") {
    val docs = ((0 until 80).map(i => (i.toLong, randText(rnd.nextInt(90)))) ++
      Seq((900L, ""), (901L, "one"), (902L, "one two"), (903L, "a b c"),
        (904L, "dup dup dup dup"))) // forces duplicate shingles
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
    val hof = docs.select(col("doc_id"), TextOps.shinglesOf(col("t")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val gen = docs.select(col("doc_id"),
      graft.functions.VectorFunctions.shingles(col("t"), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(hof == gen)
    assert(gen(901L).isEmpty && gen(902L).isEmpty) // short docs: empty, not null
    assert(gen(903L) == Seq("a b c") && gen(904L) == Seq("dup dup dup"))
  }

  test("SimHashSig (codegen, one pass) equals a driver-side reference; null on empty") {
    val docs = ((0 until 60).map(i => (i.toLong, randText(5 + rnd.nextInt(80)))) :+
      (999L, "a b")) // < 3 tokens -> empty shingles -> null signature
      .toDF("doc_id", "text")
    val sh = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), TextOps.shinglesOf(col("t")).as("sh"))
    // driver-side reference: same md5 slice, same votes, plain Scala
    def refSim(shingles: Seq[String], nBits: Int): Option[Long] =
      if (shingles.isEmpty) None
      else {
        val sums = new Array[Int](nBits)
        shingles.foreach { s =>
          val d = org.apache.commons.codec.digest.DigestUtils.md5(s.getBytes)
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          (0 until nBits).foreach(j => sums(j) += (if (((h >> j) & 1L) == 1L) 1 else -1))
        }
        Some((0 until nBits).foldLeft(0L)((acc, j) =>
          if (sums(j) >= 0) acc | (1L << j) else acc))
      }
    val collected = sh.collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    val viaExpr = sh.select(col("doc_id"),
      graft.functions.VectorFunctions.simhash_sig(col("sh"), 32).as("sig"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    collected.foreach { case (id, shs) =>
      assert(viaExpr(id) == refSim(shs, 32), s"doc $id signature differs")
    }
    assert(viaExpr(999L).isEmpty, "shingle-less doc must get a null signature")
    // SQL path (GraftExtensions, installed by the session)
    sh.createOrReplaceTempView("simhash_sig_in")
    val sqlRes = spark.sql(
      "SELECT doc_id, simhash_sig(sh, 32) AS sig FROM simhash_sig_in")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(sqlRes == viaExpr)
  }

  test("simhashPairs: planted near-dup found, exact dups collapsed, count bounded") {
    val base = randText(200)
    val nearDup = base + " extra" // 3 changed shingles of ~198 -> tiny hamming
    val docs = ((0 until 40).map(i => (i.toLong, randText(60))) ++
      Seq((100L, base), (101L, base), (102L, nearDup))).toDF("doc_id", "text")
    val pairs = TextOps.simhashPairs(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect()
    val idPairs = pairs.map(p => (p._1, p._2)).toSet
    assert(idPairs.contains((100L, 102L)), "near-dup pair missed by banded simhash")
    assert(!idPairs.exists(p => p._1 == 101L || p._2 == 101L),
      "non-canonical exact duplicate leaked into simhash banding")
    assert(pairs.forall(_._3 <= 3), "hamming verify filter failed")
    assert(pairs.length < 50, s"chance-collision blow-up: ${pairs.length} pairs")
  }

  test("MinHashSig (codegen, one pass) equals the element-wise HOF formulation") {
    val k = 16
    val docs = ((0 until 60).map(i => (i.toLong, randText(5 + rnd.nextInt(80)))) :+
      (999L, "a b")) // < 3 tokens -> empty shingles -> null signature
      .toDF("doc_id", "text")
    val sh = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("t"))
      .select(col("doc_id"), TextOps.shinglesOf(col("t")).as("sh"))
    val viaHof = sh
      .select(col("doc_id"), TextOps.elementHashes(col("sh")).as("hs"))
      .select(col("doc_id") +:
        (0 until k).map(i => TextOps.minhashFromHashes(col("hs"), i).as(s"m$i")): _*)
    val viaExpr = sh.select(col("doc_id"),
      graft.functions.VectorFunctions.minhash_sig(col("sh"), k).as("sig"))
    val hof = viaHof.collect().map(r => r.getLong(0) ->
      (1 to k).map(i => if (r.isNullAt(i)) null else r.getLong(i))).toMap
    val expr = viaExpr.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(hof.keySet == expr.keySet)
    hof.foreach { case (id, sig) =>
      if (sig.forall(_ == null)) assert(expr(id) == null, s"doc $id: expected null sig")
      else assert(expr(id) == sig, s"doc $id signatures differ")
    }
    // SQL path (covers the parser->expression wiring)
    sh.createOrReplaceTempView("sh_view")
    val viaSql = sh.sparkSession
      .sql(s"SELECT doc_id, minhash_sig(sh, $k) AS sig FROM sh_view")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Long](1))).toMap
    assert(viaSql == expr)
  }

  test("exactDedup: dup_count sums to corpus size, canonical is min id per group") {
    val docs = (0 until 50).map(i => (i.toLong, s"text-${i % 17}")).toDF("doc_id", "text")
    val out = TextOps.exactDedup(docs, "doc_id", "text")
      .select("canonical_id", "dup_count").as[(Long, Long)].collect()
    assert(out.map(_._2).sum == 50)
    assert(out.length == 17)
    // canonical of group g is the smallest id with that text: g itself
    assert(out.map(_._1).sorted.toSeq == (0L until 17L))
  }

  test("topKPerGroup returns the true top-k with dense ranks 1..k") {
    val rows = for {
      g <- 0 until 10; m <- 0 until 20
      n = 1 + ((g * 7 + m * 13) % 29)
      r <- 0 until n
    } yield (s"g$g", s"m$m")
    val counted = rows.toDF("g", "m").groupBy("g", "m").agg(count(lit(1)).as("cnt"))
    val top = Relational.topKPerGroup(counted, Seq("g"), Seq(col("cnt").desc, col("m").asc), 3)
      .select("g", "m", "cnt", "rank").as[(String, String, Long, Int)].collect()
    val byG = top.groupBy(_._1)
    assert(byG.size == 10)
    byG.foreach { case (g, items) =>
      assert(items.map(_._4).sorted.toSeq == Seq(1, 2, 3), s"ranks wrong for $g")
      // brute-force expected top-3
      val expected = (0 until 20).map(m => (s"m$m", 1L + ((g.drop(1).toInt * 7 + m * 13) % 29)))
        .sortBy { case (m, c) => (-c, m) }.take(3).map(_._2)
      assert(items.sortBy(_._4).map(_._3).toSeq == expected, s"top-3 counts wrong for $g")
    }
  }

  test("capacityLedger confirms exactly min(capacity, n) per key") {
    val rows = for (k <- 0 until 8; i <- 0 until (k * 3 % 11) + 1)
      yield (s"k$k", i.toLong)
    val df = rows.toDF("key", "seq")
    val out = Relational.capacityLedger(df, "key", Seq(col("seq").asc), lit(5))
      .select("key", "status").as[(String, String)].collect()
    out.groupBy(_._1).foreach { case (k, vs) =>
      val n = vs.length
      val confirmed = vs.count(_._2 == "CONFIRMED")
      assert(confirmed == math.min(5, n), s"$k: $confirmed confirmed of $n")
    }
  }
}
