package graft.functions

import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

// Every expression here writes its kernel ONCE, as a method of its
// companion object (MortonInterleave's pattern): nullSafeEval calls it,
// and doGenCode emits one static call to it, so the expression stays
// inside WholeStageCodegen (CodegenFallback would break the stage) with
// no second, hand-written Java copy of the loop to keep in step.

/** Codegen'd dot product over two `array<double>` columns.
  *
  * The `functions.aggregate`/`zip_with` formulation is a higher-order
  * function — CodegenFallback, interpreted, with per-element lambda-closure
  * overhead; at ~1e6 pairs × 64 dims that interpretation dominates entire
  * query runtimes. This expression is one static call inside whole-stage
  * codegen (~50× on the similarity benchmarks).
  *
  * Summation is strictly left-to-right (`acc += a[i]*b[i]`), the exact
  * operation order of both the previous fold AND DuckDB's
  * `list_dot_product`, so oracle hash-matches are preserved bit-for-bit.
  *
  * Null ELEMENTS inside the arrays are not supported (embedding vectors are
  * dense); null arrays propagate null via BinaryExpression's default
  * null-intolerant eval.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is private[sql] in Spark 4, so enforce the contract
  // via checkInputDataTypes: without it, an int array would be read with
  // getDouble at wrong offsets — silent garbage, not an error
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.VecDot.dot($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot = copy(newLeft, newRight)
}

object VecDot {
  /** Left-to-right dot product over the common prefix of `xs` and `ys`. */
  def dot(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    acc
  }
}

/** Codegen'd 16-bit SimHash over an `array<int>` of per-token hashes.
  *
  * Semantics (bit j set iff Σ over tokens of ±1 votes ≥ 0) are pure integer
  * math — identical to the 16-pass higher-order-function formulation and to
  * the DuckDB oracle, but computed in one tight loop instead of 16
  * interpreted `transform`+`aggregate` passes per row.
  */
case class SimHash16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash16 requires array<int>, got ${t.simpleString}")
  }

  override def dataType: DataType = IntegerType
  override def prettyName: String = "simhash16"

  override def nullSafeEval(a: Any): Any = SimHash16.simhash16(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.SimHash16.simhash16($a);")

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(newChild)
}

object SimHash16 {
  def simhash16(xs: ArrayData): Int = {
    val sums = new Array[Int](16)
    var i = 0
    val n = xs.numElements()
    while (i < n) {
      val v = xs.getInt(i)
      var j = 0
      while (j < 16) {
        sums(j) += (if (((v >> j) & 1) == 1) 1 else -1)
        j += 1
      }
      i += 1
    }
    var out = 0
    var j = 0
    while (j < 16) {
      if (sums(j) >= 0) out |= (1 << j)
      j += 1
    }
    out
  }
}

/** The shared base hash of [[MinHashSig]] and [[SimHashSig]]: the first 4
  * md5 digest bytes of a string, read big-endian-unsigned — exactly
  * `conv(substring(md5(s), 1, 8), 16, 10)`. */
private[functions] object Md5Prefix {
  def hash32(s: UTF8String): Long = {
    val d = DigestUtils.md5(s.getBytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

/** Codegen'd MinHash signature over an `array<string>` of shingles: one
  * md5 per element, then `numHashes` universal-hash derivations
  * `(a_i·h + b_i) mod P` folded into running minimums — all in ONE pass.
  *
  * Replaces a 17-pass higher-order-function pipeline (one `transform` for
  * the base hashes + numHashes × `array_min(transform(...))`), every pass
  * interpreted (HOFs are CodegenFallback) with the md5 cost paid through
  * the interpreted expression path. Semantics are bit-identical: the base
  * hash is [[Md5Prefix]], and (a_i, b_i, P) come from
  * [[graft.operators.TextOps]] so Scala, SQL and the DuckDB oracle stay in
  * lockstep.
  *
  * Returns null for an empty array (no shingles → no signature), matching
  * `array_min(transform(empty))` = null: downstream band keys
  * null-propagate and never join. Null ELEMENTS are skipped — the exact
  * semantics of the reference HOF path, where `conv(md5(null))` is null
  * and `array_min` ignores nulls — so an all-null array is also null.
  * (Internal callers feed non-null shingle arrays; the skip matters for
  * the registered SQL surface, where containsNull inputs are legal.)
  */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, false)
  override def prettyName: String = "minhash_sig"
  override def nullable: Boolean = true

  private lazy val aCoef: Array[Long] =
    Array.tabulate(numHashes)(graft.operators.TextOps.minhashA)
  private lazy val bCoef: Array[Long] =
    Array.tabulate(numHashes)(graft.operators.TextOps.minhashB)

  override def nullSafeEval(a: Any): Any =
    MinHashSig.signature(a.asInstanceOf[ArrayData], aCoef, bCoef)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", aCoef, "long[]")
    val bRef = ctx.addReferenceObj("mhB", bCoef, "long[]")
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = graft.functions.MinHashSig.signature($a, $aRef, $bRef);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Per-coefficient minimum of `(a(j)·h + b(j)) mod P` over the non-null
    * elements' base hashes; null when no element contributed. */
  def signature(xs: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val n = xs.numElements()
    val k = a.length
    val mins = Array.fill(k)(Long.MaxValue)
    var contributed = false
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        contributed = true
        val h = Md5Prefix.hash32(xs.getUTF8String(i))
        var j = 0
        while (j < k) {
          val v = (h * a(j) + b(j)) % graft.operators.TextOps.MinhashP
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (contributed) new GenericArrayData(mins) else null
  }
}

/** Codegen'd wide SimHash signature over an `array<string>` of shingles:
  * one md5 per element (the same [[Md5Prefix]] base hash as
  * [[MinHashSig]], `('0x' || substr(md5(x), 1, 8))::BIGINT` on the oracle
  * side), each element voting ±1 on the low `nBits` bits of its base hash,
  * positive sums setting the output bit — ONE pass over the array.
  *
  * This is the discriminative simhash the dedup pipeline bands on:
  * [[SimHash16]] over per-token hashes is the compact per-doc fingerprint
  * (d4), but 16 bits saturate at corpus scale — a pair-search needs the
  * wider signature over shingles (d5). `nBits` ≤ 32 because the base hash
  * has 32 bits of entropy.
  *
  * Null handling mirrors [[MinHashSig]]: null elements are skipped, an
  * empty or all-null array yields a NULL signature — downstream band bits
  * null-propagate and never equi-join, so shingle-less docs drop out of
  * pair search on both engines.
  */
case class SimHashSig(child: Expression, nBits: Int) extends UnaryExpression {
  require(nBits >= 1 && nBits <= 32, s"simhash width must be in [1,32], got $nBits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any): Any = SimHashSig.signature(a.asInstanceOf[ArrayData], nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sig = ctx.freshName("sig")
    nullSafeCodeGen(ctx, ev, a =>
      s"""java.lang.Long $sig = graft.functions.SimHashSig.signature($a, $nBits);
         |${ev.isNull} = $sig == null;
         |if (!${ev.isNull}) ${ev.value} = $sig.longValue();""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  /** The `nBits`-bit simhash of the non-null elements' base hashes; null
    * when no element contributed. */
  def signature(xs: ArrayData, nBits: Int): java.lang.Long = {
    val n = xs.numElements()
    val sums = new Array[Int](nBits)
    var contributed = false
    var i = 0
    while (i < n) {
      if (!xs.isNullAt(i)) {
        contributed = true
        val h = Md5Prefix.hash32(xs.getUTF8String(i))
        var j = 0
        while (j < nBits) {
          sums(j) += (if (((h >> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    if (!contributed) null
    else {
      var out = 0L
      var j = 0
      while (j < nBits) {
        if (sums(j) >= 0) out |= (1L << j)
        j += 1
      }
      out
    }
  }
}

/** Codegen'd distinct n-token shingles over an `array<string>` token
  * column: one pass building each window with `UTF8String.concatWs` and
  * deduplicating through an insertion-ordered set.
  *
  * Replaces `array_distinct(transform(sequence(1, size-n+1), i ->
  * concat_ws(" ", element_at(toks, i), ...)))` — interpreted (HOF), with a
  * sequence-array allocation plus n boxed element_at calls per window, and
  * a second full dedup pass. Semantics: identical string multiset →
  * first-occurrence-distinct; empty array (not null) when the text is
  * shorter than n tokens, matching the `when(size >= n, ...)` guard and
  * DuckDB's CASE guard. Downstream (MinHash minimums, intersection
  * cardinalities) is order-insensitive, but insertion order is preserved
  * anyway to mirror array_distinct exactly. Token elements must be
  * non-null (they come from `split`).
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingles requires array<string>, got ${t.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, false)
  override def prettyName: String = "shingles"

  override def nullSafeEval(a: Any): Any = Shingles.shingles(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.Shingles.shingles($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {
  private val sep = UTF8String.fromString(" ")

  /** The distinct space-joined `n`-token windows of `xs`, in first-
    * occurrence order. */
  def shingles(xs: ArrayData, n: Int): ArrayData = {
    val total = xs.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i <= total - n) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = xs.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }
}

/** Codegen'd nearest-centroid argmin — the k-means assignment kernel.
  *
  * Input: the vector `v` (array<double>), its precomputed self-dot `dxx`,
  * and the packed centroid table `cents` (array<struct<cluster:int,
  * c:array<double>, dcc:double>>, sorted by cluster id). Output:
  * struct<sq:double, cluster:int> — the minimum squared Euclidean distance
  * ‖v‖² − 2·v·c + ‖c‖² and its cluster, strict `<` so the LOWEST cluster id
  * wins ties; an empty centroid table yields (Double.MaxValue, −1).
  *
  * Null handling (the function is registered as public SQL, so arbitrary
  * input can reach it): a null STRUCT element in the centroid table, a
  * null field inside it, or a null double inside a centroid's `c` array
  * marks that centroid invalid and it is SKIPPED; a table of only invalid
  * entries degenerates to the empty-table result (Double.MaxValue, −1).
  *
  * Bit-for-bit the same float ops in the same order as the
  * `functions.aggregate` fold it replaces (left-to-right dot, then
  * dxx − 2·dot + dcc), so the unrolled-CTE DuckDB oracles keep hashing
  * identically — but in ONE codegen'd call instead of an interpreted
  * higher-order fold whose per-centroid lambda dominates every Lloyd
  * round's assignment pass.
  */
case class VecArgminCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def doubles(t: DataType): Boolean = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    val centsOk = third.dataType match {
      case ArrayType(StructType(Array(c, v, d)), _) =>
        c.dataType == IntegerType && doubles(v.dataType) && d.dataType == DoubleType
      case _ => false
    }
    if (doubles(first.dataType)) {
      if (second.dataType == DoubleType) {
        if (centsOk) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"vec_argmin_cell needs array<struct<int, array<double>, double>> " +
            s"centroids, got ${third.dataType.simpleString}")
      } else TypeCheckResult.TypeCheckFailure(
        s"vec_argmin_cell needs a double self-dot, got ${second.dataType.simpleString}")
    } else TypeCheckResult.TypeCheckFailure(
      s"vec_argmin_cell needs an array<double> vector, got ${first.dataType.simpleString}")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("sq", DoubleType, nullable = false),
    StructField("cluster", IntegerType, nullable = false)))
  override def prettyName: String = "vec_argmin_cell"

  override def nullSafeEval(v: Any, dxx: Any, cents: Any): Any =
    VecArgminCell.argmin(v.asInstanceOf[ArrayData], dxx.asInstanceOf[Double],
      cents.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, dxx, cents) =>
      s"${ev.value} = graft.functions.VecArgminCell.argmin($v, $dxx, $cents);")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): VecArgminCell =
    copy(newFirst, newSecond, newThird)
}

object VecArgminCell {
  /** (sq, cluster) of the valid centroid nearest to `v`, lowest cluster id
    * on ties; (Double.MaxValue, −1) when there is none. */
  def argmin(v: ArrayData, dxx: Double, cents: ArrayData): InternalRow = {
    var bestSq = Double.MaxValue
    var bestCluster = -1
    var j = 0
    while (j < cents.numElements()) {
      if (!cents.isNullAt(j)) {
        val ct = cents.getStruct(j, 3)
        if (!ct.isNullAt(0) && !ct.isNullAt(1) && !ct.isNullAt(2)) {
          val c = ct.getArray(1)
          val n = math.min(v.numElements(), c.numElements())
          var dot = 0.0
          var ok = true
          var i = 0
          while (ok && i < n) {
            if (c.isNullAt(i)) ok = false
            else { dot += v.getDouble(i) * c.getDouble(i); i += 1 }
          }
          if (ok) {
            val sq = dxx - 2.0 * dot + ct.getDouble(2)
            if (sq < bestSq) { bestSq = sq; bestCluster = ct.getInt(0) }
          }
        }
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](bestSq, bestCluster))
  }
}

object VectorFunctions {
  /** Dot product of two array<double> columns (codegen'd). */
  def vec_dot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      VecDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Nearest-centroid (sq, cluster) over a packed centroid-struct array
    * (codegen'd; the k-means assignment kernel). */
  def vec_argmin_cell(v: Column, dxx: Column, cents: Column): Column =
    GraftColumnBridge.column(VecArgminCell(
      GraftColumnBridge.expression(v), GraftColumnBridge.expression(dxx),
      GraftColumnBridge.expression(cents)))

  /** 16-bit SimHash of an array<int> token-hash column (codegen'd). */
  def simhash16(hashes: Column): Column =
    GraftColumnBridge.column(SimHash16(GraftColumnBridge.expression(hashes)))

  /** MinHash signature (array<long> of k mins) of an array<string> shingle
    * column (codegen'd, one pass). */
  def minhash_sig(shingles: Column, numHashes: Int): Column =
    GraftColumnBridge.column(
      MinHashSig(GraftColumnBridge.expression(shingles), numHashes))

  /** Distinct n-token shingles of an array<string> token column
    * (codegen'd, one pass, insertion-ordered dedup). */
  def shingles(tokens: Column, n: Int): Column =
    GraftColumnBridge.column(Shingles(GraftColumnBridge.expression(tokens), n))

  /** Wide (≤32-bit) SimHash signature of an array<string> shingle column
    * (codegen'd, one pass — md5 base hash + bit votes). */
  def simhash_sig(shingles: Column, nBits: Int): Column =
    GraftColumnBridge.column(
      SimHashSig(GraftColumnBridge.expression(shingles), nBits))
}
