package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, Limit, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.adaptive.{LogicalQueryStage, ShuffleQueryStageExec}
import org.apache.spark.sql.internal.SQLConf
import graft.functions.{MinHashSig, MortonInterleave, Shingles, SimHash16, SimHashSig, TopKByCount, VecArgminCell, VecDot}

/** SparkSessionExtensions entry point: registers graft's custom Catalyst
  * expressions as SQL functions, so `spark.sql("SELECT vec_dot(a, b)")`
  * works next to the Column API, and adds the [[SmallSort]] runtime rule.
  * [[Engine.session]] installs it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.vecDot)
    ext.injectFunction(GraftExtensions.simhash16)
    ext.injectFunction(GraftExtensions.minhashSig)
    ext.injectFunction(GraftExtensions.shingles)
    ext.injectFunction(GraftExtensions.simhashSig)
    ext.injectFunction(GraftExtensions.vecArgminCell)
    ext.injectFunction(GraftExtensions.topKByCount)
    ext.injectFunction(GraftExtensions.mortonInterleave)
    ext.injectRuntimeOptimizerRule(_ => SmallSort)
  }
}

/** Adaptive-execution rule: a global sort whose input has been measured to
  * fit one advisory partition (`spark.sql.adaptive.advisoryPartitionSizeInBytes`)
  * sorts in one task, `Sort(global = false, Repartition(1, shuffle = false, ..))`.
  * That plans no range exchange, so the query skips the exchange's
  * boundary-sampling job and its stage. The total order is the same at any
  * size; the threshold only decides when one task is cheaper.
  *
  * AQE runs the rule each time a query stage materializes, before it plans
  * the stages above, so the range exchange is not yet created when it
  * fires. The size is trusted only when every path below the sort ends in a
  * materialized stage and passes no `Generate` and no join other than a
  * semi or anti join:
  *   - a scan's size is its compressed file size;
  *   - Spark sizes an explode like its input;
  *   - Spark sizes a join as the product of its inputs' sizes, and a
  *     broadcast side's size changes once its broadcast stage exists, so
  *     the decision would follow the order in which stages finish.
  * A semi or anti join is sized as its left side, which bounds it.
  */
object SmallSort extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    // a sort under a limit plans as a top-k (TakeOrderedAndProject), which
    // has no range exchange to remove
    val topK = plan.collect {
      case Limit(_, s: Sort) => s
      case Limit(_, Project(_, s: Sort)) => s
    }
    plan.transformDown {
      case s @ Sort(_, true, child, _) if !topK.exists(_ eq s) && !rangeStage(child) &&
          measured(child) &&
          child.stats.sizeInBytes <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) =>
        s.copy(global = false, child = Repartition(1, shuffle = false, child))
    }
  }

  private def measured(p: LogicalPlan): Boolean = p match {
    case stage: LogicalQueryStage => stage.isMaterialized
    case _: Generate => false
    case j: Join if j.joinType != LeftSemi && j.joinType != LeftAnti => false
    case _ => p.children.nonEmpty && p.children.forall(measured)
  }

  /** The sort's own range exchange has already run: AQE links that stage to
    * the sort's child, and one task would only sort its output again. */
  private def rangeStage(p: LogicalPlan): Boolean = p match {
    case stage: LogicalQueryStage => stage.physicalPlan.exists {
      case s: ShuffleQueryStageExec => s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }
    case _ => false
  }
}

object GraftExtensions {
  /** Evaluate an INT parameter that must be known at plan time. Accepts any
    * FOLDABLE integral expression — `3`, `1+2`, `CAST(3 AS INT)`, a long
    * literal — by constant-folding it here (the optimizer's folding runs
    * AFTER function resolution, so a builder that pattern-matches only a
    * bare `Literal(_: Int, _)` rejects expressions SQL users legitimately
    * write). */
  private def foldableInt(e: Expression, what: String): Int = {
    if (!e.foldable)
      throw new IllegalArgumentException(
        s"$what must be a constant integer expression, got $e")
    e.eval(org.apache.spark.sql.catalyst.InternalRow.empty) match {
      case i: Int => i
      case l: Long if l.isValidInt => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$what must fold to an integer, got $other")
    }
  }

  val vecDot: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_dot"),
    new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
    (children: Seq[Expression]) => {
      if (children.length != 2)
        throw new IllegalArgumentException(
          s"vec_dot requires exactly 2 arguments, got ${children.length}")
      VecDot(children(0), children(1))
    })

  val vecArgminCell: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("vec_argmin_cell"),
    new ExpressionInfo(classOf[VecArgminCell].getName, "vec_argmin_cell"),
    (children: Seq[Expression]) => {
      if (children.length != 3)
        throw new IllegalArgumentException(
          s"vec_argmin_cell requires (vec, self_dot, centroids), got ${children.length} args")
      VecArgminCell(children(0), children(1), children(2))
    })

  val topKByCount: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("top_k_by_count"),
    new ExpressionInfo(classOf[TopKByCount].getName, "top_k_by_count"),
    (children: Seq[Expression]) => {
      if (children.length != 2)
        throw new IllegalArgumentException(
          s"top_k_by_count requires (struct<cnt, key>, k), got ${children.length} args")
      TopKByCount(children.head, foldableInt(children(1), "top_k_by_count k"))
        .toAggregateExpression()
    })

  val mortonInterleave: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("morton_interleave"),
    new ExpressionInfo(classOf[MortonInterleave].getName, "morton_interleave"),
    (children: Seq[Expression]) => {
      if (children.length != 2)
        throw new IllegalArgumentException(
          s"morton_interleave requires exactly 2 arguments, got ${children.length}")
      MortonInterleave(children(0), children(1))
    })

  val simhash16: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash16"),
    new ExpressionInfo(classOf[SimHash16].getName, "simhash16"),
    (children: Seq[Expression]) => {
      if (children.length != 1)
        throw new IllegalArgumentException(
          s"simhash16 requires exactly 1 argument, got ${children.length}")
      SimHash16(children.head)
    })

  val minhashSig: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash_sig"),
    new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
    (children: Seq[Expression]) => {
      if (children.length != 2)
        throw new IllegalArgumentException(
          s"minhash_sig requires (array<string>, numHashes), got ${children.length} args")
      MinHashSig(children.head, foldableInt(children(1), "minhash_sig numHashes"))
    })

  val simhashSig: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_sig"),
    new ExpressionInfo(classOf[SimHashSig].getName, "simhash_sig"),
    (children: Seq[Expression]) => {
      if (children.length != 2)
        throw new IllegalArgumentException(
          s"simhash_sig requires (array<string>, nBits), got ${children.length} args")
      SimHashSig(children.head, foldableInt(children(1), "simhash_sig nBits"))
    })

  val shingles: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("shingles"),
    new ExpressionInfo(classOf[Shingles].getName, "shingles"),
    (children: Seq[Expression]) => {
      if (children.length != 2)
        throw new IllegalArgumentException(
          s"shingles requires (array<string>, n), got ${children.length} args")
      Shingles(children.head, foldableInt(children(1), "shingles n"))
    })
}
