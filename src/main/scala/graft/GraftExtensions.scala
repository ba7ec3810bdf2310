package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join, Limit, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.LogicalRDD
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
    ext.injectOptimizerRule(_ => SmallSort)
    ext.injectRuntimeOptimizerRule(_ => SmallSort)
  }
}

/** Optimizer and adaptive-execution rule: a global sort whose input has
  * been measured to fit one advisory partition
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`) sorts in one task,
  * `Sort(global = false, Repartition(1, shuffle = false, ..))`. That plans
  * no range exchange, so the query skips the exchange's boundary-sampling
  * job and its stage. The total order is the same at any size; the
  * threshold only decides when one task is cheaper.
  *
  * AQE runs the rule each time a query stage materializes, before it plans
  * the stages above, so the range exchange is not yet created when it
  * fires. The optimizer runs it once more before any stage exists, which
  * decides a sort whose input has no exchange below it (a materialized
  * frame sorted as it is), whose range exchange would otherwise be AQE's
  * first stage. The size is trusted only when every path below the sort
  * ends in a materialized stage or a materialized frame and passes no
  * `Generate` and no join other than a semi or anti join:
  *   - a materialized frame ([[org.apache.spark.sql.GraftMaterialize]])
  *     reports its measured row count times its schema's row width, fixed
  *     when the frame is created, so the decision cannot depend on which
  *     stage finishes first;
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
    case _: LogicalRDD => true
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

  /** One SQL function registration: `name` resolves to `cls`'s expression,
    * built from exactly `arity` arguments; any other count fails with
    * `s"$name requires " + usage.format(count)`. */
  private def function(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      if (children.length != arity)
        throw new IllegalArgumentException(s"$name requires " + usage.format(children.length))
      build(children)
    })

  val vecDot = function("vec_dot", classOf[VecDot], 2,
    "exactly 2 arguments, got %d")(c => VecDot(c(0), c(1)))

  val vecArgminCell = function("vec_argmin_cell", classOf[VecArgminCell], 3,
    "(vec, self_dot, centroids), got %d args")(c => VecArgminCell(c(0), c(1), c(2)))

  val topKByCount = function("top_k_by_count", classOf[TopKByCount], 2,
    "(struct<cnt, key>, k), got %d args")(c =>
    TopKByCount(c(0), foldableInt(c(1), "top_k_by_count k")).toAggregateExpression())

  val mortonInterleave = function("morton_interleave", classOf[MortonInterleave], 2,
    "exactly 2 arguments, got %d")(c => MortonInterleave(c(0), c(1)))

  val simhash16 = function("simhash16", classOf[SimHash16], 1,
    "exactly 1 argument, got %d")(c => SimHash16(c(0)))

  val minhashSig = function("minhash_sig", classOf[MinHashSig], 2,
    "(array<string>, numHashes), got %d args")(c =>
    MinHashSig(c(0), foldableInt(c(1), "minhash_sig numHashes")))

  val simhashSig = function("simhash_sig", classOf[SimHashSig], 2,
    "(array<string>, nBits), got %d args")(c =>
    SimHashSig(c(0), foldableInt(c(1), "simhash_sig nBits")))

  val shingles = function("shingles", classOf[Shingles], 2,
    "(array<string>, n), got %d args")(c => Shingles(c(0), foldableInt(c(1), "shingles n")))
}
