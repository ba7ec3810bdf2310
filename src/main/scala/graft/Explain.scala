package graft

/** Plan-audit main: print the formatted physical plan for the named catalog
  * queries (all queries if no names given). Usage:
  *   sbt "runMain graft.Explain <sfDir> [name ...]"
  * What to look for (the checklist SURVEY §4 commits us to):
  *   - PushedFilters / ReadSchema on every parquet scan (pushdown + pruning)
  *   - BroadcastHashJoin on dimension sides; SortMergeJoin only fact-fact
  *   - WholeStageCodegen spans covering the hot expressions
  *   - no unexpected Exchange (shuffle) nodes
  * With AQE on this is the initial plan, planned before any stage runs: a
  * range exchange that [[SmallSort]] removes at run time still shows here.
  * The executed plan (`queryExecution.executedPlan` after an action) shows
  * the final one.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val queries = Run.named(SparkEntry.queries,
      if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted)
    val spark = Engine.session("graft-explain")
    queries.foreach { case (n, q) =>
      println(s"\n========== $n ==========")
      q(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
