package graft

/** Plan inspection: `runMain graft.Explain <sfDir> [query ...]` prints the
  * formatted physical plan per query — used to verify predicate pushdown
  * (PushedFilters), column pruning (ReadSchema), broadcast joins, and
  * WholeStageCodegen spans (SURVEY.md §4; builder prompt "explain and
  * iterate"). */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("a1_groupby_aggs", "j1_join_inner", "o3_topk", "l3_cosine_topk")
    val spark = GraftSession()
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
