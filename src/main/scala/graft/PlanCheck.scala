package graft

/** Prints formatted physical plans for selected queries so scan pruning
  * (ReadSchema / PushedFilters), join strategies (BroadcastHashJoin vs
  * SortMergeJoin), and WholeStageCodegen spans can be audited.
  *
  * Usage: runMain graft.PlanCheck [sfDir] [queryName...]
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q_scan_project", "q_agg_dept_summary", "q_join_left_enrich",
        "q_anti_fk", "q_topk", "q_dedup_keyed")
    val spark = Session.get()
    names.foreach { n =>
      println(s"\n===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
