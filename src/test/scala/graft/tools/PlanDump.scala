package graft.tools

/** Debug tool: print a query's executed plan (truncated lines) —
  * `Test/runMain graft.tools.PlanDump <queryName> [sfDir]`. Exists
  * because the sbt console can't execute queries whose construction
  * eagerly collects (REPL classloader quirk, SCALING.md round-14 #4);
  * a forked test-scope main can. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_emb_pq_codes")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = graft.Session.get()
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize AQE so WholeStageCodegen markers appear
    println("=== PLAN " + name)
    df.queryExecution.executedPlan.toString.linesIterator
      .foreach(l => println(l.take(140)))
    println("=== END")
    spark.stop()
  }
}
