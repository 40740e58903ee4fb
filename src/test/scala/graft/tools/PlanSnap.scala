package graft.tools

/** Round-19 deliverable tool: write `.explain("formatted")` output of
  * queries to `plans/r19/<query>_<suffix>.txt` —
  * `Test/runMain graft.tools.PlanSnap <suffix> <q1> [q2 ...]`.
  * Bench-identical session ([[graft.Session.get]]);
  * the plan is the AQE-finalized executed plan after running the
  * query once, matching what the bench actually executes. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanSnap <suffix> <query>...")
    val suffix = args.head
    val names = args.tail.toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.get()
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r20")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.allQueries(name)(spark, dir)
      df.count() // finalize AQE
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        formatted.getBytes("UTF-8"))
      println(s"[plansnap] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
