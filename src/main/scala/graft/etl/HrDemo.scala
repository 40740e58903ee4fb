package graft.etl

import java.sql.Date

/** CLI surface for the HR pipeline (the reference's `python scripts/main.py`
  * equivalent): reads the five raw CSVs, builds the star schema + DQ checks,
  * writes CSV and parquet outputs, prints the insight report.
  *
  * Usage: runMain graft.etl.HrDemo <rawCsvDir> <outDir> [asOf yyyy-MM-dd]
  */
object HrDemo {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: HrDemo <rawCsvDir> <outDir> [asOf yyyy-MM-dd]")
    val Array(rawDir, outDir) = args.take(2)
    val asOf = Date.valueOf(args.lift(2).getOrElse("2026-01-01"))
    val spark = graft.Session.get(HrEntryPoints.master)

    val missing = Seq("employees", "departments", "performance_reviews",
      "projects", "project_assignments")
      .filterNot(t => new java.io.File(s"$rawDir/$t.csv").exists())
    require(missing.isEmpty, s"missing raw inputs: ${missing.mkString(", ")}")

    val out = HrPipeline.build(spark,
      HrPipeline.readCsv(spark, rawDir, "employees"),
      HrPipeline.readCsv(spark, rawDir, "departments"),
      HrPipeline.readCsv(spark, rawDir, "performance_reviews"),
      HrPipeline.readCsv(spark, rawDir, "projects"),
      HrPipeline.readCsv(spark, rawDir, "project_assignments"), asOf)

    val report = try {
      HrPipeline.writeCsv(out, s"$outDir/csv")
      HrPipeline.writeParquet(out, s"$outDir/parquet")
      println(HrValidate.dqStats(out.dqChecks).collect()(0))
      HrReport.summaryReport(spark, out.summaryDeptMetrics,
        out.summaryEmpPerformance, out.projectWorkload)
    } finally out.unpersist()
    println(report)
    // the reference writes the report as a text file too
    // (reference reporting.py:13,120-121)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/etl_summary_report.txt"), report)
    spark.stop()
  }
}
