package graft.etl

import java.sql.Date

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference ships THREE runnable orchestrations over the same stages;
  * [[HrDemo]] covers the first (main.py: extract -> transform -> validate
  * -> load -> report). This file adds the other two as thin CLIs over the
  * same library code:
  *
  *  - [[HrTransformDemo]] — reference transform.py:212-305 (`__main__`):
  *    transform + validate with console previews of the three summary
  *    tables; no load, no report file.
  *  - [[HrLoadDemo]] — reference load.py:88-181 (`run_load_process`):
  *    transform + processed-zone CSV export + JDBC truncate-load +
  *    sink-side indexes; NO report.
  */
object HrEntryPoints {

  private[etl] def readAll(spark: SparkSession, dir: String, asOf: Date)
      : HrPipeline.Outputs =
    HrPipeline.build(spark,
      HrPipeline.readCsv(spark, dir, "employees"),
      HrPipeline.readCsv(spark, dir, "departments"),
      HrPipeline.readCsv(spark, dir, "performance_reviews"),
      HrPipeline.readCsv(spark, dir, "projects"),
      HrPipeline.readCsv(spark, dir, "project_assignments"), asOf)

  /** `SPARK_MASTER` if set (a deployment address), else the local default. */
  private[etl] def master: String =
    sys.env.getOrElse("SPARK_MASTER", s"local[${graft.Session.cpus}]")
}

/** Entry point 2 — transform + validate with previews (reference
  * transform.py:212-305). The reference reads the STAGING zone
  * (data/extractRawFiles, written by extract.py's `__main__` =
  * [[HrPipeline.stage]]), validates each cleaned table, and prints a
  * 3-row preview + row count of each summary table.
  *
  * Usage: runMain graft.etl.HrTransformDemo <stagedCsvDir> [asOf yyyy-MM-dd]
  */
object HrTransformDemo {

  /** Builds the preview text; separated from main() so the spec can smoke
    * it on an existing session. */
  def run(spark: SparkSession, stagedDir: String, asOf: Date): String = {
    val out = HrEntryPoints.readAll(spark, stagedDir, asOf)
    try preview(out) finally out.unpersist()
  }

  private def preview(out: HrPipeline.Outputs): String = {
    val sb = new StringBuilder
    val stats = HrValidate.dqStats(out.dqChecks).collect()(0)
    sb ++= s"validation: ${stats.getAs[Long]("passed")} passed, " +
      s"${stats.getAs[Long]("failed")} failed\n"
    // per-check detail, like the reference's per-table issue lines
    out.dqChecks.filter(org.apache.spark.sql.functions.col("violations") > 0)
      .collect().foreach { r =>
        sb ++= s"  - ${r.getAs[String]("table_name")}." +
          s"${r.getAs[String]("check_name")}(${r.getAs[String]("detail")}): " +
          s"${r.getAs[Long]("violations")} violations\n"
      }
    Seq[(String, DataFrame)](
      "dept_summary" -> out.summaryDeptMetrics,
      "emp_performance" -> out.summaryEmpPerformance,
      "project_workload" -> out.projectWorkload).foreach { case (name, df) =>
      val head = df.limit(3).collect()
      sb ++= s"[$name] ${df.count()} rows\n"
      head.foreach(r => sb ++= s"  $r\n")
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: HrTransformDemo <stagedCsvDir> [asOf yyyy-MM-dd]")
    val asOf = Date.valueOf(args.lift(1).getOrElse("2026-01-01"))
    val spark = graft.Session.get(HrEntryPoints.master)
    println(run(spark, args(0), asOf))
    spark.stop()
  }
}

/** Entry point 3 — transform + load, no report (reference
  * load.py:88-181): build the star schema from the staging zone, export
  * the six aligned tables to a processed-zone CSV dir, then (when a JDBC
  * URL is given) truncate-load them and create the reference's four FK
  * indexes on the sink.
  *
  * Usage: runMain graft.etl.HrLoadDemo <stagedCsvDir> <outDir>
  *          [asOf yyyy-MM-dd] [jdbcUrl]
  */
object HrLoadDemo {

  def run(spark: SparkSession, stagedDir: String, outDir: String, asOf: Date,
          jdbcUrl: Option[String] = None,
          jdbcOptions: Map[String, String] = Map.empty): Unit = {
    val out = HrEntryPoints.readAll(spark, stagedDir, asOf)
    try {
      // processed-zone export (reference load.py:146-153) — the same six
      // aligned tables the JDBC load ships
      HrPipeline.writeCsv(out, s"$outDir/processed")
      jdbcUrl.foreach { url =>
        HrPipeline.tables(out).foreach { case (name, df) =>
          HrPipeline.writeJdbcTable(df, name, url, jdbcOptions)
        }
        HrPipeline.createIndexes(url, jdbcOptions)
      }
    } finally out.unpersist()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: HrLoadDemo <stagedCsvDir> <outDir> [asOf yyyy-MM-dd] [jdbcUrl]")
    val asOf = Date.valueOf(args.lift(2).getOrElse("2026-01-01"))
    val spark = graft.Session.get(HrEntryPoints.master)
    run(spark, args(0), args(1), asOf, args.lift(3))
    spark.stop()
  }
}
