package perfbench

import java.nio.file.{Files, Path}
import java.sql.{Date, DriverManager}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.etl.{HrPipeline, HrReport, HrValidate}

/** The paper's pipeline, called the way `graft.etl.HrDemo` calls it, plus
  * the JDBC sink and its indexes: stage, build (eager data-quality checks),
  * DQ stats, CSV, parquet and JDBC sinks, indexes, report.
  *
  * The JDBC target is an embedded in-memory Derby database. It lives as long
  * as the JVM, so every timed pass runs the reference's idempotent re-load:
  * truncate and insert into existing tables, whose indexes already exist.
  */
final class HrEtl(spark: SparkSession) extends Workload {
  import HrEtl._

  val name = "hr_etl"
  val opSpan = "pass"

  private var data: HrGen.Data = _
  private var expect: HrGen.Expected = _
  private var rawDir: Path = _
  /** Staged CSV bytes, the same on every pass of a run. */
  private var stagedBytes = 0L
  private var sinkBytesPerRow = Double.NaN

  def setUp(dir: Path, seed: Long): Unit = {
    data = HrGen.generate(seed, Scale)
    rawDir = dir.resolve("raw")
    HrGen.write(data, rawDir)
    expect = HrGen.expected(data)
  }

  def storedBytesPerRow: Double = sinkBytesPerRow

  def pass(tr: Tracer, dir: Path): Workload.Pass = {
    val staging = dir.resolve("staging").toString
    val out = dir.resolve("out")
    val (outputs, dq, report) = tr.span("pass", op = true) {
      tr.span("etl.stage")(HrPipeline.stage(spark, rawDir.toString, staging))
      val o = tr.span("etl.build") {
        def csv(t: String) = HrPipeline.readCsv(spark, staging, t)
        HrPipeline.build(spark, csv("employees"), csv("departments"),
          csv("performance_reviews"), csv("projects"), csv("project_assignments"), AsOf)
      }
      val stats = tr.span("etl.dq_stats")(HrValidate.dqStats(o.dqChecks).collect()(0))
      tr.span("etl.sink_csv")(HrPipeline.writeCsv(o, out.resolve("csv").toString))
      tr.span("etl.sink_parquet")(HrPipeline.writeParquet(o, out.resolve("parquet").toString))
      tr.span("etl.sink_jdbc")(HrPipeline.writeJdbc(o, JdbcUrl, User, Password, None))
      tr.span("etl.sink_index")(HrPipeline.createIndexes(JdbcUrl,
        Map("user" -> User, "password" -> Password)))
      val text = tr.span("etl.report")(HrReport.summaryReport(spark,
        o.summaryDeptMetrics, o.summaryEmpPerformance, o.projectWorkload))
      (o, stats, text)
    }

    val failures = Seq.newBuilder[String]
    val got = outputs.dqChecks.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
    if (got != expect.checks)
      failures += s"dq checks differ: got ${diffMaps(got, expect.checks)}"
    val nChecks = expect.checks.size.toLong
    val nFailed = expect.checks.values.count(_ > 0).toLong
    if (dq.getLong(0) != nChecks || dq.getLong(1) != nChecks - nFailed ||
        dq.getLong(2) != nFailed)
      failures += s"dq stats $dq, expected ($nChecks, ${nChecks - nFailed}, $nFailed)"
    val conn = DriverManager.getConnection(JdbcUrl, User, Password)
    try expect.sinkRows.foreach { case (table, rows) =>
      val csvRows = csvRowCount(out.resolve("csv").resolve(table))
      val pqRows = parquetRowCount(out.resolve("parquet").resolve(table))
      val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $table")
      rs.next()
      val dbRows = rs.getLong(1)
      if (csvRows != rows || pqRows != rows || dbRows != rows)
        failures += s"$table rows csv=$csvRows parquet=$pqRows jdbc=$dbRows, expected $rows"
    } finally conn.close()
    if (!report.startsWith("HR ANALYTICS SUMMARY") || report.contains("n/a"))
      failures += s"incomplete report:\n$report"

    stagedBytes = Workload.bytesUnder(dir.resolve("staging"), _.endsWith(".csv"))
    sinkBytesPerRow = Workload.bytesUnder(out.resolve("parquet"), _.endsWith(".parquet"))
      .toDouble / expect.sinkRows.values.sum
    Workload.deleteTree(dir.resolve("staging"))
    Workload.deleteTree(out)
    Workload.Pass(failures.result(), data.rows)
  }

  override def layerValues(tr: Tracer, work: Map[Int, Tracer.Work]): Map[String, Double] = {
    val traced = tr.named("pass").filter(_.traced)
    val builds = tr.named("etl.build").filter(_.traced)
    Map(
      "etl.build_jobs" -> Workload.median(builds.map(s =>
        work.get(s.id).map(_.jobs.toDouble).getOrElse(0.0))),
      "etl.read_amp" -> Workload.median(traced.map(s =>
        work.get(s.id).map(_.input.toDouble).getOrElse(0.0) / stagedBytes)))
  }
}

object HrEtl {
  /** Multiple of the reference data's row mix (85 rows). */
  val Scale = 25
  val AsOf: Date = Date.valueOf("2026-01-01")
  val JdbcUrl = "jdbc:derby:memory:perfbench_hr;create=true"
  val User = "bench"
  val Password = "bench"

  private def diffMaps(got: Map[(String, String, String), Long],
                       want: Map[(String, String, String), Long]): String =
    (got.keySet ++ want.keySet).toSeq.sortBy(_.toString)
      .filter(k => got.get(k) != want.get(k))
      .map(k => s"$k=${got.get(k).getOrElse("-")} (want ${want.get(k).getOrElse("-")})")
      .mkString("; ")

  /** Data rows of a CSV sink directory: every part file's lines but its
    * header. */
  def csvRowCount(dir: Path): Long =
    filesIn(dir, ".csv").map { f =>
      val lines = Files.lines(f)
      try math.max(0L, lines.count() - 1L) finally lines.close()
    }.sum

  /** Rows of a parquet sink directory, from the footers. */
  def parquetRowCount(dir: Path): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    filesIn(dir, ".parquet").map { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f.toUri), conf))
        try reader.getRecordCount finally reader.close()
      }.sum
  }

  private def filesIn(dir: Path, suffix: String): Seq[Path] = {
    val files = Files.list(dir)
    try files.iterator().asScala.filter(_.getFileName.toString.endsWith(suffix)).toList
    finally files.close()
  }
}
