package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one workload, one client, one run.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *
  * Set-up (timed as `setup_s`) is session start, then [[SetUps]] repetitions
  * of input generation and any read-only build (the median counts), then
  * one warm-up pass. The run then makes passes until `--seconds` have gone,
  * at least one. With `--trace 0` it prints the end-to-end metrics; with
  * `--trace 1` it alternates untraced and traced passes, at least untraced,
  * traced, untraced, and prints the per-layer metrics from the traced ones,
  * plus the traced-minus-untraced pass time as the tracing overhead. The last stdout line is the result as one JSON object;
  * the exit code is 1 when any output check or operation failed.
  */
object Main {
  val SetUps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --key value pairs, got ${other.mkString(" ")}")
    }.toMap
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace")
    require(unknown.isEmpty, s"unknown options: ${unknown.mkString(", ")}")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace takes 0 or 1, got $t")
      })
    require(Workload.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workload.names.mkString(", ")}")
    require(a.seconds >= 1, s"--seconds must be >= 1, got ${a.seconds}")
    a
  }

  def session(cpus: Int, work: Path): SparkSession = {
    // the session graft.Bench builds, with scratch space kept inside `work`
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cpus = Runtime.getRuntime.availableProcessors
    val base = Paths.get(".bench_build").toAbsolutePath
    val work = base.resolve(s"work-${args.workload}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val spark = session(cpus, work)
    val code =
      try run(spark, args, work, base, cpus)
      finally {
        spark.stop()
        Workload.deleteTree(work)
      }
    System.exit(code)
  }

  def run(spark: SparkSession, args: Args, work: Path, base: Path, cpus: Int): Int = {
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val w = Workload(args.workload, spark)
    val setUpS = (1 to SetUps).map { i =>
      val dir = work.resolve(s"input-$i")
      val t0 = System.nanoTime()
      w.setUp(dir, args.seed)
      val s = (System.nanoTime() - t0) / 1e9
      if (i > 1) Workload.deleteTree(work.resolve(s"input-${i - 1}"))
      s
    }
    System.err.println("[perfbench] inputs on disk: " + Workload.bytesUnder(
      work.resolve(s"input-$SetUps"), n => !n.endsWith(".crc")) + " bytes")
    val scratch = work.resolve("scratch")
    var failed = 0L
    var attempted = 0L
    def runPass(tr: Tracer): Option[Workload.Pass] =
      try {
        val p = w.pass(tr, scratch)
        p.failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
        failed += p.failures.size
        Some(p)
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] operation failed: $e")
          e.printStackTrace()
          failed += 1
          attempted += 1
          None
      }

    val warm = new Tracer(spark)
    val warmOk = runPass(warm).isDefined
    val warmS = warm.named("pass").headOption.map(passSeconds(warm, _)).getOrElse(0.0)
    System.err.println("[perfbench] warm-up: " + warm.spans.filter(_.parent >= 0)
      .groupBy(_.name).map { case (n, s) => f"$n ${s.map(_.seconds).sum}%.2f" }.mkString(", "))
    attempted += warm.named(w.opSpan).size
    val setupS = sessionS + Stats.median(setUpS) + warmS

    val tr = new Tracer(spark)
    val passes = scala.collection.mutable.ArrayBuffer.empty[(Tracer.Span, Workload.Pass)]
    val deadline = System.nanoTime() + args.seconds * 1000000000L
    var ok = warmOk
    var i = 0
    // a traced run's overhead compares its traced pass with passes on
    // either side of it
    val minPasses = if (args.trace) 3 else 1
    while (ok && (System.nanoTime() < deadline || i < minPasses)) {
      // traced runs alternate, so both kinds of pass see the same warm state
      tr.tracing = args.trace && i % 2 == 1
      runPass(tr) match {
        case Some(p) => passes += (tr.named("pass").last -> p)
        case None => ok = false
      }
      i += 1
    }
    tr.tracing = false
    attempted += tr.named(w.opSpan).size

    val metrics: Seq[(String, Double, String)] =
      if (passes.isEmpty) Nil
      else if (!args.trace) endToEnd(w, tr, passes.toSeq, setupS)
      else layers(w, tr, passes.toSeq)
    val finite = metrics.forall(m => java.lang.Double.isFinite(m._2))
    if (!finite) System.err.println(s"[perfbench] non-finite metric in $metrics")
    val correct = ok && failed == 0 && passes.nonEmpty && finite

    System.err.println(f"[perfbench] ${args.workload}: ${passes.size} passes on $cpus cores, " +
      f"setup ${setupS}%.3f s (session $sessionS%.3f, inputs ${setUpS.mkString(", ")}, " +
      f"warm-up $warmS%.3f), error_rate ${Stats.errorRate(failed, math.max(1L, attempted))}%.4f")
    if (passes.nonEmpty) {
      val secs = passes.map(p => passSeconds(tr, p._1)).toSeq
      val (q1, q2, q3) = Stats.quartiles(secs)
      System.err.println(f"[perfbench] pass seconds: ${secs.map(x => f"$x%.3f").mkString(" ")}" +
        f" (quartiles $q1%.3f $q2%.3f $q3%.3f)")
    }
    metrics.foreach { case (n, v, u) => System.err.println(f"[perfbench]   $n%-32s $v%14.6f $u") }
    if (args.trace) tr.dump(base.resolve(s"trace-${args.workload}-${args.seed}.jsonl"))

    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (java.lang.Double.isFinite(v)) v.toString else "null"}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  /** A pass's time: the sum of its children, the calls into the library. */
  def passSeconds(tr: Tracer, pass: Tracer.Span): Double =
    tr.spans.filter(_.parent == pass.id).map(_.seconds).sum

  def endToEnd(w: Workload, tr: Tracer, passes: Seq[(Tracer.Span, Workload.Pass)],
               setupS: Double): Seq[(String, Double, String)] = {
    val secs = passes.map(p => passSeconds(tr, p._1))
    val total = secs.sum
    val ops = if (w.opSpan == "pass") secs else tr.seconds(w.opSpan)
    // a tail is reported only where at least 10 samples lie beyond it
    System.err.println(s"[perfbench] ${ops.size} operation samples; op_p90_s " +
      Stats.supportedPercentile(ops, 90).map(v => s"$v s").getOrElse("unsupported") +
      "; highest supported percentile " +
      Stats.highestSupportedPercentile(ops.size).map(p =>
        s"p$p = ${Stats.supportedPercentile(ops, p).get} s").getOrElse("none"))
    Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", Stats.median(secs), "s"),
      ("rows_per_s", passes.map(_._2.rows).sum / total, "rows/s"),
      ("op_p50_s", Stats.median(ops), "s"),
      ("ops_per_s", ops.size / total, "1/s"),
      ("stored_bytes_per_row", w.storedBytesPerRow, "bytes/row"))
  }

  /** Per-layer metrics from the traced passes, with their units. Layers a
    * workload does not touch report 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "etl.stage_s" -> "s", "etl.build_s" -> "s", "etl.build_jobs" -> "count",
    "etl.dq_stats_s" -> "s", "etl.sink_csv_s" -> "s", "etl.sink_parquet_s" -> "s",
    "etl.sink_jdbc_s" -> "s", "etl.sink_index_s" -> "s", "etl.report_s" -> "s",
    "etl.read_amp" -> "ratio",
    "sources.init_s" -> "s", "sources.compact_s" -> "s", "sources.retract_s" -> "s",
    "sources.binpack_s" -> "s", "sources.vacuum_s" -> "s",
    "sources.files_per_commit" -> "count", "sources.commit_jobs" -> "count",
    "sources.commit_driver_s" -> "s", "sources.write_amp" -> "ratio",
    "sources.resolve_s" -> "s", "sources.read_plan_s" -> "s", "sources.read_exec_s" -> "s",
    "sources.files_planned_ratio" -> "ratio", "sources.read_jobs" -> "count") ++
    CorpusDedup.Queries.map(q => s"queries.${q}_s" -> "s") ++ Seq(
    "plans.plan_s" -> "s",
    "spark.jobs" -> "count", "spark.task_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "trace.overhead_s" -> "s")

  def layers(w: Workload, tr: Tracer, passes: Seq[(Tracer.Span, Workload.Pass)])
      : Seq[(String, Double, String)] = {
    val work = tr.work()
    val (traced, plain) = passes.map(_._1).partition(_.traced)
    // a pass's Spark work: the sum over its children, so checks run
    // between calls are not charged to it
    def passWork(p: Tracer.Span): Tracer.Work =
      tr.spans.filter(_.parent == p.id).flatMap(c => work.get(c.id))
        .foldLeft(Tracer.Work())(_ + _)
    def perPass(f: (Tracer.Span, Tracer.Work) => Double) =
      Workload.median(traced.map(p => f(p, passWork(p))))
    def spanMedian(name: String) = Workload.median(tr.named(name).filter(_.traced).map(_.seconds))
    // `<layer>.<call>_s` is the median of the spans named `<layer>.<call>`;
    // the metrics below and the workload's own values override it
    val timed = LayerMetrics.map(_._1).filter(_.endsWith("_s")).map(m =>
      m -> spanMedian(m.stripSuffix("_s"))).toMap
    val common = Map(
      "plans.plan_s" -> perPass((_, wk) => wk.planMs / 1000.0),
      "spark.jobs" -> perPass((_, wk) => wk.jobs.toDouble),
      "spark.task_s" -> perPass((_, wk) => wk.taskMs / 1000.0),
      "spark.driver_gap_s" -> perPass((p, wk) => passSeconds(tr, p) - wk.unionMs / 1000.0),
      "spark.shuffle_write_bytes" -> perPass((_, wk) => wk.shuffleWrite.toDouble),
      "spark.spill_bytes" -> perPass((_, wk) => wk.spill.toDouble),
      "trace.overhead_s" -> (Workload.median(traced.map(passSeconds(tr, _))) -
        Workload.median(plain.map(passSeconds(tr, _)))))
    val values = timed ++ common ++ w.layerValues(tr, work)
    LayerMetrics.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
