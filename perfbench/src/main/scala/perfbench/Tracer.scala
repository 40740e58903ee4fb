package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each layer, and the Spark work
  * charged to them.
  *
  * Spans always record their wall time: the end-to-end metrics are read off
  * them. Only while [[tracing]] is on does the tracer also register a
  * SparkListener and a QueryExecutionListener and tag each job with the
  * open span through a local property. The benchmark has one client thread,
  * so open spans form a single chain; a job whose tag is missing, or names a
  * span that was not open when the job started (a pool thread created under
  * an earlier span keeps that span's properties), is charged to the
  * innermost span open at its start time instead. Everything is held in
  * memory and attributed after the run.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spansBuf = mutable.ArrayBuffer.empty[Span]
  private var openSpans: List[Span] = Nil
  private var nextOp = 0L
  private var on = false

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[Int, TaskSums]()
  private val plans = new ConcurrentLinkedQueue[Plan]()
  @volatile private var lastEventMs = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L, tag.map(_.toInt)))
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, e.jobId))
      lastEventMs = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
      lastEventMs = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stageTasks.compute(e.stageId, (_, old) => {
        val t = Option(old).getOrElse(TaskSums())
        t.runMs += m.executorRunTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        t.input += m.inputMetrics.bytesRead
        t.output += m.outputMetrics.bytesWritten
        t
      })
      lastEventMs = System.currentTimeMillis()
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val kept = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      if (kept.nonEmpty)
        plans.add(Plan(kept.map(_.startTimeMs).min, kept.map(_.durationMs).sum))
      lastEventMs = System.currentTimeMillis()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def tracing: Boolean = on

  /** Turns the listeners on or off between passes. */
  def tracing_=(enable: Boolean): Unit = if (enable != on) {
    require(openSpans.isEmpty, "tracing can only change between passes")
    if (enable) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(planListener)
    } else {
      drain()
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
    }
    on = enable
  }

  /** Runs `body` inside a span. `op` starts a new operation: the span and
    * all spans under it share its id. */
  def span[A](name: String, op: Boolean = false)(body: => A): A = {
    val parent = openSpans.headOption
    if (op) nextOp += 1
    val s = Span(spansBuf.size, name, parent.map(_.id).getOrElse(-1),
      if (op || parent.isEmpty) nextOp else parent.get.op, on,
      System.currentTimeMillis(), System.nanoTime())
    spansBuf += s
    openSpans = s :: openSpans
    if (on) spark.sparkContext.setLocalProperty(SpanProperty, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      openSpans = openSpans.tail
      if (on) spark.sparkContext.setLocalProperty(SpanProperty,
        openSpans.headOption.map(_.id.toString).orNull)
    }
  }

  def spans: Seq[Span] = spansBuf.toSeq

  /** Closed spans named `name`, oldest first. */
  def named(name: String): Seq[Span] = spansBuf.filter(s => s.name == name && s.endNs > 0L).toSeq

  /** Seconds of each closed span named `name`. */
  def seconds(name: String): Seq[Double] = named(name).map(_.seconds)

  /** Waits until the listener buses have gone quiet: every started job has
    * ended and no event arrived for a while. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def quiet = jobs.values.asScala.forall(_.endMs >= 0L) &&
      System.currentTimeMillis() - lastEventMs > 300L
    while (!quiet && System.currentTimeMillis() < deadline) Thread.sleep(50L)
  }

  /** Spark work charged to each span, its descendants' included. */
  def work(): Map[Int, Work] = {
    drain()
    val byId = spansBuf.map(s => s.id -> s).toMap
    def contains(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    // the innermost traced span open at time t
    def at(t: Long): Option[Span] =
      spansBuf.filter(s => s.traced && s.endNs > 0L && contains(s, t)).lastOption
    def chain(s: Span): List[Span] =
      s :: byId.get(s.parent).map(chain).getOrElse(Nil)
    val acc = mutable.Map.empty[Int, Work]
    def charge(s: Span, w: Work): Unit =
      chain(s).foreach(a => acc(a.id) = acc.getOrElse(a.id, Work()) + w)
    val tasksByJob = stageTasks.asScala.toSeq.groupBy { case (stage, _) =>
      stageToJob.getOrDefault(stage, -1) }
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val owner = j.span.flatMap(byId.get).filter(s => contains(s, j.startMs))
        .orElse(at(j.startMs))
      owner.foreach { s =>
        val t = tasksByJob.getOrElse(j.id, Nil).map(_._2)
        charge(s, Work(jobs = 1, intervals = List((j.startMs, math.max(j.startMs, j.endMs))),
          taskMs = t.map(_.runMs).sum, shuffleWrite = t.map(_.shuffleWrite).sum,
          spill = t.map(_.spill).sum, input = t.map(_.input).sum,
          output = t.map(_.output).sum))
      }
    }
    plans.asScala.foreach(p => at(p.startMs).foreach(s => charge(s, Work(planMs = p.ms))))
    acc.toMap
  }

  /** The spans and jobs as JSON lines, for reading a run after the fact. */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spansBuf.map(s =>
      s"""{"span":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""traced":${s.traced},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""seconds":${s.seconds}}""") ++
      jobs.values.asScala.toSeq.sortBy(_.id).map(j =>
        s"""{"job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
          s""""span_tag":${j.span.getOrElse(-1)}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, op: Long,
                        traced: Boolean, startMs: Long, startNs: Long) {
    var endNs = 0L
    var endMs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class Job(id: Int, startMs: Long, endMs: Long, span: Option[Int])

  final case class TaskSums(var runMs: Long = 0L, var shuffleWrite: Long = 0L,
                            var spill: Long = 0L, var input: Long = 0L,
                            var output: Long = 0L)

  final case class Plan(startMs: Long, ms: Long)

  /** Spark work under one span. */
  final case class Work(jobs: Int = 0, intervals: List[(Long, Long)] = Nil,
                        taskMs: Long = 0L, shuffleWrite: Long = 0L, spill: Long = 0L,
                        input: Long = 0L, output: Long = 0L, planMs: Long = 0L) {
    def +(o: Work): Work = Work(jobs + o.jobs, intervals ++ o.intervals,
      taskMs + o.taskMs, shuffleWrite + o.shuffleWrite, spill + o.spill,
      input + o.input, output + o.output, planMs + o.planMs)

    /** Milliseconds covered by at least one job. */
    def unionMs: Long = intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((total, reach), (s, e)) =>
        if (e <= reach) (total, reach)
        else (total + e - math.max(s, reach), e)
    }._1
  }
}
