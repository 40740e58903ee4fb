package graft

import java.util.UUID
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, ExecutorService, Executors, Future, TimeUnit}

import org.apache.spark.{JobExecutionStatus, SparkContext}
import org.apache.spark.sql.SparkSession

/** The one fan-out of independent driver-side work: Spark actions over
  * tables that do not depend on each other, and per-file metadata calls. */
object Par {

  /** `f` over `items` on a pool of at most `threads` threads; results come
    * back in item order. Fewer than two items or threads run on the
    * caller's thread.
    *
    * The pool lives for this call only, so its threads are started by the
    * caller's thread and inherit its active session and its Spark local
    * properties (job description, scheduler pool, job tags). Each task adds
    * a job tag of its own call, with interrupt-on-cancel.
    *
    * On the first failure, in whichever item it happens, the sibling
    * futures are cancelled, the tag's Spark jobs are cancelled, and the pool
    * is shut down and awaited; only then does the original exception (not
    * the pool's ExecutionException) reach the caller. So when this throws,
    * none of its threads is still running and no Spark job it started is
    * still active: a caller's rollback cannot race a sibling that is still
    * writing. */
  def map[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] =
    if (items.lengthCompare(2) < 0 || threads < 2) items.map(f)
    else {
      val sc = SparkSession.getActiveSession
        .orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext).filterNot(_.isStopped)
      val tag = s"graft-par-${UUID.randomUUID()}"
      val pool = Executors.newFixedThreadPool(math.min(threads, items.size))
      val done = new ExecutorCompletionService[(Int, B)](pool)
      val futures = items.zipWithIndex.map { case (item, i) =>
        done.submit(new Callable[(Int, B)] {
          def call(): (Int, B) = {
            sc.foreach { c => c.addJobTag(tag); c.setInterruptOnCancel(true) }
            (i, f(item))
          }
        })
      }
      val out = new Array[Any](items.size)
      try {
        items.foreach { _ =>
          val (i, b) =
            try done.take().get()
            catch { case e: ExecutionException => throw Option(e.getCause).getOrElse(e) }
          out(i) = b
        }
        out.toSeq.asInstanceOf[Seq[B]]
      } catch {
        case e: Throwable =>
          abort(pool, futures, sc, tag, e)
          throw e
      } finally pool.shutdown()
    }

  /** Stops every task and Spark job of one [[map]] call. Blocks until done
    * even when the caller's thread is itself being interrupted (it may be a
    * task of an enclosing call); the interrupt is restored afterwards.
    * Secondary failures are attached to `cause`. */
  private def abort(pool: ExecutorService, futures: Seq[Future[_]],
                    sc: Option[SparkContext], tag: String,
                    cause: Throwable): Unit = {
    var interrupted = Thread.interrupted()
    futures.foreach(_.cancel(true))
    sc.foreach(_.cancelJobsWithTag(tag))
    pool.shutdownNow()
    var terminated = false
    while (!terminated)
      try terminated = pool.awaitTermination(1, TimeUnit.MINUTES)
      catch { case _: InterruptedException => interrupted = true }
    try sc.foreach(drainJobs(_, tag))
    catch {
      case e: Throwable =>
        if (e.isInstanceOf[InterruptedException]) interrupted = true
        cause.addSuppressed(e)
    }
    if (interrupted) Thread.currentThread().interrupt()
  }

  /** Returns once the status store shows no job tagged `tag` running. A
    * task can submit a job between the first cancel and its interrupt, so
    * the tag is cancelled again now that no task is left. Then a one-task
    * fence job, queued on the scheduler's event loop behind that cancel,
    * runs; listener events arrive in order, so once the store reports the
    * fence finished it has also seen every cancelled job end. */
  private def drainJobs(sc: SparkContext, tag: String): Unit = {
    sc.cancelJobsWithTag(tag)
    val fence = s"$tag-fence"
    sc.addJobTag(fence)
    try sc.parallelize(Seq(0), 1).foreach(_ => ())
    finally sc.removeJobTag(fence)
    val tracker = sc.statusTracker
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    def fenceSeen = tracker.getJobIdsForTag(fence).exists(id =>
      tracker.getJobInfo(id).exists(_.status == JobExecutionStatus.SUCCEEDED))
    while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }
}
