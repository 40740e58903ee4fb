package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Debug tool: per-Spark-job time breakdown of one query —
  * `Test/runMain graft.tools.JobProfile <queryName> [sfDir]`.
  * Runs the query twice (the Bench warm/timed discipline) and prints
  * every job of the SECOND pass with its duration and call site, so a
  * multi-action query (the snapshot-store builds) decomposes into its
  * constituent writes, stats aggregations, checkpoints and reads.
  * Session confs mirror Bench exactly — a profile under different
  * shuffle/split settings would mis-attribute. */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q_index_snapshot_lifecycle")
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Session.get()
    val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.lastOption.map(_.name).getOrElse("?")
        starts.put(e.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(starts.remove(e.jobId)).foreach { case (t0, site) =>
          val sec = (System.nanoTime() - t0) / 1e9
          rows.add(f"  job ${e.jobId}%4d  $sec%7.3f s  $site")
        }
      }
    })
    val fn = graft.SparkEntry.allQueries(name)
    (1 to 2).foreach { pass =>
      rows.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val total = (System.nanoTime() - t0) / 1e9
      // listener bus is async; give it a beat to drain before printing
      Thread.sleep(300)
      println(f"=== $name pass $pass: $total%.3f s ($n rows)")
      rows.forEach(r => println(r))
    }
    spark.stop()
  }
}
