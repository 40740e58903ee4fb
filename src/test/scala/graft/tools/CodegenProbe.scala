package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.metrics.source.CodegenMetrics

/** Debug tool for the cold-session merge-loop cost (SCALING r18 #1b):
  * counts ACTUAL janino compilation events across the BPE training
  * loop's iterations to decide whether the per-iteration replace
  * literals break the codegen cache (12 distinct generated classes) or
  * the cache already coalesces them (Literal codegen is reference-based
  * in Spark 4.1, so identical source SHOULD cache-hit) — the fix shape
  * for the verdict's "kill the cold-session 10x" item depends on which
  * is true. `Test/runMain graft.tools.CodegenProbe [nWords]`. */
object CodegenProbe {
  def main(args: Array[String]): Unit = {
    // mode 2: "query <dir>" — run q_doc_bpe_train over a materialized
    // corpus three times in one session (the ScaleProbe path, with
    // compile-event accounting), to separate JIT warm-up from janino
    // compilation through the REAL query lineage
    if (args.headOption.contains("query")) { queryMode(args(1)); return }
    val n = args.headOption.map(_.toInt).getOrElse(200000)
    val spark = graft.Session.get()
    import spark.implicits._

    def compiles: Long =
      CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    def compileMs: Long =
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount

    // distinct-word hostile shape: every word unique, identifier-like
    val words = spark.range(n.toLong)
      .select(concat(lit("w"), format_string("%07d", $"id"), lit("x"),
        conv($"id" * 2654435761L % 104729, 10, 36)).as("w"))
      .select(regexp_replace($"w", "(.)", "($1)").as("seg"),
        lit(1L).as("cnt"))

    val c0 = compiles; val t0 = compileMs
    val w0 = System.nanoTime()
    val merges = graft.queries.TextQueries.bpeMerges(words)
    val w1 = System.nanoTime()
    println(s"[codegen-probe] nWords=$n merges=${merges.size} " +
      s"wall=${(w1 - w0) / 1e9} sec " +
      s"compileEvents=${compiles - c0} compileMsTotal=${compileMs - t0}")

    // second and third identical calls in the same session: if the
    // cold cost is JIT tiering of the (cached, shared) generated
    // classes, run 2 is already near steady state and NO new compiles
    // appear; if classes were per-iteration, run 2 would re-compile
    val c1 = compiles
    val w2 = System.nanoTime()
    graft.queries.TextQueries.bpeMerges(words)
    val w3 = System.nanoTime()
    val c2 = compiles
    graft.queries.TextQueries.bpeMerges(words)
    val w4 = System.nanoTime()
    println(s"[codegen-probe] run2=${(w3 - w2) / 1e9} sec " +
      s"newCompiles=${c2 - c1}; run3=${(w4 - w3) / 1e9} sec " +
      s"newCompiles=${compiles - c2}")
    spark.stop()
  }

  private def queryMode(dir: String): Unit = {
    val spark = graft.Session.get()
    def compiles: Long = CodegenMetrics.METRIC_SOURCE_CODE_SIZE.getCount
    def compileMs: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    for (run <- 1 to 3) {
      val c0 = compiles; val m0 = compileMs; val t0 = System.nanoTime()
      val n = graft.SparkEntry.allQueries("q_doc_bpe_train")(spark, dir)
        .count()
      println(s"[codegen-probe] run=$run sec=${(System.nanoTime() - t0) / 1e9} " +
        s"rows=$n newCompiles=${compiles - c0} newCompileMs=${compileMs - m0}")
    }
    spark.stop()
  }
}
