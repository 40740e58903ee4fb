package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2,
      s"usage: graft.Verify <sfDir> <outDir> (got ${args.length} args: " +
        s"${args.mkString(", ")})")
    val Array(sfDir, outDir) = args
    val spark = Session.get()
    // fail fast if any dedup bucket cap engages on the verify corpus: the
    // capped queries carry EXACT DuckDB oracles, so a silent truncation
    // would surface as an unexplained hash mismatch — an explicit
    // "cap engaged" error names the actual cause (capPerKey scaladoc)
    spark.conf.set("spark.graft.dedup.failOnCapExceeded", "true")
    // a leaked champion-list override (the test-only conf KnnTfidfSpec
    // sets to engage truncation on a tiny corpus) would make the
    // q_knn_tfidf hash compare silently test DIFFERENT semantics than
    // the interpolated-default oracle — fail loudly instead
    require(spark.conf.getOption("spark.graft.knn.champR").isEmpty,
      "spark.graft.knn.champR is set: Verify must run with the default " +
        "champion-list depth the oracle SQL interpolates")
    new java.io.File(outDir).mkdirs()
    // local-iteration filter (builder tooling only; the driver never sets
    // it): SPARK_GRAFT_ONLY=q_a,q_b dumps just those queries
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // fail loudly on a typo'd or empty filter: a no-match filter would
    // dump nothing, leave stale parquet from a prior run under outDir,
    // and let a downstream oracle compare false-green on old outputs
    only.foreach { names =>
      val unknown = names.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(", ")}")
    }
    // a dump with any stale directory must never pass for a clean
    // full-suite dump: a filtered run leaves every out-of-filter query's
    // parquet from earlier runs, and a full run that DIES or throws
    // per-query leaves the dead query's old parquet — either way a later
    // oracle compare would false-green on pre-change outputs. The marker
    // is therefore written BEFORE the dump (naming the filter, or
    // flagging an in-progress full run) and removed only when a FULL run
    // completes with zero failures; tools/check_oracle.py refuses marked
    // dirs. (The r13 review caught the original delete-first ordering:
    // a full run that crashed mid-suite had already re-blessed the dir.)
    val marker = Paths.get(s"$outDir/_PARTIAL")
    Files.writeString(marker, only match {
      case Some(names) => names.toSeq.sorted.mkString("\n")
      case None => "__full_run_incomplete__"
    }): Unit
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    if (only.isEmpty && failed.isEmpty) { Files.deleteIfExists(marker); () }
    else if (failed.nonEmpty) {
      Files.writeString(marker,
        (only.map(_.toSeq.sorted).getOrElse(Nil) ++
          failed.map(n => s"FAILED:$n")).mkString("\n"))
      ()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${JsonUtil.quote(k)}: ${JsonUtil.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
