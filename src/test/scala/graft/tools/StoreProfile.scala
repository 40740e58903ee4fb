package graft.tools

import org.apache.spark.sql.functions._

/** Debug tool: wall-time decomposition of the snapshot-store lifecycle
  * (the q_index_snapshot_lifecycle steps, timed per op) —
  * `Test/runMain graft.tools.StoreProfile [sfDir]`. Bench-identical
  * session confs; two passes, read the second (the Bench discipline). */
object StoreProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.get()
    import spark.implicits._
    def t[A](label: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"    $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    (1 to 2).foreach { pass =>
      println(s"=== store lifecycle pass $pass")
      val t0 = System.nanoTime()
      val postings = t("gramPostings+ckpt") {
        val docs = graft.Tables.table(spark, dir, "documents")
          .filter(length(trim($"text")) > 0)
          .select($"doc_id",
            split(regexp_replace(lower(trim($"text")), "\\s+", " "), " ")
              .as("t"))
          .filter(size($"t") >= 5)
        graft.Tables.spread(docs, $"doc_id")
          .select($"doc_id", $"t",
            explode(sequence(lit(1), size($"t") - 4)).as("i"))
          .select($"doc_id",
            md5(concat_ws(" ", slice($"t", $"i", lit(5)))).as("g"))
          .distinct()
          .withColumn("pt", pmod(xxhash64($"g"), lit(64)).cast("int"))
          .localCheckpoint()
      }
      val root = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        "gram_idx_storeprofile").toString
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      t("fs.delete")(fs.delete(new org.apache.hadoop.fs.Path(root), true))
      t("init") {
        graft.sources.SnapshotStore.init(spark, root,
          postings.filter($"doc_id" % 3 === 1)
            .select($"g", $"doc_id", $"pt"), "pt")
      }
      t("compact") {
        graft.sources.SnapshotStore.compact(spark, root,
          postings.filter($"doc_id" % 3 =!= 0)
            .select($"g", $"doc_id", $"pt"),
          Seq("g", "doc_id"), "pt")
      }
      t("retract") {
        graft.sources.SnapshotStore.retract(spark, root,
          postings.filter($"doc_id" % 5 === 0 && $"doc_id" % 3 =!= 0)
            .select($"g", $"doc_id", $"pt"),
          Seq("g", "doc_id"), "pt")
      }
      val n = t("final read+agg") {
        graft.sources.SnapshotStore.read(spark, root)
          .groupBy($"g")
          .agg(min($"doc_id").as("owner_id"), count(lit(1)).as("n_docs"))
          .orderBy("g")
          .count()
      }
      println(f"    TOTAL ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
    }
    spark.stop()
  }
}
