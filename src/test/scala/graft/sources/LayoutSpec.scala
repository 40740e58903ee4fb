package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** The layout helpers must actually change the physical plan: bucketed
  * joins lose their shuffles, partitioned reads prune partitions. */
class LayoutSpec extends SparkTestBase {
  import spark.implicits._

  test("bucketed tables join without any Exchange") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.table(spark, sf0001, "lineitem")
        .select($"l_orderkey", $"l_quantity")
      val o = Tables.table(spark, sf0001, "orders")
        .select($"o_orderkey", $"o_totalprice")
      Layout.writeBucketed(li, "li_bucketed", "l_orderkey")
      Layout.writeBucketed(o, "o_bucketed", "o_orderkey")

      val joined = spark.table("li_bucketed")
        .join(spark.table("o_bucketed"), $"l_orderkey" === $"o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"shuffle in bucketed join:\n$plan")
      // same rows as the unbucketed join
      val expected = li.join(o, $"l_orderkey" === $"o_orderkey").count()
      assert(joined.count() === expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS o_bucketed")
    }
  }

  test("incremental dedup against a bucketed history shuffles only the increment") {
    // the q_dedup_incremental scale story: the historical fingerprint
    // index is written bucketed on fp, so the per-ingest anti-join plans
    // exactly ONE exchange — on the (small) incoming batch — while the
    // (huge) history is read in place. Re-dedup-the-world is one shuffle
    // of the world; this is one shuffle of the day's increment.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.table(spark, sf0001, "documents")
        .select($"doc_id", graft.Clean.fingerprint($"text").as("fp"))
      Layout.writeBucketed(docs.filter($"doc_id" % 10 =!= 0),
        "fp_history", "fp")
      val incoming = docs.filter($"doc_id" % 10 === 0)
      val survivors = incoming
        .join(spark.table("fp_history"), Seq("fp"), "left_anti")
      val plan = survivors.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles === 1, s"expected 1 exchange (incoming only):\n$plan")
      // same survivors as the unbucketed anti-join the oracle certifies
      val expected = graft.SparkEntry.queries("q_dedup_incremental")(
        spark, sf0001).count()
      assert(survivors.count() === expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS fp_history")
    }
  }

  test("semantic incremental dedup against a cell-bucketed history " +
      "shuffles only the increment") {
    // the q_semdedup_incremental scale story, proven the same way as the
    // fingerprint one above: the history embedding index is materialized
    // bucketed on its quantizer cell, so the per-ingest anti-join (cell
    // equi-key + cosine residual) plans exactly ONE exchange — the
    // incoming batch — while the corpus-scale history reads in place.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val assigned = graft.queries.SimilarityQueries.semAssign(
        graft.queries.SimilarityQueries.semDedupGuard(
          Tables.table(spark, sf0001, "embeddings")
            .select($"vec_id",
              $"embedding".cast("array<double>").as("v"))))
      Layout.writeBucketed(assigned.filter($"vec_id" < 250),
        "cell_history", "cell")
      val incoming = assigned.filter($"vec_id" >= 250)
      val hist = spark.table("cell_history")
        .select($"cell", $"v".as("hv"))
      val survivors = incoming.join(hist,
        incoming("cell") === hist("cell") &&
          graft.Clean.roundHalfUp(
            graft.functions.VectorFunctions.cosineSim(incoming("v"),
              $"hv"), 4) >= 0.3,
        "left_anti")
      val plan = survivors.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles === 1, s"expected 1 exchange (incoming only):\n$plan")
      // same survivors as the oracle-certified unbucketed anti-join
      val expected = graft.SparkEntry.queries("q_semdedup_incremental")(
        spark, sf0001).count()
      assert(survivors.count() === expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS cell_history")
    }
  }

  test("LM scoring against a token-bucketed model shuffles only the " +
      "increment's tokens") {
    // the q_doc_unigram_logprob staging story, pinned: at scale the LM
    // table is trained once and MATERIALIZED bucketed on t, so the
    // ingest-time scoring join (DocStream.scoreLogprob's core) plans
    // exactly ONE exchange — the arriving batch's exploded tokens —
    // while the vocabulary-scale model is read in place
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = Tables.table(spark, sf0001, "documents")
      val lm = graft.queries.TextQueries.lmFromTokenCounts(
        graft.queries.TextQueries.tokenCounts(
          docs.filter($"doc_id" < 300)))
      Layout.writeBucketed(lm, "lm_bucketed", "t")
      val incomingToks = docs.filter($"doc_id" >= 300)
        .select($"doc_id",
          explode(split(trim(lower($"text")), "\\s+")).as("t"))
      val scored = incomingToks
        .join(spark.table("lm_bucketed"), Seq("t"), "left")
        .select($"doc_id", $"lp6")
      val plan = scored.queryExecution.executedPlan.toString
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles === 1, s"expected 1 exchange (increment only):\n$plan")
      // a left join must score every arriving token exactly once
      assert(scored.count() === incomingToks.count())
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS lm_bucketed")
    }
  }

  test("z-order tiles bound the spread on BOTH dimensions") {
    // z_tile fixes the top 6 bits of each 8-bit bucket (z >> 4 drops two
    // interleaved bit pairs), so within a tile each raw dimension spans at
    // most 4 buckets — the two-dimensional locality a single-column sort
    // cannot give. Verify the bound on real data: no tile's custkey (or
    // day) spread may exceed 4 bucket widths.
    val tiles = graft.SparkEntry.queries("q_layout_zorder")(spark, sf0001)
      .collect()
    assert(tiles.nonEmpty)
    val o = Tables.table(spark, sf0001, "orders")
      .agg(min($"o_custkey"), max($"o_custkey")).collect()(0)
    val ckWidth = (o.getLong(1) - o.getLong(0) + 1 + 255) / 256
    tiles.foreach { t =>
      val ckSpread = t.getAs[Long]("max_custkey") - t.getAs[Long]("min_custkey")
      assert(ckSpread <= 4 * ckWidth,
        s"tile ${t.getAs[Long]("z_tile")}: custkey spread $ckSpread > ${4 * ckWidth}")
    }
    // tiles must partition the table: row counts sum to the order count
    val total = tiles.map(_.getAs[Long]("rows")).sum
    assert(total === Tables.table(spark, sf0001, "orders").count())
  }

  test("date-partitioned sink prunes partitions on read") {
    val out = Files.createTempDirectory("events_part").toString
    val events = Tables.table(spark, sf0001, "events")
      .withColumn("day", to_date($"ts"))
    Layout.writePartitioned(events, out, "day")

    val oneDay = spark.read.parquet(out).filter($"day" === "2024-01-05")
    val plan = oneDay.queryExecution.executedPlan.toString
    // the day predicate must land in PartitionFilters (directory pruning),
    // not DataFilters (row filtering after reading everything)
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    assert(plan.contains("DataFilters: []"), plan)
    val expected = events.filter($"day" === "2024-01-05").count()
    assert(expected > 0)
    assert(oneDay.count() === expected)
  }
}
