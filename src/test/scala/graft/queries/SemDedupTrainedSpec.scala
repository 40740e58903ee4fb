package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** The trained-quantizer semantic dedup faces: q_semdedup_trained and
  * q_semdedup_incremental_trained run [[SimilarityQueries.ivfCentroids]]
  * output through the SAME parameterized pipelines as the hard-oracled
  * md5-corner queries. The quantizer itself is rows-only by the
  * documented q_ann_ivf rationale, so these tests pin what the oracle
  * cannot: given whatever assignment the trained quantizer produced,
  * every downstream stage — within-cell pairing, 4-dp tau threshold,
  * blame window, cap accounting, incremental anti-join, one-exchange
  * bucketed-history plan — behaves identically to the corner-centroid
  * path, recomputed from scratch JVM-side with no graft helpers. */
class SemDedupTrainedSpec extends SparkTestBase {
  import spark.implicits._

  private def round4(x: Double): Double =
    math.floor(x * 10000 + 0.5) / 10000

  private def cos4(a: Seq[Double], b: Seq[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    def n(v: Seq[Double]) = math.sqrt(v.map(x => x * x).sum)
    round4(dot / (n(a) * n(b)))
  }

  private case class Out(vecId: Long, cell: Int, isDup: Int,
                         dupOf: Option[Long], dupCos: Option[Double])

  private def runTrained(): Seq[Out] =
    SimilarityQueries.queries("q_semdedup_trained")(spark, sf0001)
      .collect().toSeq.map { r =>
        Out(r.getAs[Long]("vec_id"), r.getAs[Int]("cell"),
          r.getAs[Int]("is_dup"),
          Option(r.getAs[java.lang.Long]("dup_of")).map(_.longValue),
          Option(r.getAs[java.lang.Double]("dup_cos")).map(_.doubleValue))
      }

  /** The guarded (vec_id, v) corpus as plain JVM data. */
  private def corpus(): Map[Long, Seq[Double]] =
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .filter($"v".isNotNull && forall($"v", x => x.isNotNull) &&
        exists($"v", x => x =!= 0.0))
      .as[(Long, Seq[Double])].collect().toMap

  test("trained downstream matches a from-scratch recomputation given " +
      "its own assignment") {
    // the swap-invariance contract: whatever cells the TRAINED quantizer
    // assigned (read back from the query's own output — the quantizer is
    // pinned separately by determinism below), the pairing + tau + blame
    // stages must produce exactly what an independent reimplementation
    // produces from (vec_id, cell, embedding)
    val got = runTrained().sortBy(_.vecId)
    val vecs = corpus()
    val cells = got.map(o => o.vecId -> o.cell).toMap
    val want = got.map { o =>
      val bv = vecs(o.vecId)
      val edges = cells.toSeq
        .filter { case (aId, aCell) => aId < o.vecId && aCell == o.cell }
        .map { case (aId, _) => (aId, cos4(vecs(aId), bv)) }
        .filter(_._2 >= 0.3)
      val blame = edges.sortBy { case (aId, c) => (-c, aId) }.headOption
      Out(o.vecId, o.cell, if (blame.isDefined) 1 else 0,
        blame.map(_._1), blame.map(_._2))
    }
    got.zip(want).foreach { case (g, w) => assert(g === w) }
    // every guarded vector emits exactly one row, same as the corner face
    assert(got.map(_.vecId).toSet === vecs.keySet)
    // non-vacuous: both branches exercised, and the partition is real
    assert(got.count(_.isDup == 1) > 0)
    assert(got.count(_.isDup == 0) > 0)
    assert(got.map(_.cell).distinct.size > 1)
  }

  test("the fixed-point trainer is PARTITION-INVARIANT: identical " +
      "centroids under different partitionings") {
    // the property that justified the tick trainer (r12): each centroid
    // update is an exact long sum + one division, so the result cannot
    // depend on the partial-aggregate tree — the float-avg trainer it
    // replaced returned different low bits under different layouts,
    // which silently re-shuffled cell boundaries between cluster runs
    val guarded = SimilarityQueries.semDedupGuard(
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select($"vec_id", $"embedding".cast("array<double>").as("v")))
    val a = SimilarityQueries.ivfCentroids(
      guarded.repartition(3), k = 16, iters = 2)
    val b = SimilarityQueries.ivfCentroids(
      guarded.repartition(17, $"vec_id"), k = 16, iters = 2)
    assert(a === b)
  }

  test("the trained quantizer is deterministic and actually differs " +
      "from the md5 corners") {
    val a = runTrained()
    val b = runTrained()
    assert(a.sortBy(_.vecId) === b.sortBy(_.vecId))
    // if the trained assignment coincided with the corner assignment the
    // swap-invariance suite would be testing nothing
    val corner = SimilarityQueries.queries("q_semdedup")(spark, sf0001)
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val trained = a.map(o => o.vecId -> o.cell).toMap
    assert(trained.exists { case (id, c) => corner(id) != c },
      "trained and corner assignments are identical — vacuous swap")
  }

  test("cap accounting is unchanged under the swap: pair work bounded, " +
      "output never truncated, dup set only shrinks") {
    val full = runTrained()
    spark.conf.set("spark.graft.dedup.maxBucket", "10")
    try {
      val capped = runTrained()
      assert(capped.map(_.vecId).sorted === full.map(_.vecId).sorted)
      val fullDups = full.filter(_.isDup == 1).map(_.vecId).toSet
      capped.filter(_.isDup == 1)
        .foreach(c => assert(fullDups.contains(c.vecId)))
      assert(capped.count(_.isDup == 1) < fullDups.size)
    } finally spark.conf.unset("spark.graft.dedup.maxBucket")
  }

  test("incremental trained survivors match a from-scratch anti-join " +
      "over the history-trained assignment") {
    // production shape: the quantizer trains on HISTORY ONLY, then
    // assigns both sides; an arrival survives iff no same-cell history
    // member clears tau. Recomputed here from the collected assignment.
    val split = 250L
    val vecs = corpus()
    val guarded = SimilarityQueries.semDedupGuard(
      spark.read.parquet(s"$sf0001/embeddings.parquet")
        .select($"vec_id", $"embedding".cast("array<double>").as("v")))
    val cents = SimilarityQueries.ivfCentroids(
      guarded.filter($"vec_id" < split), k = 16, iters = 2)
    // assignment ranks on the tick copy, exactly like the query
    val assigned = SimilarityQueries.assignCells(
        SimilarityQueries.withTicks(guarded), cents, on = "dv")
      .select($"vec_id", $"cell").as[(Long, Int)].collect().toMap
    val hist = assigned.filter(_._1 < split).toSeq
    val want = assigned.filter(_._1 >= split).filter { case (id, cell) =>
      !hist.exists { case (hId, hCell) =>
        hCell == cell && cos4(vecs(hId), vecs(id)) >= 0.3 }
    }.keySet
    val got = SimilarityQueries.queries("q_semdedup_incremental_trained")(
      spark, sf0001).select($"vec_id").as[Long].collect().toSet
    assert(got === want)
    assert(got.nonEmpty) // random synthetic cosines sit near 0: most survive
  }

  test("incremental trained anti-join against a cell-bucketed history " +
      "still plans exactly ONE exchange") {
    // the 100 TB layout story must survive the quantizer swap: with the
    // history index materialized bucketed on its TRAINED cell, only the
    // increment shuffles (same pin as the corner face in LayoutSpec)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val split = 250L
      val guarded = SimilarityQueries.semDedupGuard(
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .select($"vec_id", $"embedding".cast("array<double>").as("v")))
      val cents = SimilarityQueries.ivfCentroids(
        guarded.filter($"vec_id" < split), k = 16, iters = 2)
      val assigned = SimilarityQueries.assignCells(
        SimilarityQueries.withTicks(guarded), cents, on = "dv")
      graft.sources.Layout.writeBucketed(
        assigned.filter($"vec_id" < split), "cell_history_trained", "cell")
      val incoming = assigned.filter($"vec_id" >= split)
      val hist = spark.table("cell_history_trained")
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
      val expected = graft.SparkEntry.queries(
        "q_semdedup_incremental_trained")(spark, sf0001).count()
      assert(survivors.count() === expected)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS cell_history_trained")
    }
  }
}
