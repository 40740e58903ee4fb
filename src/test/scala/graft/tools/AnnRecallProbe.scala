package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Attribution probe for the IVF-PQ recall audit (r18 verdict #6): the
  * audit queries report SERVED recall (ADC-ranked top-5 vs exact
  * truth); this probe separates the two failure modes by also
  * measuring CANDIDATE recall — how many exact top-5 neighbors even
  * sit inside the probed cells per nprobe rung. If candidate recall is
  * high while served recall is low, the ceiling is PQ quantization
  * error (ADC ranking); if candidate recall is itself low, the coarse
  * router is the binding constraint.
  * `Test/runMain graft.tools.AnnRecallProbe [sfDir]`. */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.get()
    import spark.implicits._
    import graft.queries.SimilarityQueries._

    val vecs = semDedupInput(spark, dir)
    val cents = semCentroids(16, 64)
    val ticked = withTicks(vecs)
    val assigned = semAssign(semDedupGuard(vecs))
      .select($"vec_id", $"cell")
    val probes = ticked.filter($"vec_id" < 10)
      .select($"vec_id".as("query_id"), $"tv".as("qtv"), $"v".as("qv"))
    // exact tick-L2 truth top-5 (the audit's denominator, verbatim)
    val wt = Window.partitionBy($"query_id")
      .orderBy($"d".asc, $"neighbor_id".asc)
    val truth = ticked.select($"vec_id", $"tv")
      .crossJoin(broadcast(probes.select($"query_id", $"qtv")))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        graft.functions.VectorFunctions.l2Sq($"qtv", $"tv").as("d"))
      .withColumn("rnk", row_number().over(wt)).filter($"rnk" <= 5)
      .select($"query_id", $"neighbor_id")
      .localCheckpoint()
    val nTruth = truth.count()
    // probed cells per query at max nprobe, with rank
    val probeCells = probes
      .select($"query_id",
        posexplode(nearestCells(cents, $"qv", 8)))
      .select($"query_id", ($"pos" + 1).cast("int").as("cell_rank"),
        $"col".as("cell"))
    // where does each TRUE neighbor's cell rank among the probe's cells?
    val truthCells = truth
      .join(assigned.select($"vec_id".as("neighbor_id"), $"cell"),
        Seq("neighbor_id"))
      .join(probeCells, Seq("query_id", "cell"), "left")
    Seq(1, 2, 4, 8).foreach { np =>
      val cr = truthCells.filter($"cell_rank" <= np).count()
      println(s"""{"probe":"candidate_recall","dir":"$dir","nprobe":$np,""" +
        s""""truth_in_probed_cells":$cr,"truth_total":$nTruth}""")
    }
    spark.stop()
  }
}
