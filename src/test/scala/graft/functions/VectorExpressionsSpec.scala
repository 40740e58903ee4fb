package graft.functions

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** The codegen'd CosineSim must agree bit-for-bit with the composable
  * higher-order-function formulation it replaces (same accumulation
  * order), and handle the null/zero edges. */
class VectorExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  test("CosineSim == HOF aggregate/zip_with formulation, bitwise") {
    val vecs = Tables.table(spark, sf0001, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val a = vecs.select($"vec_id".as("ia"), $"v".as("va"))
    val b = vecs.select($"vec_id".as("ib"), $"v".as("vb"))
    val pairs = a.join(b, $"ia" < $"ib").limit(5000)
    val hofDot = aggregate(zip_with($"va", $"vb", (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val hofNorm = (c: org.apache.spark.sql.Column) =>
      sqrt(aggregate(c, lit(0.0), (acc, x) => acc + x * x))
    val both = pairs.select(
      VectorFunctions.cosineSim($"va", $"vb").as("native"),
      (hofDot / (hofNorm($"va") * hofNorm($"vb"))).as("hof"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (n, h) => assert(n === h) }
  }

  test("CosineSim null and zero-norm edges") {
    val df = Seq(
      (Some(Seq(1.0, 0.0)), Some(Seq(1.0, 0.0))),   // identical -> 1.0
      (Some(Seq(1.0, 0.0)), Some(Seq(0.0, 1.0))),   // orthogonal -> 0.0
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 1.0))),   // zero norm -> null
      (None, Some(Seq(1.0, 1.0))))                  // null input -> null
      .toDF("a", "b")
    val out = df.select(VectorFunctions.cosineSim($"a", $"b").as("c"))
      .as[Option[Double]].collect().toSeq
    assert(out(0) === Some(1.0))
    assert(out(1) === Some(0.0))
    assert(out(2) === None)
    assert(out(3) === None)
  }
}
