package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ArrayAggregate
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.functions.{DotProduct, VectorFunctions}

/** Pins [[FuseVectorHofs]] from both directions: the exact HOF shapes it
  * MUST rewrite (DSL-built, SQL-text, operand-flipped), the near-miss
  * shapes it must NOT touch (wrong seed, wrong merge op, non-identity
  * finish, non-dot zip lambda), and — the soundness core — bit-exact
  * value agreement between the fused and the interpreted evaluation on
  * every edge row (null array, null element, length mismatch, empty,
  * signed zero, underflow/overflow). The interpreted side is produced by
  * excluding the rule via `spark.sql.optimizer.excludedRules`, which
  * doubles as the pin that the rule stays runtime-excludable (the
  * SCALING.md A/B protocol depends on it). */
class FuseDotSpec extends SparkTestBase {
  import spark.implicits._

  private val ruleName = "graft.plans.FuseVectorHofs"
  private val exclKey = "spark.sql.optimizer.excludedRules"

  private def a(xs: java.lang.Double*): Array[java.lang.Double] = xs.toArray

  /** Every null/length/fp edge the DotProduct scaladoc names. Staged
    * through parquet: a Seq-backed LocalRelation is constant-folded by
    * ConvertToLocalRelation before any plan inspection could see the
    * rewrite, and a real scan is what production plans contain anyway. */
  private lazy val fx: DataFrame = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fusedot_fx").toString
    Seq[(Long, Array[java.lang.Double], Array[java.lang.Double])](
      (1L, a(1.0, 2.0, 3.0), a(4.0, 5.0, 6.0)),   // plain: 32.0
      (2L, a(), a()),                              // both empty: the fold's 0.0
      (3L, null, a(1.0)),                          // null array -> null
      (4L, a(1.0, null, 3.0), a(1.0, 1.0, 1.0)),   // null element -> null
      (5L, a(1.0, 2.0), a(1.0)),                   // length mismatch -> null
      (6L, a(-0.0, 0.0), a(0.0, -0.0)),            // signed-zero accumulation
      (7L, a(java.lang.Double.MIN_VALUE, 1e308),
           a(java.lang.Double.MIN_VALUE, 1e308))   // underflow + overflow
    ).toDF("id", "x", "y").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private def fired(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions.exists(
      _.collectFirst { case _: DotProduct => () }.isDefined)

  private def stillHof(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.expressions.exists(
      _.collectFirst { case _: ArrayAggregate => () }.isDefined)

  test("the DSL-built HOF dot product is rewritten to the fused expression") {
    val df = fx.select($"id", VectorFunctions.dotHof($"x", $"y").as("d"))
    assert(fired(df), df.queryExecution.optimizedPlan.toString)
    assert(!stillHof(df), "the ArrayAggregate should be gone after fusion")
  }

  test("the SQL-text shape and the operand-flipped shape are rewritten") {
    fx.createOrReplaceTempView("fuse_fx")
    val sql = spark.sql(
      """SELECT id, aggregate(zip_with(x, y, (p, q) -> p * q), 0.0D,
        |                     (acc, v) -> acc + v) AS d
        |FROM fuse_fx""".stripMargin)
    assert(fired(sql), sql.queryExecution.optimizedPlan.toString)
    // * and + are IEEE-commutative, so the flipped forms fuse too
    val flipped = spark.sql(
      """SELECT id, aggregate(zip_with(x, y, (p, q) -> q * p), 0.0D,
        |                     (acc, v) -> v + acc) AS d
        |FROM fuse_fx""".stripMargin)
    assert(fired(flipped), flipped.queryExecution.optimizedPlan.toString)
  }

  test("the squared-norm HOF fuses to a self dot product, bit-equal " +
      "with the interpreted form") {
    fx.createOrReplaceTempView("fuse_fx")
    val normSq =
      "aggregate(transform(x, p -> p * p), 0.0D, (acc, v) -> acc + v)"
    val df = spark.sql(s"SELECT id, $normSq AS n2 FROM fuse_fx")
    assert(fired(df), df.queryExecution.optimizedPlan.toString)
    assert(!stillHof(df))
    def run(): Seq[(Long, Option[Long])] =
      spark.sql(s"SELECT id, $normSq AS n2 FROM fuse_fx")
        .collect().toSeq
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
        .sortBy(_._1)
    val fusedRows = run()
    val interpRows =
      try { spark.conf.set(exclKey, ruleName); run() }
      finally spark.conf.unset(exclKey)
    assert(fusedRows === interpRows)
    // null ELEMENT must null the whole norm (VecNorm's skip semantics
    // would be unsound here — the rule targets DotProduct(v, v) instead)
    assert(fusedRows.find(_._1 == 4L).get._2 === None)
    assert(fusedRows.find(_._1 == 1L).get._2 ===
      Some(java.lang.Double.doubleToRawLongBits(1.0 + 4.0 + 9.0)))
    // a transform that is not x*x must not fuse
    val scaled = spark.sql(
      "SELECT aggregate(transform(x, p -> p * 2.0D), 0.0D," +
        " (acc, v) -> acc + v) AS s FROM fuse_fx")
    assert(!fired(scaled) && stillHof(scaled))
    // a NONDETERMINISTIC array must not fuse: the rewrite duplicates v,
    // and two independent evaluations of rand() would square two
    // different arrays — the guard keeps the HOF's evaluate-once shape
    val nondet = spark.sql(
      "SELECT aggregate(transform(array(rand(), rand()), p -> p * p)," +
        " 0.0D, (acc, v) -> acc + v) AS s FROM fuse_fx")
    assert(!fired(nondet) && stillHof(nondet))
  }

  test("near-miss shapes are left untouched") {
    fx.createOrReplaceTempView("fuse_fx")
    val nearMisses = Seq(
      // wrong seed value (1.0 is not the fold's identity)
      "aggregate(zip_with(x, y, (p, q) -> p * q), 1.0D, (acc, v) -> acc + v)",
      // -0.0 seed: an empty fold must yield -0.0, which the fused +0.0
      // loop would not reproduce
      "aggregate(zip_with(x, y, (p, q) -> p * q), -0.0D, (acc, v) -> acc + v)",
      // subtraction merge is not a sum
      "aggregate(zip_with(x, y, (p, q) -> p * q), 0.0D, (acc, v) -> acc - v)",
      // non-identity finish transforms the fold
      "aggregate(zip_with(x, y, (p, q) -> p * q), 0.0D, (acc, v) -> acc + v," +
        " acc -> acc * 2.0D)",
      // zip lambda that ignores one side is not a dot product
      "aggregate(zip_with(x, y, (p, q) -> p * p), 0.0D, (acc, v) -> acc + v)")
    nearMisses.foreach { e =>
      val df = spark.sql(s"SELECT id, $e AS d FROM fuse_fx")
      assert(!fired(df), s"must not fuse: $e")
      assert(stillHof(df), s"the HOF must survive for: $e")
    }
  }

  test("fused and interpreted evaluation agree bit for bit on every edge") {
    def run(): Seq[(Long, Option[Long])] =
      fx.select($"id", VectorFunctions.dotHof($"x", $"y").as("d"))
        .collect().toSeq
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None
          else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(1)))))
        .sortBy(_._1)
    val fusedRows = {
      val df = fx.select(VectorFunctions.dotHof($"x", $"y"))
      assert(fired(df), "precondition: the rule fuses under this session")
      run()
    }
    val interpRows =
      try {
        spark.conf.set(exclKey, ruleName)
        val df = fx.select(VectorFunctions.dotHof($"x", $"y"))
        assert(!fired(df), "precondition: excludedRules disables the rule")
        run()
      } finally spark.conf.unset(exclKey)
    assert(fusedRows === interpRows)
    // and both match the hand-computed expectation
    val expect = Seq(
      1L -> Some(java.lang.Double.doubleToRawLongBits(32.0)),
      2L -> Some(java.lang.Double.doubleToRawLongBits(0.0)),
      3L -> None, 4L -> None, 5L -> None,
      6L -> Some(java.lang.Double.doubleToRawLongBits(
        (0.0 + (-0.0 * 0.0)) + (0.0 * -0.0))), // the fold's exact order
      7L -> Some(java.lang.Double.doubleToRawLongBits(
        java.lang.Double.MIN_VALUE * java.lang.Double.MIN_VALUE
          + 1e308 * 1e308)))
    assert(fusedRows === expect)
  }

  test("the injected registry serves every fixed-name function with no install") {
    // a new session's registry holds only the builtins and what the
    // extension injected, whatever earlier suites installed on `spark`
    val fresh = spark.newSession()
    val calls = Seq[(String, String, Any)](
      ("cosine_sim", "cosine_sim(array(3D, 4D), array(3D, 4D))", 1.0),
      ("vec_norm", "vec_norm(array(3D, 4D))", 5.0),
      ("dot_product", "dot_product(array(1D, 2D, 3D), array(4D, 5D, 6D))",
        32.0),
      ("l2_sq", "l2_sq(array(1L, 2L), array(4L, 6L))", 25L),
      ("tick_vec", "tick_vec(array(1D, 0.5D))", Seq(1L << 20, 1L << 19)),
      ("vec_guard", "vec_guard(array(1D, 0D))", true),
      ("topk_longs", "topk_longs(v, 2) FROM VALUES (1L), (3L), (2L) AS t(v)",
        Seq(3L, 2L)),
      ("hilbert_d2", "hilbert_d2(1L, 0L)",
        graft.functions.HilbertKernels.d2(1L, 0L)),
      ("word_shingles", "word_shingles(array('a', 'b', 'c'), 2)",
        Seq("a b", "b c")),
      ("nfc_normalize", "nfc_normalize('e\\u0301')", "\u00e9"))
    assert(calls.map(_._1).toSet === GraftExtensions.functions.map(_._1).toSet)
    calls.foreach { case (name, call, want) =>
      assert(fresh.sql(s"SELECT $call").head().get(0) === want, name)
    }
  }
}
