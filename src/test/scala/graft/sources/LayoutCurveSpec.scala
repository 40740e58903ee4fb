package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{SparkTestBase, Tables}

/** The curve-clustered write path ([[Layout.writeCurveClustered]]) must
  * deliver what the layout queries' tile reports promise: files whose
  * min/max stats are tight on BOTH raw dimensions. Measured, not
  * asserted by construction: the same orders frame written (a) Hilbert-
  * clustered and (b) single-column sorted, then per-FILE spans compared
  * — the single-column sort perfectly localizes its own key and
  * destroys the other dimension; the curve bounds both. */
class LayoutCurveSpec extends SparkTestBase {
  import spark.implicits._

  test("Hilbert-clustered files bound per-file spans on both dimensions; " +
      "a single-column sort does not") {
    val o = Tables.table(spark, sf0001, "orders")
      .select($"o_custkey",
        datediff(to_date($"o_orderdate"),
          lit("1992-01-01").cast("date")).as("day"))
    val st = o.agg(min($"o_custkey").as("min_c"), max($"o_custkey").as("max_c"),
      min($"day").as("min_d"), max($"day").as("max_d")).collect()(0)
    val (minC, maxC) = (st.getAs[Long]("min_c"), st.getAs[Long]("max_c"))
    val (minD, maxD) = (st.getAs[Int]("min_d"), st.getAs[Int]("max_d"))
    val keyed = o.select($"o_custkey", $"day",
      graft.functions.HilbertFunctions.hilbertD2(
        floor(($"o_custkey" - minC) * 256d / (maxC - minC + 1)).cast("long"),
        floor(($"day" - minD) * 256d / (maxD - minD + 1)).cast("long"))
        .as("h"))

    def perFileSpans(dir: String): Seq[(Long, Long)] = {
      val files = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq
      assert(files.size > 1, "need multiple files to measure pruning")
      files.map { f =>
        val r = spark.read.parquet(f)
          .agg((max($"o_custkey") - min($"o_custkey")).as("cs"),
            (max($"day") - min($"day")).cast("long").as("ds"))
          .collect()(0)
        (r.getAs[Long]("cs"), r.getAs[Long]("ds"))
      }
    }

    val hDir = Files.createTempDirectory("layout_hilbert").toString
    val sDir = Files.createTempDirectory("layout_sorted").toString
    Layout.writeCurveClustered(keyed, hDir, "h", files = 8)
    // baseline: the same writer shape on a single raw column
    Layout.writeCurveClustered(keyed, sDir, "o_custkey", files = 8)

    val h = perFileSpans(hDir)
    val s = perFileSpans(sDir)
    val globalC = maxC - minC
    val globalD = (maxD - minD).toLong
    // the single-column sort localizes custkey but its files span
    // (nearly) the whole day range; the curve bounds BOTH dimensions
    // strictly below global
    assert(s.map(_._2).max >= (globalD * 9) / 10,
      s"baseline day spans should be ~global, got ${s.map(_._2).max}/$globalD")
    assert(h.map(_._1).max < globalC, "curve custkey span must prune")
    assert(h.map(_._2).max < globalD, "curve day span must prune")
    // and the curve's worst day-span beats the single-column baseline's
    assert(h.map(_._2).max < s.map(_._2).max)
  }
}
