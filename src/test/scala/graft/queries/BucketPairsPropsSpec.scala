package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** bucketPairs replaced the banded self-join in all three LSH pipelines
  * (MinHash, MinHash-SQL, SimHash) for performance — a self-join executes
  * the signature lineage once per branch. This property pins the
  * REPLACEMENT's equivalence: on arbitrary bucket assignments (small
  * ranges force heavy bucket collisions), the one-pass collect_list
  * pairing must produce exactly the self-join's (doc_a, doc_b,
  * shared_bands) rows. Native ScalaCheck Properties (the scalatest bridge
  * artifact is not on the offline classpath). */
object BucketPairsPropsSpec extends Properties("bucketPairs") {

  // the session SparkTestBase shares, whichever suite asks first
  private lazy val spark: SparkSession = graft.Session.get("local[4]")

  import spark.implicits._

  private val rowGen: Gen[(Long, Int, Long)] = for {
    doc <- Gen.choose(0L, 15L)
    band <- Gen.choose(0, 3)
    value <- Gen.choose(0L, 5L)
  } yield (doc, band, value)

  property("one-pass bucket pairing equals the banded self-join") =
    Prop.forAll(Gen.listOfN(40, rowGen)) { rows0 =>
      // contract: one row per (doc_id, band_idx) — keep the first value
      val rows = rows0.groupBy(r => (r._1, r._2)).values.map(_.head).toSeq
      rows.isEmpty || {
        val banded = rows.toDF("doc_id", "band_idx", "band_val")
        val got = DedupQueries
          .bucketPairs(banded, col("band_idx"), col("band_val"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        val x = banded.select($"doc_id".as("doc_a"), $"band_idx", $"band_val")
        val y = banded.select($"doc_id".as("doc_b"), $"band_idx", $"band_val")
        val want = x.join(y, Seq("band_idx", "band_val"))
          .filter($"doc_a" < $"doc_b")
          .groupBy($"doc_a", $"doc_b")
          .agg(count(lit(1)).as("shared_bands"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        got == want
      }
    }
}
