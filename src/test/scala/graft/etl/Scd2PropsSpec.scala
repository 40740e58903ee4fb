package graft.etl

import java.sql.Date

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck invariants for the SCD2 merge, applied over RANDOM update
  * sequences — the example-based Scd2Spec pins the three named cases;
  * these properties pin what must hold for ANY update history:
  *  - exactly one current row per live business key,
  *  - an as-of read returns at most one version per key (validity
  *    intervals never overlap),
  *  - versions chain: every closed row's valid_to is a later batch's
  *    effective date, and current rows have null valid_to,
  *  - re-applying the final batch is a no-op (idempotence).
  * Native ScalaCheck Properties (the scalatest bridge artifact is not on
  * the offline classpath). */
object Scd2PropsSpec extends Properties("Scd2") {

  // each case drives ~10 Spark jobs; 12 random histories exercise the
  // interleavings without turning the suite into a benchmark
  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters = p.withMinSuccessfulTests(12)

  // the session SparkTestBase shares, whichever suite asks first
  private lazy val spark: SparkSession = graft.Session.get("local[4]")

  import spark.implicits._

  /** A batch: key -> attribute value (one row per key by construction). */
  private val genBatch: Gen[Map[Long, Int]] =
    Gen.mapOf(Gen.zip(Gen.choose(1L, 8L), Gen.choose(0, 3)))

  private def toDf(batch: Map[Long, Int]) =
    batch.toSeq.toDF("k", "attr")

  private val dates =
    (1 to 6).map(i => Date.valueOf(f"2026-${i}%02d-01"))

  property("one current row per key; as-of unique; idempotent") =
    Prop.forAll(Gen.zip(genBatch.suchThat(_.nonEmpty),
      Gen.listOfN(3, genBatch))) { case (init, batches) =>
      var hist = Scd2.init(toDf(init), dates.head)
      batches.zipWithIndex.foreach { case (b, i) =>
        if (b.nonEmpty)
          hist = Scd2.applyChanges(hist, toDf(b), "k", dates(i + 1), Seq("attr"))
      }
      val rows = hist.select($"k", $"attr", $"valid_from", $"valid_to",
        $"is_current").collect()

      // exactly one current row per key ever seen
      val liveKeys = (init.keySet ++ batches.flatMap(_.keySet)).filter { k =>
        init.contains(k) || batches.exists(_.contains(k))
      }
      val currentPerKey = rows.filter(_.getBoolean(4))
        .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
      val oneCurrent = liveKeys.forall(k => currentPerKey.getOrElse(k, 0) == 1)

      // current rows have null valid_to; closed rows a non-null one
      val validToShape = rows.forall { r =>
        if (r.getBoolean(4)) r.isNullAt(3) else !r.isNullAt(3)
      }

      // as-of any probe date: at most one version per key (no interval
      // overlap), and that version's valid_from <= d < valid_to
      val asOfUnique = dates.forall { d =>
        val counts = Scd2.asOf(hist, d).groupBy($"k").count()
          .as[(Long, Long)].collect()
        counts.forall(_._2 == 1L)
      }

      // idempotence: re-applying the LAST batch at a later date changes
      // nothing (every key's attributes already match)
      val last = batches.reverse.find(_.nonEmpty)
      val idempotent = last.forall { b =>
        Scd2.applyChanges(hist, toDf(b), "k", dates(5), Seq("attr"))
          .count() == hist.count()
      }

      oneCurrent && validToShape && asOfUnique && idempotent
    }
}
