package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck properties for the pure expression layer (SURVEY.md §5.3),
  * evaluated through real Spark plans on generated single-column frames.
  * Written as native ScalaCheck Properties (the scalatest bridge artifact
  * is not on the offline classpath).
  */
object CleanPropsSpec extends Properties("Clean") {

  // the session SparkTestBase shares, whichever suite asks first
  private lazy val spark: SparkSession = graft.Session.get("local[4]")

  import spark.implicits._

  property("bucket3 monotone: higher value never maps to a lower bucket") =
    Prop.forAll(Gen.listOfN(20, Gen.choose(0.0, 200000.0))) { vs0 =>
      vs0.isEmpty || {
        val rank = Map("Low" -> 0, "Medium" -> 1, "High" -> 2)
        val buckets = vs0.sorted.toDF("v")
          .select(Clean.bucket3($"v", 50000, 80000).as("b"))
          .as[String].collect().toSeq.map(rank)
        // collect preserves the input order of a narrow local plan, but
        // sort defensively on the value to avoid order assumptions
        buckets.zip(buckets.tail).forall { case (a, b) => a <= b } ||
          buckets.sorted == buckets
      }
    }

  property("roundHalfUp(x,2) within 0.005 of x and idempotent") =
    Prop.forAll(Gen.listOfN(20, Gen.choose(0.0, 1000000.0))) { vs0 =>
      vs0.isEmpty || {
        val out = vs0.toDF("v")
          .select($"v", Clean.roundHalfUp($"v", 2).as("r"),
            Clean.roundHalfUp(Clean.roundHalfUp($"v", 2), 2).as("rr"))
          .as[(Double, Double, Double)].collect()
        out.forall { case (v, r, rr) =>
          math.abs(r - v) <= 0.005 + 1e-9 && r == rr
        }
      }
    }

  property("neqKeepNull keeps nulls and non-matching values exactly") =
    Prop.forAll(Gen.listOfN(20, Gen.option(Gen.oneOf("a", "b", "c")))) { vs =>
      val kept = vs.toDF("v")
        .filter(Clean.neqKeepNull($"v", "b"))
        .as[Option[String]].collect().toSeq
      kept.sortBy(_.getOrElse("")) ==
        vs.filter(v => v.isEmpty || v.get != "b").sortBy(_.getOrElse(""))
    }

  property("fkSentinel never null, preserves non-null keys") =
    Prop.forAll(Gen.listOfN(20, Gen.option(Gen.choose(1L, 1000L)))) { vs =>
      val out = vs.toDF("v").select(Clean.fkSentinel($"v").as("s"))
        .as[Long].collect().toSeq
      out.sorted == vs.map(_.getOrElse(-1L)).sorted
    }

  property("eqFlag is never null and true only on equality") =
    Prop.forAll(Gen.listOfN(20,
      Gen.zip(Gen.option(Gen.choose(0L, 3L)), Gen.choose(0L, 3L)))) { vs =>
      val out = vs.toDF("a", "b")
        .select(Clean.eqFlag($"a", $"b").as("f"))
        .as[Boolean].collect().toSeq
      out.count(identity) ==
        vs.count { case (a, b) => a.contains(b) }
    }
}
