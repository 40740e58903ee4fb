package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.VectorFunctions

/** Pins the curation-suite semantics on hand-built fixtures the sf
  * testdata can't isolate: planted contamination, degenerate-text
  * exclusion, fixed-point norm stats, and retention's week arithmetic. */
class CurationSpec extends SparkTestBase {
  import spark.implicits._

  private def run(name: String, dir: String = sf0001) =
    graft.SparkEntry.queries(name)(spark, dir)

  test("q_doc_decontaminate flags only docs sharing a 4-gram with src0") {
    val out = run("q_doc_decontaminate")
    val schema = out.columns.toSeq
    assert(schema === Seq("doc_id", "shared_gram_count"))
    // every flagged doc genuinely shares a distinct 4-gram inventory entry
    // with some benchmark doc: spot-check via a brute-force recompute
    val docs = graft.Tables.table(spark, sf0001, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", $"source",
        Shingles.of(spark, split(trim($"text"), "\\s+"), 4).as("grams"))
    val bench = docs.filter($"source" === "src0")
      .select(explode($"grams").as("g")).distinct()
      .as[String].collect().toSet
    val brute = docs.filter($"source" =!= "src0")
      .select($"doc_id", explode($"grams").as("g"))
      .filter($"g".isInCollection(bench.toSeq))
      .groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val got = out.as[(Long, Long)].collect().toMap
    assert(got === brute)
  }

  test("temperature mixture upweights small sources and conserves mass") {
    val rows = run("q_doc_mixture_temp").collect()
      .map(r => (r.getAs[Long]("token_sum"), r.getAs[Long]("weight_e6")))
    assert(rows.length > 1)
    // α = 0.5 < 1: weight must be non-increasing in source size
    val bySize = rows.sortBy(_._1)
    bySize.sliding(2).foreach { case Array((t1, w1), (t2, w2)) =>
      assert(w1 >= w2, s"weight not monotone: ($t1,$w1) vs ($t2,$w2)") }
    // resampling conserves total mass: Σ weight_i · natural_share_i = 1
    val total = rows.map(_._1).sum.toDouble
    val mass = rows.map { case (t, w) => w / 1e6 * (t / total) }.sum
    assert(math.abs(mass - 1.0) < 1e-4, s"mass $mass")
  }

  test("int8 quantization: error bounded by scale/2, zero vectors exact") {
    val tmp = java.nio.file.Files.createTempDirectory("quant").toString
    Seq(
      (0L, Array(1.0f, -0.5f, 0.25f, 127f), "a"),
      (1L, Array(0.0f, 0.0f, 0.0f, 0.0f), "a"),      // zero vector
      (2L, Array(-2.0f, 2.0f, 1.9999f, -0.0001f), "b"),
      (3L, null.asInstanceOf[Array[Float]], "b"),    // corrupt row
      (4L, Array.empty[Float], "b"))                 // empty vector
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val out = run("q_emb_quantize", tmp).collect()
    // degenerate vectors must APPEAR (n_dims 0, zero stats), not vanish —
    // they are the rows the pre-ANN audit exists to flag
    val dims = out.map(r => r.getAs[Long]("vec_id") ->
      r.getAs[Long]("n_dims")).toMap
    assert(dims(3L) === 0L && dims(4L) === 0L && dims(0L) === 4L)
    val rows = out
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getAs[Double]("max_abs_err"),
          r.getAs[Double]("mean_abs_err"))).toMap
    assert(rows(3L) === ((0.0, 0.0, 0.0)) && rows(4L) === ((0.0, 0.0, 0.0)))
    // scale = max|v|/127; worst-case rounding error is half a step
    val (s0, max0, mean0) = rows(0L)
    assert(math.abs(s0 - 1.0) < 1e-6)               // 127/127
    assert(max0 <= s0 / 2 + 1e-6 && mean0 <= max0)
    // the max element itself quantizes exactly (q = +-127)
    val (s2, max2, _) = rows(2L)
    assert(math.abs(s2 - 2.0 / 127) < 1e-6)
    assert(max2 <= s2 / 2 + 1e-6)
    // zero vector: scale 0, all-zero reconstruction, zero error
    assert(rows(1L) === ((0.0, 0.0, 0.0)))
  }

  test("leakage audit: degenerate texts are excluded, test rows only") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("curation").toString
    // doc_ids chosen so bucket = ((id%1000003)*31+7)%100: id=3 -> bucket 0
    // (test); id=17 -> bucket 34 (train). Null/whitespace docs carry a
    // gram-able twin id in the test split to prove exclusion.
    Seq(
      (3L, "a b c d e f", "en", "s1", 11L),     // test
      (103L, null.asInstanceOf[String], "en", "s1", 0L), // test bucket, null
      (203L, "   ", "en", "s1", 3L),            // test bucket, whitespace
      (17L, "a b c d e f g", "en", "s2", 13L),  // train, shares 5-grams
      (18L, "x y z w v u", "en", "s2", 11L))    // train, disjoint
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val buckets = Seq(3L, 103L, 203L, 17L, 18L)
      .map(id => id -> ((id % 1000003L) * 31L + 7L) % 100L).toMap
    assert(buckets(3L) < 10 && buckets(103L) < 10 && buckets(203L) < 10)
    assert(buckets(17L) >= 10 && buckets(18L) >= 10)
    val out = run("q_split_leakage", tmp).as[(Long, Long)].collect().toMap
    // doc 3's distinct 5-grams {"a b c d e","b c d e f"} both appear in
    // doc 17's inventory; null/whitespace docs must NOT leak (their
    // "empty gram" would otherwise match nothing anyway, but the filter
    // is what guarantees it at scale)
    assert(out === Map(3L -> 2L))
  }

  test("leakage cap bounds a hot-gram test-member list") {
    // 20 test docs (ids = 3 mod 100 -> bucket 0) and one train doc all
    // share the same two 5-grams; with maxBucket=3 only the first 3 test
    // members per (gram, side) survive into the collect_list, so the
    // audit reports 3 leaked docs instead of 20 — the buffer is bounded
    // by construction, not by corpus luck
    val tmp = java.nio.file.Files.createTempDirectory("leakcap").toString
    val text = "a b c d e f"
    val docs = (0 until 20).map(i => (3L + 100L * i, text)) :+ (17L, text)
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length($"text"))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    spark.conf.set("spark.graft.dedup.maxBucket", "3")
    try {
      val out = run("q_split_leakage", tmp).as[(Long, Long)].collect().toMap
      assert(out === Map(3L -> 2L, 103L -> 2L, 203L -> 2L))
    } finally spark.conf.unset("spark.graft.dedup.maxBucket")
  }

  test("q_emb_label_stats: fixed-point norms, exact group arithmetic") {
    val out = run("q_emb_label_stats")
    assert(out.columns.toSeq ===
      Seq("label", "vec_count", "min_norm", "avg_norm", "max_norm"))
    val rows = out.collect()
    assert(rows.length > 1)
    rows.foreach { r =>
      val (mn, av, mx) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(mn <= av && av <= mx)
      assert(mn > 0.0) // no zero vectors in the synthetic embeddings
    }
    // counts partition the table
    val total = rows.map(_.getLong(1)).sum
    assert(total ===
      graft.Tables.table(spark, sf0001, "embeddings").count())
  }

  test("VecNorm: sequential fold semantics and edges") {
    val out = Seq(
      (1L, Some(Seq(3.0, 4.0))),       // 5.0
      (2L, Some(Seq.empty[Double])),   // 0.0
      (3L, None))                      // null
      .toDF("id", "v")
      .select($"id", VectorFunctions.vecNorm($"v").as("n"))
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L) === Some(5.0))
    assert(out(2L) === Some(0.0))
    assert(out(3L) === None)
  }

  test("q_doc_tfidf: ranks are dense per doc and scores non-increasing") {
    val rows = run("q_doc_tfidf")
      .select($"doc_id", $"rank", $"tfidf")
      .as[(Long, Int, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq === (1 to sorted.length))
      assert(sorted.length <= 5)
      // score ordering must agree with rank ordering
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._3 >= b._3)
        case _ =>
      }
    }
  }

  test("q_doc_chunks: stride-15/width-20 windows tile each document") {
    val chunks = run("q_doc_chunks")
      .select($"doc_id", $"chunk_index", $"chunk_tokens")
      .as[(Long, Int, Int)].collect()
    val nToks = graft.Tables.table(spark, sf0001, "documents")
      .filter(length(trim($"text")) > 0)
      .select($"doc_id", size(split(trim($"text"), "\\s+")).as("n"))
      .as[(Long, Int)].collect().toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (doc, cs) =>
      val n = nToks(doc)
      val sorted = cs.sortBy(_._2)
      // chunk_index is dense from 0; starts are 1, 16, 31, ... but only
      // while the window adds uncovered tokens (start <= n - 5)
      assert(sorted.map(_._2).toSeq === sorted.indices.toSeq)
      assert(sorted.length === (math.max(n - 5, 1) - 1) / 15 + 1)
      sorted.foreach { case (_, idx, ct) =>
        assert(ct === math.min(20, n - idx * 15))
        // no chunk is wholly contained in its predecessor
        if (idx > 0) assert(ct > 5)
      }
      // the windows jointly cover every token exactly
      assert(sorted.map { case (_, idx, ct) => idx * 15 + ct }.max === n)
    }
  }

  test("q_doc_vocab: exact counts, frequency-ordered top 50") {
    val rows = run("q_doc_vocab")
      .as[(String, Long, Long)].collect()
    assert(rows.length === 50 ||
      rows.length < 50) // tiny sf may have < 50 distinct tokens
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      case _ =>
    }
    rows.foreach { case (_, freq, docFreq) =>
      assert(docFreq <= freq && docFreq >= 1)
    }
  }

  test("q_doc_collocations: lift-ordered, floor respected, parts real") {
    val rows = run("q_doc_collocations")
      .as[(String, Long, Double)].collect()
    assert(rows.nonEmpty && rows.length <= 30)
    rows.foreach { case (_, cxy, lift) =>
      assert(cxy >= 5)
      assert(lift > 0.0)
    }
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
      case _ =>
    }
    // every bigram's parts are corpus tokens with at least c_xy occurrences
    val vocab = graft.Tables.table(spark, sf0001, "documents")
      .filter(length(trim($"text")) > 0)
      .select(explode(split(trim(lower($"text")), "\\s+")).as("t"))
      .groupBy($"t").count()
      .as[(String, Long)].collect().toMap
    rows.foreach { case (bg, cxy, _) =>
      bg.split(" ").foreach { part =>
        assert(vocab.getOrElse(part, 0L) >= cxy, s"$bg / $part")
      }
    }
  }

  test("q_curation_pipeline: substring stage drops partial copies among " +
      "exact-dedup survivors, with the drop reason counted per cell") {
    // Pins the composed pipeline's stage ORDER and the drop-reason
    // columns: (1) the exact stage removes verbatim full copies BEFORE
    // the substring detector runs (so they never count as substring
    // drops), (2) a >= 15-token partial copy among the exact survivors
    // is flagged and excluded with its reason counted, (3) the LM floor
    // drops the all-singleton-token doc — and ONLY it: docs whose tokens
    // repeat across the corpus clear the threshold, including the
    // 5-token doc that must fall through to (4) the quality guard, while
    // (5) sampling stays a reason-less map-side filter. The LM trains on
    // the exact-dedup survivors (including the substring-flagged doc —
    // see the query comment for why that is both sound and the cheap
    // plan), and a low-LM doc is counted whether or not sampling would
    // also have dropped it (reason precedence is stage order).
    val dir = java.nio.file.Files.createTempDirectory("curation_fixture")
      .toString
    def words(r: Range, tag: String = "w") =
      r.map(i => s"$tag$i").mkString(" ")
    Seq(
      1L -> words(1 to 20),                    // survives every stage
      2L -> words(1 to 20),                    // exact dup of 1: dropped first
      3L -> (words(1 to 15) + " " + words(1 to 9, "z")), // 15-run vs 1
      4L -> words(1 to 5),                     // < 10 tokens: quality drop
                                               // (tokens shared with 1/5,
                                               // so the LM floor passes it)
      5L -> words(20 to 1 by -1),              // reversed: no exact dup, no
                                               // 5-gram run; bucket 62 >= 50
                                               // -> sampled out
      6L -> words(1 to 12, "z2"),              // 12 singleton tokens >= 10:
                                               // ONLY the LM floor can and
                                               // must drop it
      7L -> ((2 to 20 by 2).map(i => s"w$i") ++ // interleaved shuffle of
        (1 to 19 by 2).map(i => s"w$i"))        // doc 1's tokens: no exact
        .mkString(" "))                         // dup, no 5-gram run, LM-
                                                // shared tokens, bucket 24
                                                // < 50 — bucket 24 is also
                                                // < 30, so the classifier's
                                                // injected label fires and
                                                // ONLY the LR stage drops it
      .map { case (id, text) => (id, text, "en", "srcA", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$dir/documents.parquet")
    val rows = run("q_curation_pipeline", dir).collect()
    assert(rows.length === 1, rows.mkString("; "))
    val r = rows.head
    assert(r.getAs[String]("lang") === "en")
    assert(r.getAs[String]("source") === "srcA")
    assert(r.getAs[Long]("kept_docs") === 1L)
    assert(r.getAs[Long]("kept_tokens") === 20L)
    // doc 3 is the ONLY substring drop: doc 2, a verbatim full copy of
    // doc 1, was collapsed by the exact stage and never reached the
    // pairing machinery — had the stages run in the other order it
    // would flag too and this count would read 2
    assert(r.getAs[Long]("dropped_substring") === 1L)
    // doc 6 is the ONLY LM-floor drop: every one of its 12 tokens is a
    // corpus singleton, so its mean log-prob IS the singleton floor —
    // margin below threshold by construction. Docs 1/4/5/7 share tokens
    // (corpus counts 2-5 with doc 3 training) and sit well ABOVE the
    // threshold; doc 3's own score is moot (already a substring drop,
    // and reasons don't double-count)
    assert(r.getAs[Long]("dropped_low_lm") === 1L)
    // doc 7 is the ONLY classifier drop: its injection bucket (24 < 30)
    // carries the trained-label signature, and it clears every earlier
    // stage (no exact dup, no 5-gram run, LM-shared tokens). Doc 3 is
    // ALSO classifier-flagged (bucket 0), but stage precedence
    // attributes it to the substring detector — were precedence broken,
    // this would read 2
    assert(r.getAs[Long]("dropped_lr") === 1L)
  }

  test("retention: offsets are whole weeks from each user's first week") {
    val out = run("q_events_retention")
    val rows = out.collect()
    assert(rows.nonEmpty)
    // week 0 of every cohort contains the cohort's own first activity, so
    // offset 0 must exist for every cohort_week present
    val byCohort = rows.groupBy(_.get(0))
    byCohort.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).min === 0)
    }
    // active_users at offset 0 equals the cohort size (every user is
    // active in their own first week by definition)
    val cohortSizes = graft.Tables.table(spark, sf0001, "events")
      .groupBy($"user_id")
      .agg(date_trunc("week", min($"ts")).as("w"))
      .groupBy($"w").count()
      .collect().map(r => (r.get(0), r.getLong(1))).toMap
    byCohort.foreach { case (w, rs) =>
      val zero = rs.find(_.getInt(1) == 0).get.getLong(2)
      assert(zero === cohortSizes(w))
    }
  }
}
