package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** Six corpus queries from `SparkEntry.allQueries`, in turn, over a seeded
  * `documents.parquet` with planted exact, near and substring duplicates.
  * Each query's collected output is checked against a property the
  * generator guarantees.
  */
final class CorpusDedup(spark: SparkSession) extends Workload {
  import CorpusDedup._

  val name = "corpus_dedup"
  val opSpan = "pass"

  private var corpus: CorpusGen.Corpus = _
  private var dir: String = _
  private var fileBytesPerRow = Double.NaN

  def setUp(d: Path, seed: Long): Unit = {
    import spark.implicits._
    corpus = CorpusGen.generate(seed, Originals)
    dir = d.toString
    corpus.docs.map(x => (x.id, x.text, x.lang, x.source, x.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(d.resolve("documents.parquet").toString)
    fileBytesPerRow = Workload.bytesUnder(d.resolve("documents.parquet"),
      _.endsWith(".parquet")).toDouble / corpus.docs.size
  }

  def storedBytesPerRow: Double = fileBytesPerRow

  def pass(tr: Tracer, scratch: Path): Workload.Pass = {
    val out = tr.span("pass", op = true) {
      Queries.map(q => q -> tr.span(s"queries.$q")(
        SparkEntry.allQueries(q)(spark, dir).collect().toSeq))
    }
    Workload.Pass(out.flatMap { case (q, rows) => check(q, rows).map(m => s"$q: $m") },
      corpus.docs.size.toLong * Queries.size)
  }

  /** Failed properties of one query's output. */
  def check(q: String, rows: Seq[Row]): Seq[String] = {
    val p = corpus.planted
    val ids = corpus.docs.map(_.id).toSet
    q match {
      case "q_dedup_exact" =>
        // (fingerprint, keep_doc_id, copy_count)
        val extra = rows.map(_.getAs[Long]("copy_count") - 1L).sum
        val groups = rows.count(_.getAs[Long]("copy_count") > 1L)
        val keeps = rows.filter(_.getAs[Long]("copy_count") > 1L)
          .map(_.getAs[Long]("keep_doc_id")).toSet
        val want = p.exact.map { case (a, b) => math.min(a, b) }.toSet
        Seq(
          if (extra != p.exact.size) Some(s"$extra extra copies, planted ${p.exact.size}") else None,
          if (groups != p.exact.size) Some(s"$groups duplicate groups, planted ${p.exact.size}") else None,
          if (keeps != want) Some("kept ids differ from the planted originals") else None).flatten
      case "q_dedup_clusters" =>
        // (doc_id, keep_doc_id) for every doc that is not its cluster's keeper
        val keep = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep_doc_id")).toMap
        def k(id: Long) = keep.getOrElse(id, id)
        val exactSplit = p.exact.count { case (a, b) => k(a) != k(b) }
        val nearFound = p.near.count { case (a, b) => k(a) == k(b) }
        Seq(
          if (exactSplit > 0) Some(s"$exactSplit exact copies outside their original's cluster") else None,
          if (nearFound < MinNearRecall * p.near.size)
            Some(s"$nearFound of ${p.near.size} near copies in their original's cluster") else None,
          if (!keep.keySet.forall(ids)) Some("unknown doc ids") else None).flatten
      case "q_dedup_simhash" =>
        val pairs = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
        val missing = p.exact.count { case (a, b) => !pairs((math.min(a, b), math.max(a, b))) }
        Seq(
          if (missing > 0) Some(s"$missing planted exact pairs missing") else None,
          if (!pairs.forall { case (a, b) => a < b && ids(a) && ids(b) })
            Some("malformed pairs") else None).flatten
      case "q_dedup_substring" =>
        // (doc_id, dup_of, run_tokens): later docs sharing a long run
        val flagged = rows.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("run_tokens")).toMap
        val subMissed = p.substring.count { case (a, b) =>
          !flagged.get(math.max(a, b)).exists(_ >= CorpusGen.SubstringRun) }
        val exactMissed = p.exact.count { case (a, b) => !flagged.contains(math.max(a, b)) }
        Seq(
          if (subMissed > 0) Some(s"$subMissed planted substring copies not flagged") else None,
          if (exactMissed > 0) Some(s"$exactMissed planted exact copies not flagged") else None).flatten
      case "q_doc_bpe_train" =>
        // (rank, lhs, rhs, pair_count): greedy merges, so counts never rise
        val counts = rows.map(_.getAs[Long]("pair_count"))
        Seq(
          if (rows.map(_.getAs[Int]("rank")) != (1 to rows.size)) Some("ranks not 1..n") else None,
          if (rows.isEmpty || counts.exists(_ <= 0L)) Some("empty or non-positive counts") else None,
          if (counts.zip(counts.drop(1)).exists { case (a, b) => b > a })
            Some("pair counts rise between merges") else None).flatten
      case "q_doc_quality_lr_eval" =>
        // one row per score bucket; cumulative from the top bucket down
        val n = rows.map(_.getAs[Long]("n_docs")).sum
        val top = rows.map(_.getAs[Long]("cum_docs")).maxOption.getOrElse(0L)
        Seq(
          if (n != corpus.docs.size) Some(s"buckets hold $n docs, corpus has ${corpus.docs.size}") else None,
          if (top != n) Some(s"cumulative docs end at $top, not $n") else None,
          if (!rows.forall(r => (0L to 9L).contains(r.getAs[Long]("bucket"))))
            Some("bucket outside 0..9") else None).flatten
    }
  }
}

object CorpusDedup {
  val Originals = 200
  val Queries: Seq[String] = Seq("q_dedup_exact", "q_dedup_clusters", "q_dedup_simhash",
    "q_dedup_substring", "q_doc_bpe_train", "q_doc_quality_lr_eval")
  /** Near copies differ from their original in one token of 40 or more: a
    * 3-shingle Jaccard of at least 0.85, which the 8 MinHash bands of 4
    * rows miss with probability below 3e-3 per pair. Fewer than 90% found
    * is a defect, not bad luck. */
  val MinNearRecall = 0.9
}
