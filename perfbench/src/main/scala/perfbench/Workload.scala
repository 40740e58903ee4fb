package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark workload: seeded inputs, a pass made of calls into the
  * library, and the checks on that pass's outputs.
  *
  * A pass's time is the sum of its child spans, the calls into the library;
  * checks run between or after them, untimed. Every call is issued only
  * after the previous one has returned (one client, closed loop).
  */
trait Workload {
  def name: String

  /** Span name of one operation, the unit of op_p50_s, ops_per_s and the
    * op_p90_s line on stderr. */
  def opSpan: String

  /** Writes the seeded inputs under `dir` and builds anything the passes
    * read but never change. Called several times into fresh directories;
    * the last call's inputs are the ones the passes use. */
  def setUp(dir: Path, seed: Long): Unit

  /** One pass inside `tr.span("pass")`, writing scratch output under `dir`. */
  def pass(tr: Tracer, dir: Path): Workload.Pass

  /** Bytes stored per row of the data the workload leaves behind. */
  def storedBytesPerRow: Double

  /** Workload-specific per-layer values, by metric name; every name the
    * workload does not report reads as 0 (the layer does no work there). */
  def layerValues(tr: Tracer, work: Map[Int, Tracer.Work]): Map[String, Double] = Map.empty
}

object Workload {
  /** A pass's failed output checks and the input rows it consumed. */
  final case class Pass(failures: Seq[String], rows: Long)

  def apply(name: String, spark: SparkSession): Workload = name match {
    case "hr_etl" => new HrEtl(spark)
    case "store_ingest" => new StoreIngest(spark)
    case "corpus_dedup" => new CorpusDedup(spark)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val names: Seq[String] = Seq("hr_etl", "store_ingest", "corpus_dedup")

  private def walk(p: Path): List[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toList finally s.close()
    }

  def deleteTree(p: Path): Unit = walk(p).reverse.foreach(Files.delete)

  /** Total bytes of the regular files under `p` whose names satisfy `keep`. */
  def bytesUnder(p: Path, keep: String => Boolean = _ => true): Long =
    walk(p).filter(f => Files.isRegularFile(f) && keep(f.getFileName.toString))
      .map(f => Files.size(f)).sum

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
