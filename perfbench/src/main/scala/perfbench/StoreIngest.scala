package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum, xxhash64}

import graft.sources.SnapshotStore

/** A full `SnapshotStore` maintenance cycle on a fresh root each pass, with
  * reads of the store while it is fragmented:
  *
  *  1. `init` from the seeded init rows;
  *  2. [[StoreIngest.Increments]] keep-first `compact` appends of
  *     [[StoreIngest.IncrementRows]] rows each — fewer rows than partitions
  *     times cores, so the cycle is dominated by the per-commit write path
  *     (write job, renames, footer stats, segments, claim), not by volume;
  *  3. one `retract` touching [[StoreGen.RetractParts]] partitions;
  *  4. the read mix [[StoreIngest.Reads]] on the fragmented, multi-version
  *     store: selective `readRange` on the clustered key `k` (each after a
  *     standalone `SnapshotStore.current`), a full `read` with an
  *     aggregate, `readAt` on an old version, and `diff` against one;
  *  5. `binPack`, then `vacuum`.
  *
  * The operation counted by op_p50_s and ops_per_s is one compact commit.
  * The reads make a change that trades commit cost against file count show
  * its read-side cost in the same pass.
  */
final class StoreIngest(spark: SparkSession) extends Workload {
  import StoreIngest._

  val name = "store_ingest"
  val opSpan = "sources.compact"

  private var cycle: StoreGen.Cycle = _
  private var src: Path = _
  private var rnd: SplittableRandom = _
  /** Live rows of version v + 1: init, one per increment, then the retract. */
  private var byVersion: IndexedSeq[Seq[StoreGen.Row]] = _
  private var passNo = 0
  private var liveBytesPerRow = Double.NaN
  private val filesPerCommit = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val writeAmp = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val plannedRatio = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setUp(dir: Path, seed: Long): Unit = {
    cycle = StoreGen.generate(seed, InitRows, Increments, IncrementRows, RetractRows)
    src = dir.resolve("src")
    writeSource(spark, cycle, src)
    byVersion = (0 to Increments).map(n => cycle.liveAfter(n)) :+ cycle.live
    rnd = new SplittableRandom(seed ^ 0x5ca1ab1eL)
  }

  def storedBytesPerRow: Double = liveBytesPerRow

  def pass(tr: Tracer, dir: Path): Workload.Pass = {
    passNo += 1
    val root = dir.resolve(s"store-$passNo").toString
    val failures = Seq.newBuilder[String]
    var written = 0L
    var readRows = 0L
    def newFiles(before: SnapshotStore.Snapshot, after: SnapshotStore.Snapshot) = {
      val added = after.files.toSet -- before.files
      written += added.toSeq.map(f => after.stats.get(f).map(_.bytes).getOrElse(0L)).sum
      added.size
    }
    tr.span("pass", op = true) {
      var snap = tr.span("sources.init")(
        SnapshotStore.init(spark, root, initFrame(spark, src), "pt"))
      newFiles(SnapshotStore.Snapshot(0L, Nil), snap)
      for (i <- cycle.increments.indices) {
        val inc = incrementFrame(spark, src, i)
        val (admitted, next) = tr.span("sources.compact", op = true)(
          SnapshotStore.compact(spark, root, inc, Seq("id"), "pt"))
        filesPerCommit += newFiles(snap, next).toDouble
        val want = cycle.increments(i).size - StoreGen.Repeats
        if (admitted != want) failures += s"compact $i admitted $admitted, expected $want"
        snap = next
      }
      val (_, removed, afterRetract) = tr.span("sources.retract")(
        SnapshotStore.retract(spark, root, retractFrame(spark, src), Seq("id"), "pt"))
      newFiles(snap, afterRetract)
      if (removed != cycle.retract.size)
        failures += s"retract removed $removed, expected ${cycle.retract.size}"
      Reads.foreach { kind =>
        val (rows, failure) = read(tr, root, kind, afterRetract.files.size)
        readRows += rows
        failures ++= failure
      }
      val (_, _, packed) = tr.span("sources.binpack")(SnapshotStore.binPack(spark, root))
      newFiles(afterRetract, packed)
      // time travel is checked before vacuum retires version 1
      val v1 = fingerprint(SnapshotStore.readAt(spark, root, 1L))
      val init = fingerprint(initFrame(spark, src))
      if (v1 != init) failures += s"readAt(1) $v1 differs from the init rows $init"
      tr.span("sources.vacuum")(SnapshotStore.vacuum(spark, root))
    }

    val cur = SnapshotStore.current(spark, root)
    val live = cycle.live
    val got = fingerprint(SnapshotStore.read(spark, root, cur))
    if (got._1 != live.size || got._2 != live.map(_.id).sum)
      failures += s"current rows (count, id sum) = (${got._1}, ${got._2}), " +
        s"expected (${live.size}, ${live.map(_.id).sum})"
    failures ++= unreferencedFiles(spark, root).map(f =>
      s"vacuum left $f unreferenced by the retained manifests")
    val liveBytes = cur.files.map(f => cur.stats.get(f).map(_.bytes).getOrElse(0L)).sum
    liveBytesPerRow = liveBytes.toDouble / live.size
    writeAmp += written.toDouble / liveBytes
    Workload.deleteTree(Path.of(root))
    Workload.Pass(failures.result(), cycle.rowsIn + readRows)
  }

  /** One read of the mix as its own span; returns the rows it returned and
    * the failed check, if any. Expected results come from the generator's
    * key sets, version by version. */
  private def read(tr: Tracer, root: String, kind: String,
                   liveFiles: Int): (Long, Option[String]) = {
    def planned(d: DataFrame): DataFrame = { d.queryExecution.executedPlan; d }
    val current = byVersion.last
    kind match {
      case "range" =>
        val lo = rnd.nextLong(current.map(_.k).max)
        val hi = lo + RangeWidth
        val (df, got) = tr.span("sources.read") {
          val snap = tr.span("sources.resolve")(SnapshotStore.current(spark, root))
          val df = tr.span("sources.read_plan")(
            planned(SnapshotStore.readRange(spark, root, "k", lo, hi, snap)))
          (df, tr.span("sources.read_exec")(df.select("id").collect().map(_.getLong(0))))
        }
        if (tr.tracing) plannedRatio += df.inputFiles.length.toDouble / liveFiles
        val want = current.filter(r => r.k >= lo && r.k <= hi).map(_.id).sorted
        (got.length.toLong, Option.when(got.sorted.toSeq != want)(
          s"readRange k in [$lo, $hi] returned ${got.length} rows, expected ${want.size}"))
      case "full" =>
        val r = tr.span("sources.read") {
          val df = tr.span("sources.read_plan")(planned(
            SnapshotStore.read(spark, root).agg(count(lit(1)), sum(col("id")))))
          tr.span("sources.read_exec")(df.collect()(0))
        }
        val want = (current.size.toLong, current.map(_.id).sum)
        (want._1, Option.when((r.getLong(0), r.getLong(1)) != want)(
          s"full read (count, id sum) = $r, expected $want"))
      case "at" =>
        val v = 1 + rnd.nextInt(Increments) // an old version, never the current one
        val n = tr.span("sources.read") {
          val df = tr.span("sources.read_plan")(planned(SnapshotStore.readAt(spark, root, v)))
          tr.span("sources.read_exec")(df.count())
        }
        val want = byVersion(v - 1).size.toLong
        (n, Option.when(n != want)(s"readAt($v) has $n rows, expected $want"))
      case "diff" =>
        val from = 1 + rnd.nextInt(Increments)
        val to = byVersion.size
        val got = tr.span("sources.read") {
          val df = tr.span("sources.read_plan")(planned(
            SnapshotStore.diff(spark, root, from, to, Seq("id")).groupBy("change_type").count()))
          tr.span("sources.read_exec")(
            df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
        }
        val a = byVersion(from - 1).map(_.id).toSet
        val b = current.map(_.id).toSet
        val want = Map("added" -> (b -- a).size.toLong, "removed" -> (a -- b).size.toLong)
          .filter(_._2 > 0)
        (want.values.sum, Option.when(got != want)(s"diff($from, $to) = $got, expected $want"))
    }
  }

  override def layerValues(tr: Tracer, work: Map[Int, Tracer.Work]): Map[String, Double] = {
    def jobs(name: String) = Workload.median(tr.named(name).filter(_.traced).map(s =>
      work.get(s.id).map(_.jobs.toDouble).getOrElse(0.0)))
    val commits = tr.named("sources.compact").filter(_.traced)
    Map(
      "sources.files_per_commit" -> Workload.median(filesPerCommit.toSeq),
      "sources.write_amp" -> Workload.median(writeAmp.toSeq),
      "sources.commit_jobs" -> jobs("sources.compact"),
      "sources.commit_driver_s" -> Workload.median(commits.map(s =>
        s.seconds - work.get(s.id).map(_.unionMs / 1000.0).getOrElse(0.0))),
      "sources.files_planned_ratio" -> Workload.median(plannedRatio.toSeq),
      "sources.read_jobs" -> jobs("sources.read"))
  }
}

object StoreIngest {
  val InitRows = 4000
  val Increments = 10
  val IncrementRows = 12
  val RetractRows = 30
  /** Width of a range read on `k`: about 50 rows. */
  val RangeWidth = 500L
  /** The read mix of one pass, in order. */
  val Reads: Seq[String] = Seq.fill(6)("range") ++ Seq("full", "at", "diff")

  /** Writes a cycle's rows as parquet: the init rows, the increments (one
    * `inc` partition each) and the retraction keys. */
  def writeSource(spark: SparkSession, c: StoreGen.Cycle, dir: Path): Unit = {
    import spark.implicits._
    c.init.toDF().coalesce(1).write.parquet(dir.resolve("init").toString)
    c.increments.zipWithIndex.flatMap { case (rows, i) =>
      rows.map(r => (r.id, r.k, r.v, r.tag, r.pt, i)) }
      .toDF("id", "k", "v", "tag", "pt", "inc")
      .repartition(col("inc")).write.partitionBy("inc").parquet(dir.resolve("inc").toString)
    c.retract.map(id => (id, StoreGen.partitionOf(id))).toDF("id", "pt")
      .coalesce(1).write.parquet(dir.resolve("retract").toString)
  }

  def initFrame(spark: SparkSession, dir: Path): DataFrame =
    spark.read.parquet(dir.resolve("init").toString)

  def incrementFrame(spark: SparkSession, dir: Path, i: Int): DataFrame =
    spark.read.parquet(dir.resolve("inc").toString).filter(col("inc") === i).drop("inc")

  def retractFrame(spark: SparkSession, dir: Path): DataFrame =
    spark.read.parquet(dir.resolve("retract").toString)

  /** (rows, sum of ids, sum of a bounded hash of every column): equal
    * fingerprints mean equal row multisets, up to hash collisions. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("id")),
      sum(pmod(xxhash64(col("id"), col("k"), col("v"), col("tag"), col("pt")), lit(1000003L))))
      .collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  /** Data files under the store's `data/` that neither retained manifest
    * (the current version and the one before it) lists. */
  def unreferencedFiles(spark: SparkSession, root: String): Seq[String] = {
    val cur = SnapshotStore.current(spark, root)
    val retained = Seq(cur) ++
      (if (cur.version > 1) Seq(SnapshotStore.snapshotAt(spark, root, cur.version - 1)) else Nil)
    val referenced = retained.flatMap(_.files).map(_.stripPrefix("-")).toSet
    val data = Path.of(root, "data")
    if (!Files.exists(data)) Nil
    else {
      val files = Files.walk(data)
      try files.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .map(p => data.relativize(p).toString)
        // the local filesystem's checksum siblings go with their data file
        .filterNot(n => n.endsWith(".crc") || referenced(n)).toList
      finally files.close()
    }
  }
}
