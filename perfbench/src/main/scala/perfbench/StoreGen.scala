package perfbench

import java.util.SplittableRandom

/** Seeded rows for the snapshot-store workloads: an initial load, a series
  * of small increments, and a retraction list, all keyed by `id`.
  *
  * `k` is a clustered key: it grows with `id`, so each commit's files span
  * a narrow `k` range and range reads can skip files by their manifest
  * bounds. `pt` routes rows over [[Partitions]] partitions. Every increment
  * repeats [[Repeats]] ids already in the store, which keep-first admission
  * must drop; increments never repeat an id within themselves. The
  * retraction list takes ids from [[RetractParts]] partitions only.
  */
object StoreGen {

  case class Row(id: Long, k: Long, v: Double, tag: String, pt: Int)

  case class Cycle(init: Seq[Row], increments: Seq[Seq[Row]], retract: Seq[Long]) {
    /** Live rows after the retraction: the key-set algebra the store must
      * reproduce (init, plus each increment's new ids, minus retracted). */
    def live: Seq[Row] = liveAfter(increments.size, withRetract = true)

    /** Live rows after the first `n` increments, before any retraction. */
    def liveAfter(n: Int, withRetract: Boolean = false): Seq[Row] = {
      val seen = scala.collection.mutable.LinkedHashMap.empty[Long, Row]
      (init +: increments.take(n)).foreach(_.foreach(r =>
        if (!seen.contains(r.id)) seen(r.id) = r))
      val dead = if (withRetract) retract.toSet else Set.empty[Long]
      seen.valuesIterator.filterNot(r => dead(r.id)).toSeq
    }

    def rowsIn: Long = (init.size + increments.map(_.size).sum + retract.size).toLong
  }

  val Partitions = 8
  val Repeats = 3
  val RetractParts = 3

  private def row(r: SplittableRandom, id: Long): Row =
    Row(id, id * 10 + r.nextInt(10), (r.nextInt(1000000) / 100.0),
      "t" + Integer.toString(r.nextInt(1 << 20), 36), partitionOf(id))

  def partitionOf(id: Long): Int = Math.floorMod(((id * 2654435761L) >>> 16).toInt, Partitions)

  def generate(seed: Long, initRows: Int, increments: Int, incRows: Int,
               retractRows: Int): Cycle = {
    require(incRows > Repeats, s"increments need more than $Repeats rows")
    val r = new SplittableRandom(seed)
    val init = (0L until initRows.toLong).map(row(r, _))
    var next = initRows.toLong
    val incs = (0 until increments).map { _ =>
      val fresh = (next until next + incRows - Repeats).map(row(r, _))
      // ids the store already holds, with different payloads
      val repeats = (0 until Repeats).map(_ => row(r, r.nextLong(next))).distinctBy(_.id)
      next += incRows - Repeats
      fresh ++ repeats
    }
    val parts = r.ints(0, Partitions).distinct().limit(RetractParts.toLong).toArray.toSet
    val candidates = (0L until next).filter(id => parts(partitionOf(id)))
    val retract = (0 until retractRows).map(_ => candidates(r.nextInt(candidates.size)))
      .distinct
    Cycle(init, incs, retract)
  }
}
