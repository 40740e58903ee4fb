package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** TopKLongs: bounded-state correctness against the sort-based truth,
  * including the partial-aggregate merge path (many input partitions)
  * and null/small-group edges. */
class TopKSpec extends SparkTestBase {
  import spark.implicits._

  test("topk_longs equals slice(sorted collect_list) across many partitions") {
    // 40 partitions force map-side partials + a real merge phase; values
    // collide across groups to exercise duplicate handling
    val df = spark.range(0, 10000, 1, 40)
      .select(($"id" % 7).as("g"), (($"id" * 2654435761L) % 1000).as("v"))
    val got = df.groupBy($"g")
      .agg(TopKFunctions.topkLongs($"v", 8).as("top"))
    val want = df.groupBy($"g")
      .agg(slice(reverse(array_sort(collect_list($"v"))), 1, 8).as("top"))
    val g = got.orderBy("g").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val w = want.orderBy("g").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(g.toSeq === w.toSeq)
  }

  test("nulls are skipped; groups smaller than k yield short arrays") {
    val df = Seq[(String, Option[Long])](
      ("a", Some(3L)), ("a", None), ("a", Some(9L)),
      ("b", None)).toDF("g", "v")
    val out = df.groupBy($"g")
      .agg(TopKFunctions.topkLongs($"v", 5).as("top"))
      .orderBy("g").collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(out("a") === Seq(9L, 3L))
    assert(out("b") === Seq.empty)
  }
}
