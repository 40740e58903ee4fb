package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.plans.GraftExtensions

/** Pins the session factory and the function installer: [[Session.install]]
  * restores what a registry lacks and leaves every present function as it
  * is, and [[Session.get]] hands back the one shared session. */
class SessionSpec extends SparkTestBase {

  test("install restores dropped functions and never replaces one") {
    val s = spark.newSession()
    val registry = s.sessionState.functionRegistry
    // the builder alone cannot show a replacement (install passes the
    // same builder object the extension injected); a fresh ExpressionInfo
    // would come with it
    def entry(n: String) = {
      val id = FunctionIdentifier(n)
      (registry.lookupFunctionBuilder(id).get, registry.lookupFunction(id).get)
    }
    val dropped = Seq("topk_longs", "hilbert_d2")
    dropped.foreach(n => assert(registry.dropFunction(FunctionIdentifier(n))))
    val kept = GraftExtensions.functions.map(_._1).filterNot(dropped.contains)
      .map(n => n -> entry(n))

    Session.install(s)
    val restored = dropped.map(n => n -> entry(n))
    Session.install(s)

    assert(s.sql("SELECT topk_longs(v, 2) FROM VALUES (1L), (3L) AS t(v)")
      .head().getSeq[Long](0) === Seq(3L, 1L))
    assert(s.sql("SELECT hilbert_d2(1L, 0L)").head().getLong(0) ===
      graft.functions.HilbertKernels.d2(1L, 0L))
    (kept ++ restored).foreach { case (n, (b, info)) =>
      val (b2, info2) = entry(n)
      assert((b2 eq b) && (info2 eq info), n)
    }
  }

  test("get returns the shared session, shuffle width from its cores") {
    assert(Session.get("local[4]") eq spark)
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt ===
      spark.sparkContext.defaultParallelism)
  }
}
