package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicBoolean

/** Failure semantics of [[Par.map]]: when one item throws, the caller gets
  * that exception itself, and by then every sibling thread has stopped and
  * no Spark job the call started is still active. */
class ParSpec extends SparkTestBase {

  test("results come back in item order") {
    assert(Par.map(1 to 20, 4) { i => Thread.sleep((20 - i) * 3L); i * i } ===
      (1 to 20).map(i => i * i))
    assert(Par.map(Seq[() => Any](() => 1 + 1, () => "x" * 2), 2)(_()) ===
      Seq(2, "xx"))
  }

  test("the first failure rethrows its original exception type") {
    val boom = intercept[graft.sources.SnapshotStore.ConcurrentCommitException] {
      Par.map(Seq(200L, 30L, 5000L), 3) { ms =>
        Thread.sleep(ms)
        if (ms == 30L)
          throw new graft.sources.SnapshotStore.ConcurrentCommitException(
            "lost the race")
        ms
      }
    }
    assert(boom.getMessage.contains("lost the race"))
  }

  test("a failing item interrupts its siblings before the throw") {
    val interrupted = new AtomicBoolean(false)
    val finished = new AtomicBoolean(false)
    intercept[IllegalStateException] {
      Par.map(Seq(0, 1), 2) {
        case 0 => Thread.sleep(30); throw new IllegalStateException("item 0 died")
        case _ =>
          try { Thread.sleep(5000); finished.set(true) }
          catch { case _: InterruptedException => interrupted.set(true) }
      }
    }
    // no polling: the helper awaits its pool before it rethrows
    assert(interrupted.get() && !finished.get(),
      "sibling ran to completion instead of being cancelled")
  }

  test("a sibling's delayed write never lands once the helper has thrown") {
    val dir = Files.createTempDirectory("par-marker")
    val marker = dir.resolve("written")
    intercept[IllegalStateException] {
      Par.map(Seq(0, 1), 2) {
        case 0 => Thread.sleep(30); throw new IllegalStateException("item 0 died")
        case _ => Thread.sleep(300); Files.writeString(marker, "late")
      }
    }
    Thread.sleep(600)
    assert(!Files.exists(marker), "a sibling kept running after the throw")
  }

  test("no Spark job of the call is active right after the throw") {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      Par.map(Seq(0, 1), 2) {
        case 0 =>
          started.await()
          Thread.sleep(300) // let the sibling's tasks start
          throw new IllegalStateException("item 0 died")
        case _ =>
          started.countDown()
          sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(60000))
      }
    }
    assert(sc.statusTracker.getActiveJobIds.isEmpty,
      s"active jobs after the throw: ${sc.statusTracker.getActiveJobIds.toSeq}")
    assert(System.nanoTime() - t0 < 30000000000L,
      "the sibling's job ran instead of being cancelled")
    // the cancelled tasks were interrupted, so the session runs work again
    assert(spark.range(10).count() === 10L)
  }
}
