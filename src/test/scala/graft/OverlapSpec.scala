package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Indexes, Overlap}

/** Contract of the r13-opt job-overlap helper the sweep operators
  * (s37/s38/s32/s42) now build their per-setting sub-pipelines with:
  * results must come back in INPUT order (the sweeps' row order — and
  * therefore their oracle hashes — depends on it), a failing item
  * must rethrow its ORIGINAL exception, and concurrent same-key memo
  * callers must share one compute (the property that makes the
  * overlapped s38 points collapse onto one adjacency build). A failure
  * must leave no item running once `map` has thrown. */
class OverlapSpec extends AnyFunSuite {
  import TestSpark._

  test("map preserves input order under concurrency") {
    val out = Overlap.map(1 to 16) { i =>
      // reverse-staggered sleeps: without ordering, later items finish first
      Thread.sleep((16 - i) * 5L); i * 10
    }
    assert(out == (1 to 16).map(_ * 10))
  }

  test("map rethrows the original exception of a failing item") {
    val boom = intercept[IllegalStateException] {
      Overlap.map(Seq(1, 2, 3)) { i =>
        if (i == 2) throw new IllegalStateException("item 2 failed")
        i
      }
    }
    assert(boom.getMessage == "item 2 failed")
  }

  test("a failed map leaves nothing running: it waits for running items and starts no other") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val item2Started = new CountDownLatch(1)
    val running = new AtomicInteger(0)
    val finished, laterRan = new AtomicInteger(0)
    val boom = intercept[IllegalStateException] {
      Overlap.map(1 to 6, maxThreads = 2) { i =>
        running.incrementAndGet()
        try i match {
          case 1 =>
            item2Started.await(10, TimeUnit.SECONDS)
            throw new IllegalStateException("item 1 failed")
          case 2 =>
            item2Started.countDown(); Thread.sleep(500); finished.incrementAndGet()
          case _ =>
            laterRan.incrementAndGet(); Thread.sleep(1000)
        } finally { running.decrementAndGet(); () }
      }
    }
    assert(boom.getMessage == "item 1 failed")
    assert(running.get == 0, s"${running.get} items still running after map threw")
    assert(finished.get == 1, "the running item was abandoned, not waited for")
    // item 1's thread may take item 3 before the failure cancels it;
    // items 4-6 are cancelled long before a thread frees up
    assert(laterRan.get <= 1, s"${laterRan.get} items started after the failure")
  }

  test("single-item input runs on the caller thread (no pool)") {
    val caller = Thread.currentThread()
    var seen: Thread = null
    Overlap.map(Seq(42)) { _ => seen = Thread.currentThread() }
    assert(seen eq caller)
  }

  test("concurrent same-key memo callers share one compute (the sweep-sharing property)") {
    import spark.implicits._
    val computes = new java.util.concurrent.atomic.AtomicInteger(0)
    val key = s"overlap_spec_shared:${System.nanoTime()}"
    val frames = Overlap.map(1 to 6) { _ =>
      Indexes.memo(key) {
        computes.incrementAndGet()
        Seq(1L, 2L, 3L).toDF("v")
      }
    }
    assert(frames.forall(_.collect().map(_.getLong(0)).sorted.sameElements(Array(1L, 2L, 3L))))
    // the per-key latch admits exactly one compute; waiters reuse it
    assert(computes.get() == 1, s"memo computed ${computes.get()} times under 6 concurrent callers")
  }
}
