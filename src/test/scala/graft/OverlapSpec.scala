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
  * must leave no item running once `map` has thrown. `dag` keeps the
  * same failure contract and starts each node as soon as its parents
  * are done (the merge's id maps build with it). */
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

  test("dag returns every node's result keyed by node; a node sees exactly its parents' results") {
    val deps = Map("a" -> Nil, "b" -> Seq("a"), "c" -> Seq("a", "b"), "d" -> Nil)
    val out = Overlap.dag(Seq("c", "b", "a", "d"), deps) { (n, parents: Map[String, String]) =>
      n + parents.toSeq.sorted.map { case (p, r) => s"[$p:$r]" }.mkString
    }
    assert(out == Map("a" -> "a", "b" -> "b[a:a]", "c" -> "c[a:a][b:b[a:a]]", "d" -> "d"))
  }

  test("dag starts a node only after all of its parents have finished") {
    import java.util.concurrent.ConcurrentHashMap
    val finished = ConcurrentHashMap.newKeySet[String]()
    val early = ConcurrentHashMap.newKeySet[String]()
    val deps = Map("slow" -> Nil, "fast" -> Nil, "child" -> Seq("slow", "fast"),
      "grandchild" -> Seq("child"))
    Overlap.dag(Seq("slow", "fast", "child", "grandchild"), deps) { (n, _: Map[String, Unit]) =>
      if (!deps(n).forall(finished.contains)) early.add(n)
      if (n == "slow") Thread.sleep(300)
      finished.add(n); ()
    }
    assert(early.isEmpty, s"started before their parents finished: $early")
    assert(finished.size == 4)
  }

  test("dag runs independent nodes at the same time") {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    // each side waits for the other: run one after the other, the first
    // one's await times out and the dag throws
    val both = new CyclicBarrier(2)
    val out = Overlap.dag(Seq("x", "y", "z"), Map("x" -> Nil, "y" -> Nil, "z" -> Seq("x", "y"))) {
      (n, _: Map[String, Int]) =>
        if (n != "z") both.await(10, TimeUnit.SECONDS)
        1
    }
    assert(out.values.sum == 3)
  }

  test("dag rejects unknown parents and cycles before anything runs") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    def attempt(deps: Map[String, Seq[String]]): String = intercept[IllegalArgumentException] {
      Overlap.dag(deps.keys.toSeq.sorted, deps) { (_, _: Map[String, Unit]) => ran.incrementAndGet(); () }
    }.getMessage
    assert(attempt(Map("a" -> Nil, "b" -> Seq("nope"))).contains("unknown node 'nope'"))
    val cycle = attempt(Map("root" -> Nil, "a" -> Seq("root", "c"), "b" -> Seq("a"), "c" -> Seq("b")))
    assert(cycle.contains("cyclic") && cycle.contains("a, b, c"), cycle)
    assert(attempt(Map("self" -> Seq("self"))).contains("cyclic"))
    assert(ran.get == 0, s"${ran.get} nodes ran for a rejected dag")
  }

  test("a failed dag starts no other node, waits for the running ones and rethrows the original") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val othersStarted = new CountDownLatch(7)
    val running, finished, queuedRan, childRan = new AtomicInteger(0)
    // ten nodes, eight threads: "fail", "b" and six fillers run,
    // "queued" waits for a thread and "child" for b
    val nodes = Seq("fail", "b") ++ (1 to 6).map(i => s"f$i") ++ Seq("queued", "child")
    val deps = nodes.map(n => n -> (if (n == "child") Seq("b") else Nil)).toMap
    val boom = intercept[IllegalStateException] {
      Overlap.dag[String, Unit](nodes, deps) {
        (n, _) =>
          running.incrementAndGet()
          try n match {
            case "fail" =>
              othersStarted.await(10, TimeUnit.SECONDS)
              throw new IllegalStateException("node fail failed")
            case "queued" => queuedRan.incrementAndGet(); Thread.sleep(1000)
            case "child" => childRan.incrementAndGet()
            case _ =>
              othersStarted.countDown(); Thread.sleep(500); finished.incrementAndGet()
          } finally { running.decrementAndGet(); () }
      }
    }
    assert(boom.getMessage == "node fail failed")
    assert(running.get == 0, s"${running.get} nodes still running after dag threw")
    assert(finished.get == 7, "a running node was abandoned, not waited for")
    assert(childRan.get == 0, "a node started after its parent finished behind a failure")
    // the failed node's thread may take "queued" before the cancel lands
    assert(queuedRan.get <= 1)
  }

  test("settle runs its three thunks at once and returns every outcome; a failure cancels nothing") {
    import java.util.concurrent.{CyclicBarrier, TimeUnit}
    val all = new CyclicBarrier(3)
    val (a, b, c) = Overlap.settle(
      { all.await(10, TimeUnit.SECONDS); 1 },
      { all.await(10, TimeUnit.SECONDS); throw new IllegalStateException("b failed") }: String,
      { all.await(10, TimeUnit.SECONDS); Thread.sleep(300); "c" })
    assert(a.get == 1 && c.get == "c")
    assert(b.failed.get.getMessage == "b failed")
  }
}
