package graft.operators

/** Driver-side job overlap for the INDEPENDENT sub-pipelines of one
  * operator — a sweep's per-setting walks (s37/s38), a capacity
  * table's per-tier audits (s32), a refine audit's two servings
  * (s42).
  *
  * Spark's scheduler happily runs jobs submitted from several driver
  * threads at once (FIFO: the earlier job's tasks get resources
  * first, later jobs back-fill the cores its straggler tail leaves
  * idle). A sweep whose points each fire a short chain of eager
  * actions (per-round `State.cut` checkpoints, memo builds) is
  * otherwise a SEQUENCE of small jobs that leave most of the cluster
  * idle — measured at sf0.1/local[8]: s38's five operating points run
  * 15 round-checkpoint jobs back to back, ~8 s of mostly-idle wall
  * for ~2 s of busy work per point.
  *
  * Safety: construction effects are already concurrency-safe by
  * design — [[Indexes.memo]] computes once behind a per-key latch
  * (concurrent callers of the same key block and reuse), [[State]]
  * cut/release operate on per-call frames, and each sub-pipeline's
  * result is deterministic regardless of scheduling. Results return
  * in INPUT order, so a caller's `reduce(_ unionAll _)` emits the
  * same rows as the sequential loop it replaces.
  *
  * Failure: the first item to fail cancels every item that has not
  * started, waits for the running ones to finish, and only then
  * rethrows its original exception — so when `map` returns or throws,
  * none of its items is still running (a failed merge cannot keep
  * publishing behind its caller's back, or race the caller's retry).
  */
object Overlap {
  import scala.util.Try

  /** `items.map(f)` with each `f(item)` run on its own driver thread
    * (at most `maxThreads` in flight). Use when each `f` fires eager
    * Spark actions and no item depends on another's result. A [[dag]]
    * with no edges. */
  def map[A, B](items: Seq[A], maxThreads: Int = 8)(f: A => B): Seq[B] = {
    val out = wave[Int, B](items.indices, _ => Nil, maxThreads)((i, _) => f(items(i)))
    items.indices.map(out)
  }

  /** A dependency wave: `f(node, parentResults)` for every node, each
    * started on its own driver thread as soon as all of its `deps` have
    * finished (at most `maxThreads` in flight), so independent branches
    * overlap and a node never waits on a sibling. `parentResults` holds
    * exactly the node's parents' results. Unknown parents and cycles are
    * rejected before anything runs. Failure is [[map]]'s: the first
    * failing node stops the wave — nodes not yet started never start,
    * running ones are waited for — and its original exception is
    * rethrown. Returns every node's result keyed by node. */
  def dag[K, B](nodes: Seq[K], deps: K => Iterable[K], maxThreads: Int = 8)
               (f: (K, Map[K, B]) => B): Map[K, B] =
    wave(nodes, deps, maxThreads)(f)

  /** `(Try(a), Try(b), Try(c))`, the three run at once: for a caller
    * that must see every outcome before it picks which failure to
    * report. A failure cancels nothing; the call returns once all
    * three have finished. */
  def settle[A, B, C](a: => A, b: => B, c: => C): (Try[A], Try[B], Try[C]) = {
    var ta: Try[A] = null; var tb: Try[B] = null; var tc: Try[C] = null
    map(Seq[() => Unit](() => ta = Try(a), () => tb = Try(b), () => tc = Try(c)))(_())
    (ta, tb, tc)
  }

  private def wave[K, B](nodes: Seq[K], deps: K => Iterable[K], maxThreads: Int)
                        (f: (K, Map[K, B]) => B): Map[K, B] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, Future, TimeUnit}
    val parents = nodes.map(n => n -> deps(n).toSet).toMap
    require(parents.size == nodes.size, s"duplicate nodes in $nodes")
    parents.foreach { case (n, ps) =>
      ps.foreach(p => require(parents.contains(p), s"node '$n' depends on unknown node '$p'"))
    }
    // Kahn: a cycle leaves nodes whose parents never all finish
    var ready = Set.empty[K]
    var rest = nodes
    while (rest.nonEmpty) {
      val (now, blocked) = rest.partition(parents(_).subsetOf(ready))
      require(now.nonEmpty, s"cyclic dependencies among: ${blocked.mkString(", ")}")
      ready ++= now
      rest = blocked
    }
    if (nodes.lengthCompare(2) < 0) nodes.map(n => n -> f(n, Map.empty)).toMap
    else {
      val children = parents.toSeq.flatMap { case (c, ps) => ps.map(_ -> c) }
        .groupMap(_._1)(_._2).withDefaultValue(Nil)
      val pool = Executors.newFixedThreadPool(math.min(nodes.size, maxThreads))
      val started = scala.collection.mutable.ArrayBuffer.empty[Future[(K, B)]]
      try {
        val done = new ExecutorCompletionService[(K, B)](pool)
        var results = Map.empty[K, B]
        val waiting = scala.collection.mutable.Map.from(parents.view.mapValues(_.size))
        def submit(n: K): Unit = {
          val mine = parents(n).map(p => p -> results(p)).toMap
          started += done.submit(() => n -> f(n, mine))
          ()
        }
        nodes.filter(waiting(_) == 0).foreach(submit)
        // in completion order, so the first failure is seen as it happens
        for (_ <- nodes.indices) {
          val (n, b) =
            try done.take().get()
            catch { case e: ExecutionException =>
              started.foreach(_.cancel(false))
              throw e.getCause
            }
          results += n -> b
          children(n).foreach { c =>
            waiting(c) -= 1
            if (waiting(c) == 0) submit(c)
          }
        }
        results
      } finally {
        pool.shutdown()
        // drain: a running node is never interrupted mid-action, and
        // never left behind
        while (!pool.awaitTermination(1, TimeUnit.MINUTES)) ()
      }
    }
  }
}
