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

  /** `items.map(f)` with each `f(item)` run on its own driver thread
    * (at most `maxThreads` in flight). Use when each `f` fires eager
    * Spark actions and no item depends on another's result. */
  def map[A, B](items: Seq[A], maxThreads: Int = 8)(f: A => B): Seq[B] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors, TimeUnit}
    if (items.lengthCompare(2) < 0) items.map(f)
    else {
      val pool = Executors.newFixedThreadPool(math.min(items.size, maxThreads))
      try {
        val done = new ExecutorCompletionService[B](pool)
        val futs = items.map(a => done.submit(() => f(a)))
        // in completion order, so the first failure is seen as it happens
        for (_ <- futs.indices) {
          try done.take().get()
          catch { case e: ExecutionException =>
            futs.foreach(_.cancel(false))
            throw e.getCause
          }
        }
        futs.map(_.get())
      } finally {
        pool.shutdown()
        // drain: a running item is never interrupted mid-action, and
        // never left behind
        while (!pool.awaitTermination(1, TimeUnit.MINUTES)) ()
      }
    }
  }
}
