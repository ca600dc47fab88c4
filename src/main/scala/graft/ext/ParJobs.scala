package graft.ext

/** Run INDEPENDENT Spark actions concurrently from the driver (the
  * optimization-guide §2.6 overlap: actions are only sequential because
  * driver code calls them sequentially — submitting independent jobs
  * from two threads lets the scheduler back-fill the first job's task
  * tail and commit wait with the second job's tasks). FIFO scheduling
  * keeps the first job's resource priority, which is exactly the
  * back-fill behavior wanted.
  *
  * Use ONLY for actions with no ordering dependency: distinct output
  * directories, no shared mutable state, no read-after-write between
  * them (e.g. an index's band table and its shingle sidecar — two
  * writes derived independently from the same input). Blocks until
  * every action completes and returns their results in argument order;
  * the first failure rethrows its original exception (unwrapped), after
  * the others finish or fail, with every later failure attached as
  * suppressed, so error semantics match the sequential form and no
  * root cause is lost. At most [[MaxThreads]] actions run at once; the
  * rest queue. Each call starts its threads from the caller's, so the
  * jobs carry the caller's job group and local properties, and pins
  * register with the caller's [[Materialize.scope]].
  *
  * Callers: `Dedup.writeIndexAs` (bands ∥ shingles), `Index.writeSegment`
  * (postings ∥ manifest), `Layout.zoneCompact` (one range exchange per
  * overlap component), and `Pipeline.ingest`/`integrateCatalog`/
  * `buildFlatView`, whose per-stage phases are listed in `Pipeline`.
  */
private[graft] object ParJobs {
  /** Threads one call starts at most. */
  val MaxThreads = 8

  def apply[A](thunks: (() => A)*): Seq[A] = {
    require(thunks.nonEmpty, "ParJobs: no actions")
    if (thunks.size == 1) return Seq(thunks.head())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(thunks.size, MaxThreads))
    try {
      val futs = thunks.map { t =>
        pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = t()
        })
      }
      var firstErr: Throwable = null
      def fail(e: Throwable): Unit =
        if (firstErr == null) firstErr = e
        else if (e ne firstErr) firstErr.addSuppressed(e)
      var interrupt: InterruptedException = null
      futs.foreach { f =>
        if (interrupt == null) {
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException =>
              fail(e.getCause)
            case e: java.util.concurrent.CancellationException =>
              fail(e)
            case e: InterruptedException =>
              // caller interrupted: cancel the in-flight thunks (their
              // threads get interrupted) and fall through to the
              // settle-all in the finally block, then rethrow
              interrupt = e
              futs.foreach(_.cancel(true))
          }
        }
      }
      if (interrupt != null) throw interrupt
      if (firstErr != null) throw firstErr
      futs.map(_.get())
    } finally {
      // settle-all on EVERY exit path: no thunk may keep running after
      // apply() has unwound (the doc's contract). Normal paths have
      // already joined every future, so this returns immediately;
      // the interrupt path waits for the cancelled thunks to unwind.
      pool.shutdown()
      val wasInterrupted = Thread.interrupted()
      var settled = false
      while (!settled) {
        try settled = pool.awaitTermination(1, java.util.concurrent.TimeUnit.DAYS)
        catch {
          case _: InterruptedException => pool.shutdownNow()
        }
      }
      if (wasInterrupted) Thread.currentThread().interrupt()
    }
  }
}
