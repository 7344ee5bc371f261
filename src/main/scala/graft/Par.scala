package graft

/** Driver-side concurrency for INDEPENDENT Spark jobs (optimization
  * guide §2.6): Spark's scheduler happily runs several jobs at once
  * inside one application — actions are only sequential because driver
  * code calls them sequentially. Items that are distinct artifacts —
  * index builds into distinct dirs, probes of distinct dirs — would
  * otherwise serialize N× the per-job scheduling latency; submitting
  * them from a bounded pool lets the next item's tasks back-fill
  * executors freed by the current one's stragglers (FIFO scheduling,
  * the default). Arms that differ only in knobs over ONE index are not
  * items: the ANN sweep/strategy cards carry the arm as a column and
  * walk all arms in one job chain. The warehouse build
  * (`graft.domain.Pipeline.run`) runs its shared dims, then its gold
  * sinks — each write with its validation re-read — as items.
  *
  * Correctness contract: `f` must be deterministic and the items
  * independent (no item reads another's output). Results return in
  * INPUT order — `Par.map(xs)(f)` is observationally `xs.map(f)` — so
  * a card's row order, and therefore its oracle hash, cannot change.
  * Failure semantics (round 20, the r19 ADVICE note): on the first
  * failed item IN INPUT ORDER the pool is stopped with `shutdownNow`
  * (unstarted arms never run; running arms get an interrupt) and that
  * item's cause is rethrown — so side-effectful later arms (index
  * builds, parquet writes) are not quietly run to completion behind a
  * failure. This approximates but does not equal sequential behaviour:
  * arms BEFORE the failing index have already started concurrently,
  * and an interrupted arm may leave a partial scratch artifact (the
  * deterministic-rebuild contract of the builders makes that safe).
  * Futures are drained in input order, so a HUNG earlier arm delays
  * surfacing a later arm's failure — acceptable for the bounded
  * build/probe items this fans out. Each call owns a private pool (no
  * shared executor: nested Par.map — an item that itself builds an
  * index whose kinds build concurrently — must never deadlock on a
  * shared bounded pool). */
object Par {
  def map[A, B](xs: Seq[A], parallelism: Int = 5)(f: A => B): Seq[B] = {
    if (xs.size <= 1) return xs.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, xs.size))
    try {
      val futs = xs.map(x => pool.submit(() => f(x)))
      futs.map { fu =>
        try fu.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // Not a cancel per future: a worker freed by one cancel's
            // interrupt could dequeue and start an arm not yet cancelled.
            // A stopped pool hands its workers no further task.
            pool.shutdownNow()
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally pool.shutdown()
  }
}
