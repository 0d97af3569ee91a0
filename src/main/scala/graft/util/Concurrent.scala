package graft.util

/** Bounded-concurrency driver-side fan-out. The reference's ADF copy
  * activity runs with `batchCount: 10` concurrent workers
  * (ADF/pipeline/archive_inbound_files.json:15-16); this is the same
  * semantics for the engine's driver-side movers, head reads and footer
  * harvests. One data-plane use goes through here too: a copy-on-write
  * rewrite submits its data write and its change-row write as two
  * concurrent Spark jobs (`TableCatalog.stageRewrite`), so the two
  * single-task jobs share the executors instead of queueing.
  */
object Concurrent {

  /** Apply `f` to every item with up to `parallelism` concurrent
    * workers, preserving input order in the result. The first failure
    * (unwrapped from the pool's ExecutionException) propagates after
    * all submitted work settles. */
  def forEach[A, B](items: Seq[A], parallelism: Int)(f: A => B): Seq[B] = {
    if (items.isEmpty) return Nil
    if (items.size == 1 || parallelism <= 1) return items.map(f)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(parallelism, items.size))
    try {
      val futures = items.map { a =>
        pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) })
      }
      val settled = futures.map(fu =>
        try Right(fu.get())
        catch { case e: java.util.concurrent.ExecutionException => Left(e.getCause) })
      settled.collectFirst { case Left(e) => throw e }
      settled.collect { case Right(b) => b }
    } finally pool.shutdown()
  }
}
