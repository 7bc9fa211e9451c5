package graft.linkage

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

/** Independent Spark actions run side by side. A small linkage run's
  * tail is bound by per-job fixed cost (planning, commit, listener round
  * trips), not by its data, so actions that do not read one another
  * share the cores instead of waiting for each other's fixed cost.
  *
  * Only for actions over caches that are ALREADY materialized: two
  * concurrent first reads of a lazy cache race, and each one recomputes
  * the cache's whole lineage.
  */
object Actions {

  /** Runs every action on its own daemon thread and returns their
    * results in order, once all of them have returned. The threads are
    * created here, in the calling thread, so each inherits the caller's
    * SparkContext local properties (job group, scheduler pool, any
    * caller-set property) and its active SparkSession. When actions
    * fail, the first failure in argument order is thrown with the others
    * attached as suppressed, after every action has returned; the pool
    * is shut down and its threads have ended before this returns. */
  def together[A](actions: (() => A)*): Seq[A] = {
    val pool = Executors.newFixedThreadPool(math.max(1, actions.size),
      (r: Runnable) => {
        val t = new Thread(r, "graft-actions")
        t.setDaemon(true)
        t
      })
    try {
      // submit() starts each worker thread here, in the calling thread
      val futures = actions.map(a => pool.submit(new Callable[A] {
        def call(): A = a()
      }))
      val outcomes = futures.map { f =>
        try Right(f.get())
        catch { case e: ExecutionException => Left(e.getCause) }
      }
      outcomes.collect { case Left(e) => e } match {
        case first +: rest =>
          rest.foreach(first.addSuppressed)
          throw first
        case _ => outcomes.collect { case Right(a) => a }
      }
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(Long.MaxValue, TimeUnit.MILLISECONDS)
    }
  }
}
