package graft

import org.apache.spark.sql.Dataset

/** Session-scoped registry for the intermediates catalog operators
  * persist. The pattern problem it solves: an operator like
  * [[ops.Similarity.pqAdc]] persists a table its RETURNED lazy plan
  * reads twice, so the operator cannot unpersist before returning (the
  * caller has not run the terminal action yet) — and with no registry,
  * repeated catalog invocations in one long-lived session accumulate
  * cached blocks until executor storage evicts under pressure.
  *
  * Contract: operators persist through [[CacheScope.persistScoped]];
  * whoever owns the terminal action releases them after it. The engine
  * owns two such boundaries, each a [[scoped]] block: a batch run
  * (`exec.PipelineRunner.run`, whose loads are its terminal actions)
  * and a streaming tick (the one `foreachBatch` of
  * `streaming.StreamingLoad`). Outside them registrations go to the
  * global registry and wait for [[CacheScope.drain]]: the in-tree
  * harness drains between queries ([[Verify]], [[Bench]]), and a
  * library user embedding the catalog drains at their own batch
  * boundary. A persisted frame left registered keeps serving its
  * blocks to any later plan that matches it, including a re-read of a
  * source that has since gained files. Unpersist is non-blocking, and
  * dropping a cache entry is always correctness-safe in Spark (the
  * plan recomputes).
  */
object CacheScope {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val local = new ThreadLocal[java.util.ArrayDeque[Dataset[_]]]()

  /** Unpersist every GLOBALLY tracked dataset; returns how many were
    * dropped. Registrations made inside a [[scoped]] block are not in
    * this registry — they drain when their block exits. */
  def drain(): Int = {
    var n = 0
    var d = live.poll()
    while (d != null) { d.unpersist(blocking = false); n += 1; d = live.poll() }
    n
  }

  /** Run `f` with a PER-THREAD registration scope: datasets persisted
    * by this thread inside `f` are unpersisted when `f` completes
    * (even on failure), and registrations from OTHER threads are
    * untouched. This is the per-tick form for streaming sinks: the
    * registry itself is JVM-global, so a bare [[drain]] inside
    * `foreachBatch` would unpersist the scoped intermediates of ANY
    * concurrently ticking pipeline in the same session — correctness-
    * safe (Spark recomputes) but recompute thrash when two scheduled
    * streams tick at once. The body must also run its terminal action
    * inside the block: a lazy frame returned out of the scope loses
    * its caches (and recomputes) on later evaluation. Scopes nest;
    * the inner block's registrations drain at the inner exit. */
  def scoped[A](f: => A): A = {
    val prev = local.get()
    val mine = new java.util.ArrayDeque[Dataset[_]]()
    local.set(mine)
    try f finally {
      local.set(prev)
      mine.forEach(_.unpersist(blocking = false))
    }
  }

  implicit final class Scoped[T](private val ds: Dataset[T]) extends AnyVal {
    /** `persist()` + register: with the calling thread inside a
      * [[scoped]] block, for that block's exit; otherwise for the next
      * global [[drain]]. */
    def persistScoped(): Dataset[T] = {
      val p = ds.persist()
      val l = local.get()
      if (l != null) l.add(p) else live.add(p)
      p
    }
  }
}
