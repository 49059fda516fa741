package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one materialization primitive: the only code that persists,
  * cuts or releases an intermediate. A run builds ONE lazy plan, so
  * when an intermediate is materialized and released is a policy, and
  * it lives here. By how a frame is read:
  *  - by ONE action: no persist — the action computes it once;
  *  - by MORE THAN ONE action (an eager `collect`/`count` in the
  *    operator plus the returned plan, or several eager actions):
  *    [[Scoped.persistScoped]];
  *  - TWICE inside one plan (a self-join, a join back to its own
  *    aggregate): kept as each site has it — choosing among a cut, a
  *    single-read restructure and the persist is a per-site
  *    measurement (a persist read twice by one plan is scheduled as
  *    two cache jobs but computed once).
  * A plan that must stop growing (iterate-until-stable loops) or a
  * frame the writes after it must not change (admission pins) takes
  * [[Scoped.cutScoped]], an eager checkpoint.
  *
  * Both are registered with their release (unpersist; block removal of
  * the checkpointed RDD, the cut frame's `LogicalRDD` leaf). An
  * operator persists what its RETURNED lazy plan reads, so whoever owns
  * the terminal action releases after it: the engine's two [[scoped]]
  * blocks, a batch run (`exec.PipelineRunner.run`) and a micro-batch
  * (`streaming.StreamOps.toForeachBatch`, the one `foreachBatch`), or
  * outside them [[drain]] — between queries in [[Verify]] and
  * [[Bench]], at a library user's own batch boundary. A persist left
  * registered serves its blocks to any later matching plan, even a
  * re-read of a source that has since gained files.
  *
  * A cut is released when its scope exits or at the next drain, or
  * earlier by [[release]]: a loop releases round r's cut once round
  * r+1's is materialized, and the final state's cut stays registered.
  * Releasing a persist is always safe (the plan recomputes); releasing
  * a cut a lazy plan still reads makes that plan fail
  * (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`). A reliable cut's checkpoint
  * files stay on disk.
  */
object CacheScope {
  private final class Held(val ds: Dataset[_], val release: () => Unit)

  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Held]()
  private val local = new ThreadLocal[java.util.ArrayDeque[Held]]()

  private def hold(ds: Dataset[_])(release: => Unit): Unit =
    Option(local.get()).getOrElse(live).add(new Held(ds, () => release))

  /** Release every GLOBALLY registered persist and cut; returns how
    * many. A [[scoped]] block's registrations wait for its exit. */
  def drain(): Int = {
    var n = 0
    var h = live.poll()
    while (h != null) { h.release(); n += 1; h = live.poll() }
    n
  }

  /** Release now, and unregister, `ds` as [[Scoped.persistScoped]] or
    * [[Scoped.cutScoped]] returned it on this thread's registry. */
  def release(ds: Dataset[_]): Unit = {
    val q: java.util.Collection[Held] = Option(local.get()).getOrElse(live)
    q.stream().filter(_.ds eq ds).findFirst()
      .filter(q.remove(_)).ifPresent(_.release())
  }

  /** Run `f` with a PER-THREAD registry: what this thread persists or
    * cuts inside `f` is released when `f` completes (even on failure);
    * other threads' registrations are untouched (a bare [[drain]] would
    * also release those of a pipeline ticking concurrently). `f` must
    * run its terminal action inside: a lazy frame returned out of the
    * scope recomputes its persists and fails on its cuts. Scopes nest. */
  def scoped[A](f: => A): A = {
    val prev = local.get()
    val mine = new java.util.ArrayDeque[Held]()
    local.set(mine)
    try f finally {
      local.set(prev)
      mine.forEach(_.release())
    }
  }

  implicit final class Scoped[T](private val ds: Dataset[T]) extends AnyVal {
    /** `persist()`, registered for the enclosing [[scoped]] block's
      * exit, or outside one for the next global [[drain]]. */
    def persistScoped(): Dataset[T] = {
      val p = ds.persist()
      hold(p)(p.unpersist(blocking = false))
      p
    }

    /** Eager lineage cut (`localCheckpoint`, or with `reliable` a
      * checkpoint to the session's checkpoint dir), registered like
      * [[persistScoped]]. The cut keeps `ds`'s size estimate; see
      * `ops.lineageCut` for the loops that must drop it. */
    def cutScoped(reliable: Boolean = false): Dataset[T] = {
      val c = if (reliable) ds.checkpoint() else ds.localCheckpoint()
      val rdds = c.queryExecution.logical.collect { case r: LogicalRDD => r.rdd }
      hold(c)(rdds.foreach(_.unpersist(blocking = false)))
      c
    }
  }
}
