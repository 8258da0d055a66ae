package graft.core

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Driver-side overlap of INDEPENDENT Spark actions (the guide's
  * "overlap independent jobs" pattern): Spark's scheduler happily runs
  * several jobs at once inside one application — actions are only
  * sequential because driver code calls them sequentially. The index
  * writers emit 2-3 independent table writes per segment/compaction;
  * running them from a small pool lets the next write's tasks
  * back-fill executor slots freed by the previous write's tail (and
  * overlaps their driver-side planning/commit, which dominates for
  * small tables). Failures propagate: the first failed action's
  * exception is rethrown after all complete or fail.
  */
object Par {

  // pool threads are marked by their class, not their name: a caller's
  // own thread may carry any name
  private final class PoolThread(r: Runnable) extends Thread(r, "graft-par-action") {
    setDaemon(true)
  }

  // bounded, daemon, shared: 2-3 in flight is the useful range — enough
  // to fill a tail, not enough to fight for executor slots
  private lazy val pool = ExecutionContext.fromExecutorService(
    Executors.newFixedThreadPool(4, r => new PoolThread(r)))

  private def onPoolThread: Boolean = Thread.currentThread().isInstanceOf[PoolThread]

  /** Run the given thunks concurrently; block until ALL finish; rethrow
    * the first failure (after every thunk has completed or failed, so a
    * failing write never leaves a sibling running against a torn tree).
    *
    * Reentrancy guard: a NESTED awaitAll (called from inside a thunk
    * already running on the fixed-size pool) runs its bodies INLINE on
    * the calling pool thread instead of submitting back into the pool —
    * submitting would deadlock the moment nested calls occupy every
    * pool thread, each blocked waiting for a slot its own children
    * need. Inline execution loses the nested overlap but can never
    * hang, and the outer level still overlaps.
    */
  def awaitAll(bodies: (() => Unit)*): Unit = {
    if (bodies.sizeIs <= 1 || onPoolThread) {
      bodies.foreach(_.apply()); return
    }
    // propagate the caller's active session: thread-locals don't cross
    // into pool threads, and session-dependent code (SQLConf.get in
    // schema conversion, implicits) must see the same session there.
    // try/finally CLEARS it after the body — pool threads are reused,
    // and a stale (possibly stopped) session must not leak into the
    // next caller's thunk when that caller has no active session.
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    val futures = bodies.map(b => Future {
      active.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      try b()
      finally org.apache.spark.sql.SparkSession.clearActiveSession()
    }(pool))
    val results = futures.map(f =>
      Await.ready(f, Duration.Inf).value.get)
    results.collectFirst { case scala.util.Failure(e) => throw e }
    ()
  }
}
