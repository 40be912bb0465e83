package graft.dedup

/** Concurrent-action helpers for the store ingest paths (guide §2.6:
  * overlap INDEPENDENT jobs so the scheduler back-fills one job's task
  * tail with the next job's tasks instead of paying their job-launch
  * latencies end to end — the store-lifecycle queries are job-count
  * bound, not data bound, at bench scale). Threads are created per
  * call — never taken from a shared pool — so Spark's
  * InheritableThreadLocal localProperties (job group, cancellation
  * scope) propagate from the caller: a harness cancelling the caller's
  * job group cancels the overlapped jobs with it, instead of leaking
  * stragglers that race a later rollback.
  */
private[graft] object Overlap {

  /** Start `f` NOW on its own daemon thread; returns the await handle.
    * A failure rethrows the original cause at the await point, so
    * caller-side error handling (ingest's compensating rollback) sees
    * the same exception it would have seen running `f` inline.
    */
  def overlapped[A](f: => A): () => A = {
    val task = new java.util.concurrent.FutureTask[A](() => f)
    val th = new Thread(task, "graft-overlap")
    th.setDaemon(true)
    th.start()
    () =>
      try task.get()
      catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
  }

  /** Run `a` and `b` concurrently (a on a spawned thread, b on this
    * one), await both. On a failure of either, the sibling is STILL
    * awaited before the exception propagates — returning early would
    * leave a straggler job racing whatever compensating action (a
    * rollback's file deletes) the caller unwinds into.
    */
  def overlapped2[A, B](a: => A, b: => B): (A, B) = {
    val fa = overlapped(a)
    val bv =
      try b
      catch { case t: Throwable => drain(fa); throw t }
    (fa(), bv)
  }

  /** Run every action concurrently (the last on this thread) and await
    * them all; as in [[overlapped2]], a failure rethrows only after every
    * sibling has finished — the store ingests' keeper appends.
    */
  def overlappedAll(fs: Seq[() => Unit]): Unit = {
    val handles = fs.init.map(f => overlapped(f()))
    val last = scala.util.Try(fs.last())
    (handles.map(h => scala.util.Try(h())) :+ last).foreach(_.get)
  }

  /** Await a handle for its side effects only, suppressing its failure
    * (used when a primary exception is already propagating).
    */
  def drain(handle: () => Any): Unit =
    try { handle(); () } catch { case _: Throwable => () }

  /** The observed-metrics row of `obs`, whose query's eager action has
    * already run — single-row aggregates (an ingest's bucket audit) can
    * ride an existing checkpoint's job as observed metrics instead of
    * paying their own `agg().head()` job (measured 0.3–2.5 ms post-
    * action vs ~0.1–0.2 s per extra job at bench scale). `fallback`
    * recomputes the row with an explicit job if the metric ever fails
    * to post (bounded wait, never a hang under a watchdog).
    */
  def observedRow(obs: org.apache.spark.sql.Observation,
      fallback: => org.apache.spark.sql.Row): org.apache.spark.sql.Row =
    scala.util.Try(scala.concurrent.Await.result(
      obs.future, scala.concurrent.duration.Duration(10, "s"))).getOrElse(fallback)
}
