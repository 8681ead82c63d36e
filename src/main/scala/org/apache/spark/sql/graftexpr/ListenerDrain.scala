package org.apache.spark.sql.graftexpr

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: lets [[graft.QueryMetrics]]
  * deliver every queued event before it resets or snapshots a rep. The
  * bus delivers on its own thread, so when a rep's wall clock stops its
  * TaskEnd events can still be queued and would be read into the next
  * rep.
  *
  * Lives in `org.apache.spark.sql.graftexpr` (inside the
  * `org.apache.spark` tree) because `SparkContext.listenerBus` is
  * `private[spark]` — same access pattern the kernel expressions in
  * this package use for Catalyst internals.
  */
object ListenerDrain {
  /** Block until the listener bus has delivered every queued event, or
    * `timeoutMs` elapses. Returns false on timeout/failure — callers
    * treat that as "the rep may carry cross-rep bleed" rather than an
    * error (the measurement itself is unaffected).
    */
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: Throwable => false }
}
