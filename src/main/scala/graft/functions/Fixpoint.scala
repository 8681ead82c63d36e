package graft.functions

import org.apache.spark.sql.DataFrame
import graft.Materialize

/** The round loop of the iterative graph operators —
  * [[Dedup.components]], [[GraphRank.pagerank]],
  * [[GraphRank.labelPropagation]] and [[GraphRank.kCore]]: run `round`
  * until it reports a fixpoint or the round budget is spent.
  *
  * Iteration is MATERIALIZED, not folded lazily: every round's state is
  * eagerly `localCheckpoint`ed, so round N+1's plan is a join over leaf
  * relations instead of a re-optimized, re-executed N-round lineage
  * (pagerank's lazy fold cost 9.1 s at sf0.1 — ~8.5 s of it
  * round-over-round re-planning/re-execution — vs 0.59 s for the
  * underlying k-NN graph; the GraphX iterative-cache pattern).
  * `localCheckpoint` (executor-local blocks, lineage truncated) rather
  * than reliable `checkpoint` because inter-round state is small and
  * recomputing on executor loss just replays bounded work; a multi-hour
  * production run on a real cluster would flip to `checkpoint` on the
  * cluster FS for fault tolerance — the plan shape is identical.
  *
  * Retirement: round N's blocks are dead the moment round N+1's eager
  * checkpoint has materialized, so the loop unpersists every superseded
  * state frame ([[graft.Materialize.retireCheckpoint]]) instead of
  * leaving one block set per round until the ContextCleaner notices the
  * RDDs are garbage post-GC. An unpersisted `localCheckpoint` is
  * unrecoverable, not recomputable, so the loop never retires a frame
  * the next state still carries, nor any frame passed in as `init` —
  * that may be a session-shared artifact ([[graft.Materialize.shared]])
  * other queries read, and the caller owns its lifetime.
  *
  * `round(state, n)` (n counts from 1) returns the next state — every
  * frame either carried over by reference or a fresh EAGER
  * `localCheckpoint`, never a lazy plan over a frame it replaces — or
  * `None` when the round changed nothing, retiring its own scratch
  * checkpoints. [[BpeTrain]] is not on this loop: its round state is a
  * LAZY checkpoint that materializes inside the next round's argmax job
  * (the one lazy form with a measured sf1 gain), so a superseded frame
  * can only retire a round later, and it retires its own.
  */
object Fixpoint {

  /** A finished run: the last state, the rounds executed (a round that
    * returned `None` counts — it ran the convergence probe) and whether
    * a round proved the fixpoint within the budget.
    */
  final class Result[S] private[Fixpoint] (val state: S, val rounds: Int,
      val converged: Boolean, retire: () => Unit) {
    /** Retire the last state's checkpoints, for a caller that has pinned
      * whatever it derives from them; `init` frames are still left alone.
      */
    def retireState(): Unit = retire()
  }

  /** `(rounds, converged)` of the last run on this thread — test
    * observability, not part of any query result. Thread-local: the loop
    * runs on the calling thread, so concurrent runs (parallel suites, a
    * multi-tenant driver) cannot race a spec's set-then-read.
    */
  private[graft] val last: ThreadLocal[(Int, Boolean)] = new ThreadLocal

  /** A loop whose state is one checkpointed frame. */
  def apply(init: DataFrame, budget: Int)(
      round: (DataFrame, Int) => Option[DataFrame]): Result[DataFrame] =
    run(init, budget)(Seq(_))(round)

  /** A loop whose state `S` holds several frames; `frames` lists the
    * checkpointed ones the loop may retire.
    */
  def run[S](init: S, budget: Int)(frames: S => Seq[DataFrame])(
      round: (S, Int) => Option[S]): Result[S] = {
    val initFrames = frames(init)
    def retire(s: S, keep: Seq[DataFrame]): Unit =
      frames(s).filterNot(f => (initFrames ++ keep).exists(_ eq f))
        .foreach(Materialize.retireCheckpoint)
    var state = init
    var rounds = 0
    var converged = false
    while (!converged && rounds < budget) {
      rounds += 1
      round(state, rounds) match {
        case Some(next) => retire(state, frames(next)); state = next
        case None => converged = true
      }
    }
    last.set((rounds, converged))
    val fin = state
    new Result(fin, rounds, converged, () => retire(fin, Nil))
  }
}
