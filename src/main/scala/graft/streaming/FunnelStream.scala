package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft._

/** Streaming twin of the ADS funnel
  * ([[graft.operators.FunnelOps.funnel]]): the sequential
  * view → click → purchase conversion chain maintained as user-keyed
  * state, with per-step reached-user counts servable through
  * [[DwsSink.maintain]] — extending the batch/streaming-parity
  * discipline of ST1–ST3 to the analytics (ADS) layer.
  *
  * Semantics are the batch operator's min-ts chain: a user reaches a
  * step at the EARLIEST event of that type strictly after their entry
  * to the previous step. Exactness under out-of-order arrival comes
  * from watermark-bounded buffering: events newer than the current
  * watermark are held in state and folded only once the watermark
  * passes them, so the fold consumes each user's events in global
  * event-time order across micro-batches (later drains only ever see
  * later timestamps). Each step therefore fires at most ONCE per user
  * — once set, no in-watermark event can precede it.
  *
  * Scale shape: one shuffle on `user_id` into the state operator.
  * Persistent state is the fixed-width chain (3 longs per user — the
  * funnel is an over-all-time journey, so the chain has no TTL; a
  * deployment bounding it would add an inactivity timeout exactly like
  * [[VisitorPipeline.bounceStreaming]]); the transient buffer holds only
  * in-flight events inside the watermark horizon. The downstream count
  * aggregate keys on 3 step rows.
  */
object FunnelStream {

  case class FunnelEvent(user_id: Long, event_type: String, ts: Long)
  case class StepReach(user_id: Long, step: Long, step_name: String, t_step: Long)

  /** Per-user state: the reached chain (0 = unset, ts are epoch ms and
    * the fixtures never use 0) plus the held not-yet-drained buffer.
    */
  case class FunnelState(tView: Long, tClick: Long, tPurchase: Long,
      buffer: List[FunnelEvent])

  /** Bounded out-of-orderness of the event stream. */
  val OutOfOrder = "1 hour"

  /** Same-timestamp fold order (qualification is strict `>`, so this
    * only pins determinism, never changes which steps qualify).
    */
  private def stepOrd(t: String): Int = t match {
    case "view" => 0
    case "click" => 1
    case "purchase" => 2
    case _ => 3
  }

  private def fold(uid: Long, st: FunnelState, evs: Seq[FunnelEvent])
      : (FunnelState, List[StepReach]) = {
    var (tv, tc, tp) = (st.tView, st.tClick, st.tPurchase)
    val out = scala.collection.mutable.ListBuffer[StepReach]()
    evs.sortBy(e => (e.ts, stepOrd(e.event_type))).foreach { e =>
      e.event_type match {
        case "view" if tv == 0L =>
          tv = e.ts; out += StepReach(uid, 1L, "view", e.ts)
        case "click" if tc == 0L && tv != 0L && e.ts > tv =>
          tc = e.ts; out += StepReach(uid, 2L, "click", e.ts)
        case "purchase" if tp == 0L && tc != 0L && e.ts > tc =>
          tp = e.ts; out += StepReach(uid, 3L, "purchase", e.ts)
        case _ => ()
      }
    }
    (st.copy(tView = tv, tClick = tc, tPurchase = tp), out.toList)
  }

  /** Append-mode stream of step-reach transitions, one per (user, step).
    * On a batch Dataset the same operator folds each user's closed
    * input in one pass — the batch twin is the operator itself.
    */
  def stepReaches(events: Dataset[FunnelEvent]): Dataset[StepReach] = {
    val evEnc = Encoders.product[FunnelEvent]
    val stEnc = Encoders.product[FunnelState]
    val outEnc = Encoders.product[StepReach]
    val streaming = events.isStreaming
    val prepared =
      if (!streaming) events
      else events.toDF()
        .withColumn("event_time", timestamp_millis($"ts"))
        .withWatermark("event_time", OutOfOrder)
        .as[FunnelEvent](evEnc)
    prepared.groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[FunnelState, StepReach](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val st0 = state.getOption.getOrElse(FunnelState(0L, 0L, 0L, Nil))
          // watermark gate: fold only what the event clock has passed —
          // a closed (batch) input folds everything at once
          val wm = if (streaming) state.getCurrentWatermarkMs() else Long.MaxValue
          val (ready, hold) = (st0.buffer ++ it).partition(_.ts <= wm)
          val (chain, emits) = fold(uid, st0, ready)
          state.update(chain.copy(buffer = hold))
          // held events must drain even if this user never speaks again:
          // wake at the next watermark advance
          if (streaming && hold.nonEmpty)
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
          emits.iterator
      }(stEnc, outEnc)
  }

  /** Update-mode per-step reached-user counts over [[stepReaches]] —
    * the frame [[DwsSink.maintain]] serves (key = `step`). Each reach
    * row arrives exactly once, so the running count per step IS the
    * batch funnel's `users` column once the watermark passes the input.
    */
  def stepCounts(reaches: Dataset[StepReach]): DataFrame =
    reaches.toDF().groupBy($"step", $"step_name")
      .agg(count(lit(1)).as("users"))

  /** Start maintaining the funnel's per-step counts in the DWS serving
    * store (key = `step`).
    *
    * Spark's static `checkCorrectness` gate flags ANY stateful
    * aggregation downstream of flatMapGroupsWithState, because the
    * state op may emit rows whose event time is already behind the
    * global watermark — hazardous iff the downstream operator filters
    * late rows. This topology cannot discard anything: [[StepReach]]
    * carries no event-time column and the count aggregate is
    * unwatermarked and window-free, so there is no late-row predicate
    * to drop the drained reaches. The check is disabled for THIS query
    * start only (analysis happens synchronously inside `start()`) and
    * the previous setting restored —
    * [[DwsSink.withRelaxedCorrectnessGate]], shared with the retention
    * and near-dup-census families.
    */
  def serveCounts(reaches: Dataset[StepReach], storeDir: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    DwsSink.withRelaxedCorrectnessGate(reaches.sparkSession) {
      DwsSink.maintain(stepCounts(reaches), storeDir, "funnel",
        keyCols = Seq("step"), checkpoint = checkpoint)
    }
}
