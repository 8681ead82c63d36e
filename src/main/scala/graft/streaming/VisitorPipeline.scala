package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft._

/** DWM visitor analytics: UV dedup (reference UniqueVisitApp) and bounce
  * detection (reference UserJumpDetailApp's CEP), as streaming stateful
  * operators with batch twins sharing semantics.
  */
object VisitorPipeline {

  case class PageEvent(mid: String, page_id: String, last_page_id: String, ts: Long)

  // ---- ST2: daily unique visitors --------------------------------------

  /** Streaming UV dedup under a 1-day watermark — the Spark-native form
    * of the reference's 24 h-TTL ValueState (UniqueVisitApp.java:53-102).
    * Uses `dropDuplicatesWithinWatermark`: plain `dropDuplicates` on
    * (mid, dt) would never evict state (eviction requires the
    * event-time column among the keys), growing unboundedly; the
    * within-watermark variant expires each (mid, dt) entry once the
    * watermark passes it — the same retention contract as the TTL.
    */
  def uvStreaming(events: DataFrame): DataFrame = {
    val prepared = events
      .filter($"last_page_id".isNull || length($"last_page_id") === 0)
      .withColumn("event_time", timestamp_millis($"ts"))
      .withColumn("dt", date_format($"event_time", "yyyy-MM-dd"))
    if (prepared.isStreaming)
      prepared.withWatermark("event_time", "1 day")
        .dropDuplicatesWithinWatermark("mid", "dt")
    else prepared.dropDuplicates("mid", "dt")
  }

  // ---- ST3: bounce (jump-out) detection --------------------------------

  /** Bounce window: a session entry with no follow-up within this many
    * ms is a bounce (reference CEP `within(Time.seconds(10))`,
    * UserJumpDetailApp.java:93).
    */
  val BounceWindowMs: Long = 10000L

  case class BounceState(pendingTs: Long, pendingPage: String)

  /** EventTimeTimeout needs an event-time watermark on the input; 1 s
    * bounded out-of-orderness mirrors the reference
    * (UserJumpDetailApp.java:61). No-op on batch Datasets.
    */
  private def withEventTimeWatermark(events: Dataset[PageEvent]): Dataset[PageEvent] = {
    import org.apache.spark.sql.functions.timestamp_millis
    val enc = Encoders.product[PageEvent]
    if (!events.isStreaming) events
    else events.toDF()
      .withColumn("event_time", timestamp_millis($"ts"))
      .withWatermark("event_time", "1 second")
      .as[PageEvent](enc)
  }

  /** Streaming CEP replacement (reference UserJumpDetailApp.java:58-120):
    * one flatMapGroupsWithState emits both the "pattern matched" branch
    * (entry → entry within 10 s ⇒ first is a bounce) and the "timeout"
    * branch (entry then silence ⇒ bounce on watermark advance) — the
    * union the reference builds from CEP select + timeout side-output
    * (:115) collapses into one operator.
    */
  def bounceStreaming(events: Dataset[PageEvent]): Dataset[PageEvent] = {
    val enc = Encoders.product[PageEvent]
    val streaming = events.isStreaming
    withEventTimeWatermark(events).groupByKey(_.mid)(Encoders.STRING)
      .flatMapGroupsWithState[BounceState, PageEvent](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (mid: String, it: Iterator[PageEvent], state: GroupState[BounceState]) =>
          def isEntry(e: PageEvent) =
            e.last_page_id == null || e.last_page_id.isEmpty
          if (it.isEmpty && state.hasTimedOut) {
            // silence: the pending entry bounced
            val p = state.get
            state.remove()
            Iterator.single(PageEvent(mid, p.pendingPage, null, p.pendingTs))
          } else {
            val out = scala.collection.mutable.ArrayBuffer[PageEvent]()
            var pending = state.getOption
            it.toSeq.sortBy(_.ts).foreach { e =>
              pending match {
                case Some(p) if e.ts < p.pendingTs =>
                  // late arrival from BEFORE the pending entry (crossed a
                  // micro-batch boundary): not a follow-up page, so the
                  // pending candidate stays. If the late event is itself
                  // an entry, in event-time order it was followed by the
                  // pending entry — by the CEP pattern it bounced
                  // (entry→entry within the window, or silence beyond it)
                  if (isEntry(e)) out += PageEvent(mid, e.page_id, null, e.ts)
                case Some(p) if e.ts - p.pendingTs > BounceWindowMs =>
                  out += PageEvent(mid, p.pendingPage, null, p.pendingTs)
                  pending = if (isEntry(e)) Some(BounceState(e.ts, e.page_id)) else None
                case Some(p) if isEntry(e) =>
                  out += PageEvent(mid, p.pendingPage, null, p.pendingTs)
                  pending = Some(BounceState(e.ts, e.page_id))
                case Some(_) =>
                  pending = None
                case None =>
                  if (isEntry(e)) pending = Some(BounceState(e.ts, e.page_id))
              }
            }
            pending match {
              case Some(p) =>
                state.update(p)
                // must exceed the current watermark or Spark rejects it;
                // timeout APIs only exist under a streaming watermark —
                // on a batch Dataset the pending entry is emitted by the
                // caller's closed-input convention (bounceBatch is the
                // batch twin)
                if (streaming) state.setTimeoutTimestamp(math.max(
                  state.getCurrentWatermarkMs() + 1, p.pendingTs + BounceWindowMs))
              case None => state.remove()
            }
            out.iterator
          }
      }(Encoders.product[BounceState], enc)
  }

  /** Batch twin of [[bounceStreaming]] (lead() formulation) — the oracle
    * for the streaming semantics on a closed input.
    */
  def bounceBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"mid").orderBy($"ts")
    events
      .withColumn("next_ts", lead($"ts", 1).over(w))
      .withColumn("next_last_page", lead($"last_page_id", 1).over(w))
      .filter(($"last_page_id".isNull || length($"last_page_id") === 0) &&
        ($"next_ts".isNull || $"next_ts" - $"ts" > BounceWindowMs ||
          $"next_last_page".isNull || length($"next_last_page") === 0))
      .select($"mid", $"page_id", lit(null).cast("string").as("last_page_id"), $"ts")
  }
}
