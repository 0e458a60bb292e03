package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of `analytics/Transitions.eventTransitions`: emit each
  * (prev_type -> event_type) transition fact as it happens, carrying only
  * each user's LAST event as `flatMapGroupsWithState` state. A user's
  * first event emits a start fact (prev_type NULL), the start row of
  * the batch `Events.transitionCounts` table, so one fact stream
  * feeds ev6 (non-NULL pairs), ev20 (their counts) and ev23 (pairs, starts
  * and per-type totals: every event is the `event_type` of exactly one
  * fact).
  *
  * State per user is one (ts_us, event_id, event_type) triple — O(1),
  * independent of history length, the same state-store footprint argument
  * as [[StreamingFunnel]]. Each micro-batch folds its events in
  * (ts_us, event_id) order, the batch order `Events.byUser`, chaining
  * from the stored last event, so the emitted pair stream aggregated over
  * time is IDENTICAL to the batch lag-pass — StreamingSpec drives three
  * time-ordered micro-batches, and a restart from the checkpoint, and
  * proves count equality against `Transitions.eventTransitions`.
  *
  * Emission is Append-mode (each transition fact is final when emitted) —
  * downstream, a `foreachBatch` fold or a streaming aggregate turns facts
  * into the live transition matrix. Same equivalence contract as the
  * funnel twin: micro-batches arrive in event-time order; replays rerun
  * the batch form.
  */
object StreamingTransitions {

  case class TEvent(user_id: Long, event_id: Long, event_type: String,
                    ts_us: Long)
  case class LastEvent(ts_us: Long, event_id: Long, event_type: String)
  case class Transition(user_id: Long, prev_type: String, event_type: String)

  private def advance(user: Long, evs: Iterator[TEvent],
                      st: GroupState[LastEvent]): Iterator[Transition] = {
    // must match the batch order, Events.byUser: (ts, event_id)
    val sorted = evs.toSeq.sortBy(e => (e.ts_us, e.event_id))
    var prev = st.getOption
    val out = Seq.newBuilder[Transition]
    sorted.foreach { e =>
      out += Transition(user, prev.map(_.event_type).orNull, e.event_type)
      prev = Some(LastEvent(e.ts_us, e.event_id, e.event_type))
    }
    prev.foreach(st.update)
    out.result().iterator
  }

  /** Project an events frame (batch or stream) onto the transition input
    * shape; microsecond longs keep the state encoder flat. */
  def toTransitionEvents(spark: SparkSession,
                         events: DataFrame): Dataset[TEvent] = {
    import spark.implicits._
    val ev = graft.io.Sources.normalizeEventTs(events)
    ev.select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us"))
      .as[TEvent]
  }

  /** The per-transition fact stream. */
  def transitionsStream(spark: SparkSession,
                        events: Dataset[TEvent]): Dataset[Transition] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(advance)
  }
}
