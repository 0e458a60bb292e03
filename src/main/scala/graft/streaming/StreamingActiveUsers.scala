package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.analytics.Events

/** Streaming twin of the per-user activity kernels — a live growth
  * dashboard folds each micro-batch into per-user state instead of
  * re-scanning the event log, and one state serves three batch reports:
  * `ActiveUsers.rollingActive` (ev9), `Retention.cohortRetention` (ev5)
  * and `Lifecycle.growthAccounting` (ev21).
  *
  * State per user is (distinct active-day set, events seen): bounded by
  * the CALENDAR (at most 366 ints per user-year, independent of event
  * volume). Days are stored as days-since-epoch ints for a flat state
  * encoder; weeks are not kept apart, since a week is a function of its
  * days.
  *
  * Emission is Update-mode snapshots with a monotone `n_events_seen`
  * (the [[StreamingFunnel]] "latest" contract). [[activity]] turns the
  * latest snapshot per user back into `(user_id, ts)` rows, one midnight
  * `ts` per active day, which each of the three batch kernels consumes
  * unchanged: its day, week and cohort truncations of a midnight agree
  * with those of the user's raw events. So `rollingActive(activity(latest))
  * == rollingActive(all events so far)`, and the same for ev5 and ev21.
  * Day-set union is order-insensitive, so the equality holds under ANY
  * event arrival order — StreamingSpec drives user-hash-SHUFFLED
  * micro-batches and restarts the stream from its checkpoint.
  */
object StreamingActiveUsers {

  case class AEvent(user_id: Long, day: Int)

  /** Per-user state AND emitted snapshot. */
  case class ActiveSnapshot(user_id: Long, day_set: Seq[Int],
                            n_events_seen: Long)

  private def advance(user: Long, evs: Iterator[AEvent],
                      st: org.apache.spark.sql.streaming.GroupState[ActiveSnapshot]
                     ): ActiveSnapshot = {
    val ds = evs.map(_.day).toSeq
    val prev = st.getOption
    val set = (prev.map(_.day_set).getOrElse(Nil) ++ ds).distinct.sorted
    val snap = ActiveSnapshot(user, set,
      prev.map(_.n_events_seen).getOrElse(0L) + ds.size)
    st.update(snap)
    snap
  }

  /** Project an events frame (batch or stream) onto (user, day-int). */
  def toActiveEvents(spark: SparkSession, events: DataFrame): Dataset[AEvent] = {
    import spark.implicits._
    val ev = graft.io.Sources.normalizeEventTs(events)
    ev.select(col("user_id"), Events.epochDay(Events.day(col("ts"))).as("day"))
      .as[AEvent]
  }

  /** The per-user snapshot stream (Update mode). */
  def activeStream(spark: SparkSession,
                   events: Dataset[AEvent]): Dataset[ActiveSnapshot] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(advance)
  }

  /** The LATEST snapshot per user as `(user_id, ts)` activity rows: the
    * already-distinct day sets explode, each day a midnight timestamp. */
  def activity(latest: DataFrame): DataFrame =
    latest.select(col("user_id"), explode(col("day_set")).as("__d"))
      .select(col("user_id"),
        Events.fromEpochDay(col("__d")).cast("timestamp").as("ts"))
}
