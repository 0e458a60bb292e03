package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The event kernels, each defined once (the [[graft.ops.Derive]] of the
  * events table): every event query and stream twin builds from these.
  * Whole seconds are floor-epoch differences, exact on both engines. */
object Events {

  /** The user event order: per user by (ts, event_id), event_id breaking
    * same-instant ties; and the same order per (user, event type). */
  val byUser: WindowSpec = Window.partitionBy("user_id").orderBy("ts", "event_id")
  val byUserType: WindowSpec =
    Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")

  /** The calendar day and the Monday-start week of a timestamp or date. */
  def day(ts: Column): Column = date_trunc("day", ts).cast("date")
  def week(ts: Column): Column = date_trunc("week", ts).cast("date")

  /** Whole weeks from a cohort week to a later week (both [[week]]s). */
  def weekIndex(wk: Column, cohortWeek: Column): Column =
    (datediff(wk, cohortWeek) / 7).cast("int")

  /** A date as days since 1970-01-01 (the twins' state), and back. */
  private val epoch = to_date(lit("1970-01-01"))
  def epochDay(date: Column): Column = datediff(date, epoch)
  def fromEpochDay(n: Column): Column = date_add(epoch, n)

  /** The distinct (user_id, day) activity set. */
  def userDays(events: DataFrame): DataFrame =
    events.select(col("user_id"), day(col("ts")).as("day")).distinct()

  /** Whole seconds from `prev` to the row's `ts`. */
  def gapSec(prev: Column): Column = col("ts").cast("long") - prev.cast("long")

  /** The (event_type, gap_sec, n) histogram of (event_type, gap_sec) rows. */
  def gapHistogram(gaps: DataFrame): DataFrame =
    gaps.groupBy("event_type", "gap_sec").agg(count(lit(1)).as("n"))

  /** (prev_type, event_type, n): each event counted under the type of its
    * predecessor in [[byUser]]. A user's first event has NULL prev_type,
    * so the NULL rows are the start distribution. */
  def transitionCounts(events: DataFrame): DataFrame =
    events.withColumn("prev_type", lag("event_type", 1).over(byUser))
      .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))

  /** Gaps-and-islands sessions: in [[byUser]] order, a user's first event
    * and any event after a silence of more than 1800 s (exactly 1800 s
    * stays in) opens one; adds `prev_ts`, `new_session` and the running
    * count of openings, `session_seq`. */
  def sessionized(events: DataFrame): DataFrame =
    events
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || gapSec(col("prev_ts")) > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))

  /** The aggregates of one session's events, batch or session_window. */
  val sessionColumns: Seq[Column] = Seq(
    count(lit(1)).as("n_events"),
    date_format(min("ts"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
    day(min(col("ts"))).as("day"),
    (max(col("ts").cast("long")) - min(col("ts").cast("long"))).as("duration_sec"),
    sum("value").as("total_value"))

  /** One row per [[sessionized]] session: (user_id, session_seq, n_events,
    * session_start, day, duration_sec, total_value). */
  def sessions(events: DataFrame): DataFrame =
    sessionized(events).groupBy("user_id", "session_seq")
      .agg(sessionColumns.head, sessionColumns.tail: _*)

  /** Per purchasing user: (user_id, last_day, frequency, unrounded
    * value_sum, recency_days to the corpus's last purchase day). */
  def rfm(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
    p.groupBy("user_id")
      .agg(max(day(col("ts"))).as("last_day"), count(lit(1)).as("frequency"),
        sum("value").as("value_sum"))
      .crossJoin(broadcast(p.agg(max(day(col("ts"))).as("__mx"))))
      .withColumn("recency_days", datediff(col("__mx"), col("last_day")))
      .drop("__mx")
  }
}
