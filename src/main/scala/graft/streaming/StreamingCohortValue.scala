package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import graft.analytics.Events

/** Streaming twin of the ev18 weekly-cohort revenue triangle — with this,
  * every event-analytics operator in the engine keeps a stream==batch
  * proof. A live LTV dashboard folds each micro-batch into per-user state
  * instead of re-scanning the event log.
  *
  * Order-insensitivity (the [[StreamingActiveUsers]] contract, proven under
  * user-hash-SHUFFLED micro-batches): the cohort key is a running MIN over
  * event days (commutative — a late-arriving earlier event retroactively
  * moves the user's cohort, which per-user state absorbs and an
  * append-mode fact stream could not), and per-day purchase revenue
  * accumulates in exact long MICRO-UNITS of the tie-safe 6-dp rounding —
  * `cround(value, 6)` cast to DECIMAL(38,6) then scaled by 1e6, so each
  * term is an exact integer and long addition is associative. The batch
  * side sums the same DECIMAL(38,6) terms, so the fold reproduces its
  * double output bit-for-bit (sum_micros < 2^53 casts exactly; /1e6 is one
  * correctly-rounded division of the same exact value the decimal cast
  * rounds).
  *
  * State per user is (min event day, per-purchase-day cells): bounded by
  * the CALENDAR like the active-users day set, independent of event
  * volume. Week truncation happens in [[fromSnapshots]] with the engine's
  * own `date_trunc` — the state never re-implements calendar logic.
  */
object StreamingCohortValue {

  case class CEvent(user_id: Long, day: Int, is_purchase: Boolean,
                    value_micros: Long)

  case class DayCell(day: Int, n: Long, micros: Long)

  /** Per-user state AND emitted snapshot; `n_events_seen` is monotone so
    * the memory-sink fold can select the latest snapshot per user. */
  case class CohortSnapshot(user_id: Long, min_day: Int, cells: Seq[DayCell],
                            n_events_seen: Long)

  private def advance(user: Long, evs: Iterator[CEvent],
                      st: GroupState[CohortSnapshot]): CohortSnapshot = {
    val es = evs.toSeq
    val prev = st.getOption
    val minDay = (es.map(_.day) ++ prev.map(_.min_day)).min
    val cells = (prev.map(_.cells).getOrElse(Nil) ++
      es.filter(_.is_purchase).map(e => DayCell(e.day, 1L, e.value_micros)))
      .groupBy(_.day).toSeq
      .map { case (d, cs) => DayCell(d, cs.map(_.n).sum, cs.map(_.micros).sum) }
      .sortBy(_.day)
    val snap = CohortSnapshot(user, minDay, cells,
      prev.map(_.n_events_seen).getOrElse(0L) + es.size)
    st.update(snap)
    snap
  }

  /** Project an events frame (batch or stream) onto the cohort input
    * shape. The micro-unit conversion goes through DECIMAL(38,6) — the
    * exact same rounding the batch operator's decimal cast performs — so
    * the twins share their one lossy step. */
  def toCohortEvents(spark: SparkSession, events: DataFrame): Dataset[CEvent] = {
    import spark.implicits._
    val ev = graft.io.Sources.normalizeEventTs(events)
    ev.select(col("user_id"), Events.epochDay(Events.day(col("ts"))).as("day"),
        (col("event_type") === "purchase").as("is_purchase"),
        coalesce((graft.ops.Num.cround(col("value"), 6).cast("decimal(38,6)")
          * 1000000).cast("long"), lit(0L)).as("value_micros"))
      .as[CEvent]
  }

  /** The per-user snapshot stream (Update mode). */
  def cohortStream(spark: SparkSession,
                   events: Dataset[CEvent]): Dataset[CohortSnapshot] = {
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(advance)
  }

  /** Fold the LATEST snapshot per user into the batch operator's exact
    * output (cohort_week, week_index, n_purchases, n_buyers, revenue).
    * Week truncation and the /7 index use the identical expressions the
    * batch query compiles. */
  def fromSnapshots(latest: DataFrame): DataFrame = {
    val cells = latest
      .select(col("user_id"), col("min_day"), explode(col("cells")).as("c"))
      .select(col("user_id"),
        Events.week(Events.fromEpochDay(col("min_day"))).as("cohort_week"),
        Events.week(Events.fromEpochDay(col("c.day"))).as("purchase_week"),
        col("c.n").as("n"), col("c.micros").as("micros"))
    cells
      .withColumn("week_index",
        Events.weekIndex(col("purchase_week"), col("cohort_week")))
      .groupBy("cohort_week", "week_index")
      .agg(sum(col("n")).as("n_purchases"),
        countDistinct(col("user_id")).as("n_buyers"),
        (sum(col("micros")).cast("double") / lit(1e6)).as("revenue"))
      .orderBy("cohort_week", "week_index")
  }
}
