package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rolling distinct-active-user curves (DAU / rolling-window WAU) over an
  * event stream — the growth dashboard's second triangle next to cohort
  * [[Retention]] (reference provenance: the reference has no event
  * surface; this extends the engine's events analytics).
  *
  * The naive formulation — COUNT(DISTINCT user_id) per sliding window —
  * re-scans every event `windowDays` times and plans one count-distinct
  * Expand per day. The scale formulation used here inverts it:
  *
  *   1. ONE distinct over (user_id, day) — the only corpus-sized
  *      exchange; every later row count is bounded by users × days.
  *   2. Each (user, active day) CONTRIBUTES to the `windowDays` calendar
  *      days it keeps the user "active" for: explode a constant
  *      0..windowDays-1 sequence (bounded ×7 fan-out of the
  *      already-deduplicated pairs, not of raw events) and dedup again —
  *      a user active 5 times inside one window still counts once.
  *   3. A plain count per day finishes it — no count-distinct Expand
  *      anywhere, same trick as [[Retention]]'s pre-deduplicated explode.
  *
  * Contribution days past the corpus's last observed day are dropped (the
  * curve ends at the data, it does not forecast); days with rolling-window
  * actives but no same-day events keep dau = 0. Output:
  * (day, dau, wau) where wau counts distinct users active in
  * [day - windowDays + 1, day]. Exact integers end to end — no rounding
  * discipline needed.
  */
object ActiveUsers {

  def rollingActive(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "windowDays must be >= 1")
    val daily = Events.userDays(events)
    val maxDay = daily.agg(max("day").as("__max_day"))
    val contributions = daily
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        explode(sequence(lit(0), lit(windowDays - 1))).as("i"),
        col("day"), col("__max_day"))
      .select(col("user_id"), date_add(col("day"), col("i")).as("day"),
        col("__max_day"))
      .filter(col("day") <= col("__max_day"))
      .select("user_id", "day").distinct()
    val wau = contributions.groupBy("day")
      .agg(count(lit(1)).as("wau"))
    val dau = daily.groupBy("day").agg(count(lit(1)).as("dau"))
    wau.join(dau, Seq("day"), "left")
      .select(col("day"), coalesce(col("dau"), lit(0L)).as("dau"), col("wau"))
  }

  /** Weekly DAU/WAU stickiness — the "how often do weekly users show
    * up" engagement ratio next to [[rollingActive]]'s daily curves.
    * stickiness = (average DAU over the week's observed days) / WAU,
    * per calendar ISO week (vs rollingActive's sliding window).
    *
    * Same scale inversion as rollingActive: ONE distinct over
    * (user_id, day) is the only corpus-sized exchange; DAU and WAU both
    * aggregate the deduplicated pairs (users × days bounded), and the WAU
    * count-distinct runs per week over those pairs — never over raw
    * events. Determinism: avg_dau is a sum/count of exact integers and
    * stickiness its exact-integer ratio — both engines compute the same
    * IEEE divisions; rounded tie-safe anyway (2 / 6, the house scales). */
  def weeklyStickiness(events: DataFrame): DataFrame = {
    val daily = Events.userDays(events)
    val dau = daily.groupBy("day").agg(count(lit(1)).as("dau"))
      .groupBy(Events.week(col("day")).as("wk"))
      .agg(count(lit(1)).as("n_days"), avg("dau").as("avg_dau"))
    val wau = daily
      .groupBy(Events.week(col("day")).as("wk"))
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "wk")
      .select(col("wk"), col("n_days"), col("wau"),
        graft.ops.Num.cround(col("avg_dau"), 2).as("avg_dau"),
        graft.ops.Num.cround(col("avg_dau") / col("wau"), 6).as("stickiness"))
  }
}
