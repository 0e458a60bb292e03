package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Num

/** Cohort retention analysis over an event stream: bucket users by the
  * ISO week of their first activity (the cohort), then count how many of
  * each cohort are still active k weeks later — the standard
  * growth-analytics triangle next to the funnel family
  * ([[Funnel]]; reference provenance: the reference has no event surface,
  * this extends the engine's events-table analytics).
  *
  * Scale design (events is the 100 TB side):
  *   1. ONE user-keyed hash aggregate builds each user's cohort week and
  *      distinct active-week set in the same pass (`min` + `collect_set`
  *      both partial-aggregate map-side; the set is bounded by the
  *      calendar — at most ~52 entries per user-year, independent of the
  *      user's event count, so state stays small no matter how hot the
  *      user).
  *   2. The explode emits at most |weeks| rows per user — already
  *      deduplicated, so the cohort-level count needs NO count-distinct
  *      Expand; a plain `count(*)` over a second hash shuffle keyed on
  *      (cohort_week, week_offset) finishes it.
  *   3. The retention denominator is a window over the AGGREGATED frame
  *      (#cohorts x #offsets rows — thousands at any corpus size), so the
  *      heavy side never sees a window sort.
  *
  * Output: (cohort_week, week_offset, n_users, cohort_size, retention),
  * retention = n_users / cohort_size rounded tie-safe at 6 (one exact-int
  * division — engine-stable). Offset 0 always exists (a user's first week
  * is active by definition), so the denominator is total.
  */
object Retention {

  def cohortRetention(events: DataFrame): DataFrame = {
    val perUser = events
      .select(col("user_id"), Events.week(col("ts")).as("week"))
      .groupBy("user_id")
      .agg(min(col("week")).as("cohort_week"),
        collect_set(col("week")).as("weeks"))
    val counts = perUser
      .select(col("cohort_week"), explode(col("weeks")).as("week"))
      .withColumn("week_offset", Events.weekIndex(col("week"), col("cohort_week")))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
    val byCohort = Window.partitionBy("cohort_week")
    counts
      .withColumn("cohort_size",
        max(when(col("week_offset") === 0, col("n_users"))).over(byCohort))
      .withColumn("retention",
        Num.cround(col("n_users").cast("double") / col("cohort_size"), 6))
  }
}
