package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weekly growth accounting — every active user classified each week as
  * NEW (first week ever), RETAINED (also active the previous week) or
  * RESURRECTED (active before, but not the previous week), plus CHURNED
  * (active in week w, not in w+7 — attributed to w+7). The canonical
  * "quality of growth" decomposition (net growth = new + resurrected −
  * churned) next to ev5's cohort triangle.
  *
  * Shape at scale: the event log reduces to DISTINCT (user, week) pairs
  * in one exchange; the lag/lead classification windows run over those
  * pairs on the same user key, and the weekly report is weeks-sized.
  * Right-censoring: users whose last observed week is the corpus's end
  * are NOT churned (unobserved ≠ gone) — only an observed gap (next
  * active week > 7 days later) creates a churn event.
  *
  * Shared verbatim by the batch ev21 query and the streaming twin, whose
  * per-user day sets come back as one midnight `ts` per active day
  * (`StreamingActiveUsers.activity`) and reduce to the same (user, week)
  * pairs — StreamingSpec proves the composition. */
object Lifecycle {

  /** Growth accounting from (user_id, ts) activity rows. Counts are exact
    * integers — no rounding. */
  def growthAccounting(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("week")
    val st = events
      .select(col("user_id"), Events.week(col("ts")).as("week"))
      .distinct()
      .withColumn("prev_week", lag("week", 1).over(byUser))
      .withColumn("next_week", lead("week", 1).over(byUser))
    val statusCounts = st.groupBy("week")
      .agg(
        sum(when(col("prev_week").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev_week").isNotNull &&
          datediff(col("week"), col("prev_week")) === 7, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev_week").isNotNull &&
          datediff(col("week"), col("prev_week")) > 7, 1L).otherwise(0L))
          .as("n_resurrected"))
    val churn = st
      .filter(col("next_week").isNotNull &&
        datediff(col("next_week"), col("week")) > 7)
      .groupBy(date_add(col("week"), 7).as("week"))
      .agg(count(lit(1)).as("n_churned"))
    statusCounts.join(churn, Seq("week"), "full_outer")
      .select(col("week"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("week")
  }
}
