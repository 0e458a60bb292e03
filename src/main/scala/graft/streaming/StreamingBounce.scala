package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming twin of the ev17 per-day bounce-rate report.
  *
  * The stream head is Spark's NATIVE session_window, the st2 operator
  * [[StreamPipeline.userSessions]]: per-user sessions merge in the state
  * store and EVICT once the watermark passes their close — the property
  * that keeps an unbounded deployment alive. The batch head is the
  * gaps-and-islands `Events.sessions` (oracle-checked as
  * ev17_bounce_rate); both heads aggregate the same session columns, and
  * [[fromSessions]] and [[fromSessionDurations]] are the ONE shared folds
  * both twins run, so stream==batch is literal code sharing past the
  * session step (boundary contract: [[StreamPipeline.userSessions]]).
  */
object StreamingBounce {

  /** The shared ev19 fold — per-day duration distribution, identical to
    * the batch tail (exact integer durations, percentile == quantile_cont
    * contract, mean at 2). */
  def fromSessionDurations(sessions: DataFrame): DataFrame =
    sessions.groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        graft.ops.Num.cround(percentile(col("duration_sec"), lit(0.5)), 6)
          .as("p50_sec"),
        graft.ops.Num.cround(percentile(col("duration_sec"), lit(0.9)), 6)
          .as("p90_sec"),
        graft.ops.Num.cround(avg(col("duration_sec")), 2).as("avg_sec"))
      .orderBy("day")

  /** The shared per-day fold — identical to the ev17 batch tail: bounce =
    * single-event session; the rate is exact-integer division (round 6 is
    * exact, the croundSql twin matches). */
  def fromSessions(sessions: DataFrame): DataFrame =
    graft.Queries.rounded(sessions.groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("n_bounces"))
      .withColumn("bounce_rate",
        col("n_bounces").cast("double") / col("n_sessions")),
      Seq("bounce_rate"))
      .orderBy("day")
}
