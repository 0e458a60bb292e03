package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ordered conversion funnel over the events table: view -> click ->
  * purchase in strict event-time order — each stage's first timestamp must
  * be strictly AFTER the previous stage's first timestamp (the standard
  * product-analytics funnel definition: a click before the user ever viewed
  * does not advance the funnel). Extends the events analytics surface next
  * to sessionization (st2) and interval attribution (st3); the reference
  * pipeline has no event funnel — this is part of the extension surface.
  *
  * Shape at scale: ONE hash exchange on user_id serves all three
  * min-over-partition window passes (identical partitioning — Catalyst
  * reuses the exchange and the sort) and the final per-user aggregate
  * collapses on the same key, so the whole funnel is a single shuffle whose
  * rows are (user, type, ts) triples; per-user window state is O(1) running
  * minima, no frames, no self-joins. Skew is bounded by events-per-user.
  */
object Funnel {

  /** Per-user funnel row: first_view/click/purchase as exact microsecond
    * longs (null when the stage was never reached in order) and
    * funnel_stage 0-3 = number of stages completed. */
  def userFunnel(events: DataFrame): DataFrame = ordered(events, None)

  /** Conversion-window funnel — [[userFunnel]] with a staleness bound per
    * hop: each stage's first qualifying timestamp must fall within
    * `maxLagDays` of the PREVIOUS stage's (a purchase three months after
    * the click is organic, not funnel conversion — the windowed form is
    * the production analytics norm; the unbounded ev1 is its limit).
    * Same single user_id exchange and O(1) running-minima window state;
    * the interval bound is a per-row comparison inside the same gate
    * predicate, so the plan shape is IDENTICAL to ev1's. */
  def userFunnelWindowed(events: DataFrame, maxLagDays: Int = 7): DataFrame =
    ordered(events, Some(expr(s"INTERVAL $maxLagDays DAYS")))

  /** The one gate chain of both forms: each stage's first timestamp
    * strictly after the previous stage's, and within `maxLag` of it when a
    * bound is given. */
  private def ordered(events: DataFrame, maxLag: Option[Column]): DataFrame = {
    val w = Window.partitionBy("user_id")
    def reached(stage: String, prev: String): Column = {
      val after = col("event_type") === stage && col("ts") > col(prev)
      maxLag.fold(after)(bound => after && col("ts") <= col(prev) + bound)
    }
    withStage(events
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("__v",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("__c", min(when(reached("click", "__v"), col("ts"))).over(w))
      .withColumn("__p", min(when(reached("purchase", "__c"), col("ts"))).over(w))
      .groupBy("user_id")
      .agg(
        min(expr("unix_micros(__v)")).as("first_view_us"),
        min(expr("unix_micros(__c)")).as("first_click_us"),
        min(expr("unix_micros(__p)")).as("first_purchase_us")))
  }

  /** funnel_stage 0-3 from the three first-stage columns. */
  private def withStage(df: DataFrame): DataFrame =
    df.withColumn("funnel_stage",
      when(col("first_purchase_us").isNotNull, 3)
        .when(col("first_click_us").isNotNull, 2)
        .when(col("first_view_us").isNotNull, 1)
        .otherwise(0))

  /** [[userFunnelSalted]] with the bucket count chosen by
    * [[graft.ops.Skew.adaptiveSaltBuckets]] from a cheap per-user count
    * pre-pass instead of a hand-tuned constant: a uniform event log picks
    * 1 bucket (no salting overhead), a bot-dominated log picks enough
    * buckets to bound any task at ~targetPerBucket of the hot user's
    * events. Answer-invariant by construction — SkewSpec proves equality
    * with [[userFunnel]] and with fixed-constant salting on both uniform
    * and 98%-one-user fixtures. */
  def userFunnelAdaptive(events: DataFrame,
      targetPerBucket: Long = 1000000L,
      broadcastGates: Boolean = true): DataFrame =
    userFunnelSalted(events,
      graft.ops.Skew.adaptiveSaltBuckets(events, "user_id", targetPerBucket),
      broadcastGates)

  /** Skew-hardened twin of [[userFunnel]] for a dominant user (one bot
    * account = half the event log). The plain form windows over
    * `partitionBy(user_id)`, so the hot user's entire history lands in ONE
    * task's sort. This form never shuffles events by bare user_id at all:
    * each stage minimum is an algebraic `min`, so it computes as a salted
    * two-phase aggregate — partial minima over (user_id, salt) spread the
    * hot user across `saltBuckets` tasks, then the tiny per-user table
    * merges and BROADCASTS back to gate the next stage's filter. Three
    * bounded aggregation rounds (stage k's gate needs stage k-1's result —
    * the strict-order dependency is inherently sequential), each shuffling
    * at most |users| x saltBuckets partial rows, never raw events.
    *
    * Salt is deterministic row content (xxhash64), not
    * monotonically_increasing_id — a shuffle-retry reorder must not move a
    * row between buckets (ops/Skew.saltedSumCount, same rule).
    * SkewSpec proves result equality vs [[userFunnel]] on a fixture where
    * one user owns ~98% of all events.
    *
    * Gate-table distribution: the per-user gate tables (v, c) are |users|
    * rows. With `broadcastGates=true` (default) they broadcast — right for
    * the common case where |users| fits the broadcast limit. At
    * hundreds-of-millions-of-users scale set `broadcastGates=false`: the
    * gates then join via an ordinary shuffle on user_id, which is safe —
    * the gate side has exactly one row per user, and the events side's
    * hot-user partition is the one case AQE skew-join splits handle
    * (only the salted AGGREGATES must avoid a bare user_id exchange; a
    * join probe against a 1-row-per-key build side is fine to split). */
  def userFunnelSalted(events: DataFrame, saltBuckets: Int = 16,
      broadcastGates: Boolean = true): DataFrame = {
    def gate(df: DataFrame): DataFrame = if (broadcastGates) broadcast(df) else df
    val base = events.select(col("user_id"), col("event_type"),
        expr("unix_micros(ts)").as("ts_us"))
      .withColumn("__salt",
        pmod(xxhash64(col("user_id"), col("event_type"), col("ts_us")),
          lit(saltBuckets.toLong)))

    // stage 1: first view — salted min
    val v = base
      .groupBy("user_id", "__salt")
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("pv"))
      .groupBy("user_id").agg(min("pv").as("first_view_us"))
    // stage 2: first click strictly after the first view
    val c = base
      .join(gate(v), Seq("user_id"), "left")
      .groupBy("user_id", "__salt")
      .agg(min(when(col("event_type") === "click" &&
        col("ts_us") > col("first_view_us"), col("ts_us"))).as("pc"))
      .groupBy("user_id").agg(min("pc").as("first_click_us"))
    // stage 3: first purchase strictly after that click
    val p = base
      .join(gate(c), Seq("user_id"), "left")
      .groupBy("user_id", "__salt")
      .agg(min(when(col("event_type") === "purchase" &&
        col("ts_us") > col("first_click_us"), col("ts_us"))).as("pp"))
      .groupBy("user_id").agg(min("pp").as("first_purchase_us"))

    withStage(v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left"))
  }
}
