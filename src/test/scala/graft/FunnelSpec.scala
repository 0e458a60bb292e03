package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Funnel

/** Strict-order funnel semantics on crafted per-user event sequences. */
class FunnelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("funnel stages require strict event-time order per user") {
    import spark.implicits._
    val events = Seq(
      // user 1: clean view -> click -> purchase = stage 3
      (1L, "view", ts(10)), (1L, "click", ts(20)), (1L, "purchase", ts(30)),
      // user 2: click BEFORE the first view never advances; the purchase
      // cannot count without an in-order click = stage 1
      (2L, "click", ts(10)), (2L, "view", ts(20)), (2L, "purchase", ts(30)),
      // user 3: view only = stage 1
      (3L, "view", ts(10)),
      // user 4: purchase with no view at all = stage 0
      (4L, "purchase", ts(10)),
      // user 5: purchase at the SAME instant as the click is not after it
      // = stage 2; a later second purchase would advance it (none here)
      (5L, "view", ts(10)), (5L, "click", ts(20)), (5L, "purchase", ts(20)),
      // user 6: the first in-order click is the EARLIEST click after the
      // first view, and the purchase between them does not count = stage 2
      (6L, "view", ts(10)), (6L, "purchase", ts(15)), (6L, "click", ts(20)))
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.userFunnel(events).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(out.size == 6)
    def stage(u: Long) = out(u).getAs[Int]("funnel_stage")
    assert(stage(1L) == 3 && stage(2L) == 1 && stage(3L) == 1)
    assert(stage(4L) == 0 && stage(5L) == 2 && stage(6L) == 2)

    val u1 = out(1L)
    assert(u1.getAs[Long]("first_view_us") == 10000000L)
    assert(u1.getAs[Long]("first_click_us") == 20000000L)
    assert(u1.getAs[Long]("first_purchase_us") == 30000000L)
    // user 2's first_view exists even though the funnel stalls there
    assert(out(2L).getAs[Long]("first_view_us") == 20000000L)
    assert(out(2L).isNullAt(out(2L).fieldIndex("first_click_us")))
    // user 4 never viewed: all stage timestamps null
    assert(out(4L).isNullAt(out(4L).fieldIndex("first_view_us")))
  }

  test("windowed funnel demotes hops that exceed the staleness bound") {
    import spark.implicits._
    val day = 86400L
    val events = Seq(
      // user 1: click on day 3, purchase on day 8 (5 days after click) —
      // all hops inside the 7-day bound = stage 3
      (1L, "view", ts(0)), (1L, "click", ts(3 * day)),
      (1L, "purchase", ts(8 * day)),
      // user 2: click 8 days after the view — outside the bound; the
      // purchase cannot gate on a missing click = stage 1
      (2L, "view", ts(0)), (2L, "click", ts(8 * day)),
      (2L, "purchase", ts(9 * day)),
      // user 3: click in bound, purchase 8 days after the click = stage 2
      (3L, "view", ts(0)), (3L, "click", ts(day)),
      (3L, "purchase", ts(9 * day)),
      // user 4: first in-bound click day 2 gates the purchase at day 3
      // (1 day later); the second click at day 8 is irrelevant = stage 3
      (4L, "view", ts(0)), (4L, "click", ts(2 * day)),
      (4L, "click", ts(8 * day)), (4L, "purchase", ts(3 * day)))
      .toDF("user_id", "event_type", "ts")
    val out = Funnel.userFunnelWindowed(events, maxLagDays = 7).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("funnel_stage")).toMap
    assert(out == Map(1L -> 3, 2L -> 1, 3L -> 2, 4L -> 3), out.toString)
    // the unbounded funnel promotes users 2 and 3 to stage 3
    val base = Funnel.userFunnel(events).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Int]("funnel_stage")).toMap
    assert(base == Map(1L -> 3, 2L -> 3, 3L -> 3, 4L -> 3), base.toString)
  }

  test("linear attribution splits value across in-window touches; direct otherwise") {
    import spark.implicits._
    val day = 86400L
    val events = Seq(
      // purchase day 10 value 10: view day 5 + click day 6 in window
      // (day 3..10), view day 2 OUT of the 7-day window, view day 20 after
      (1L, 100L, "view", ts(2 * day), 0.0),
      (2L, 100L, "view", ts(5 * day), 0.0),
      (3L, 100L, "click", ts(6 * day), 0.0),
      (4L, 100L, "purchase", ts(10 * day), 10.0),
      (5L, 100L, "view", ts(20 * day), 0.0),
      // a touch at the purchase instant is NOT strictly preceding
      (6L, 200L, "view", ts(30 * day), 0.0),
      (7L, 200L, "purchase", ts(30 * day), 8.0),
      // two views in window -> 3.0 each
      (8L, 300L, "view", ts(40 * day), 0.0),
      (9L, 300L, "view", ts(41 * day), 0.0),
      (10L, 300L, "purchase", ts(42 * day), 6.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
    val out = graft.analytics.Attribution.linearAttribution(events).collect()
      .map(r => r.getAs[String]("channel") ->
        (r.getAs[Long]("n_attributions"), r.getAs[Double]("attributed_value")))
      .toMap
    // view: 5.0 (half of user 100's purchase) + 6.0 (all of user 300's)
    assert(out("view") == ((3L, 11.0)), out.toString)
    assert(out("click") == ((1L, 5.0)), out.toString)
    // user 200's purchase has no strictly-preceding touch -> direct
    assert(out("direct") == ((1L, 8.0)), out.toString)
  }

  test("ev13 over an empty events table reads 0 users per stage and NULL conversions") {
    import spark.implicits._
    SparkTestSession.withTempDir("graft-ev13-") { dir =>
      Seq.empty[(Long, Timestamp, Long, String, Double)]
        .toDF("event_id", "ts", "user_id", "event_type", "value")
        .write.parquet(s"$dir/events.parquet")
      val rows = Queries.ev13FunnelSummary(spark, dir.toString).collect()
        .map(r => (Option(r.get(2)), r.isNullAt(3), r.isNullAt(4))).toSeq
      assert(rows == Seq.fill(3)((Some(0L), true, true)), rows.toString)
    }
  }

  test("window, salted, and stateful-stream funnels agree on random event logs") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // tie-heavy random logs (8 users, only 12 distinct timestamps) — the
    // three implementations use different machinery (whole-partition
    // windows / salted two-phase minima / per-group sequential state) and
    // must agree everywhere, including same-instant stage collisions
    val rnd = new scala.util.Random(777)
    val types = Seq("view", "click", "purchase", "other")
    val cols = Seq("user_id", "first_view_us", "first_click_us",
      "first_purchase_us", "funnel_stage")
    for (trial <- 1 to 6) {
      val rows = Seq.fill(120)(
        (rnd.nextInt(8) + 1L, types(rnd.nextInt(4)), ts(rnd.nextInt(12) + 1L)))
      val events = rows.toDF("user_id", "event_type", "ts")
      val window = Funnel.userFunnel(events).select(cols.map(col): _*)
      val salted = Funnel.userFunnelSalted(events, saltBuckets = 4)
        .select(cols.map(col): _*)
      val shuffled = Funnel.userFunnelSalted(events, saltBuckets = 4,
          broadcastGates = false)
        .select(cols.map(col): _*)
      val stream = graft.streaming.StreamingFunnel.userFunnelStream(spark,
          graft.streaming.StreamingFunnel.toFunnelEvents(spark, events))
        .toDF.select(col("user_id"), col("first_view_us"),
          col("first_click_us"), col("first_purchase_us"), col("funnel_stage"))
      assert(window.count() == salted.count() && window.count() == stream.count(),
        s"trial $trial: row counts diverge")
      assert(salted.exceptAll(window).count() == 0 &&
        window.exceptAll(salted).count() == 0,
        s"trial $trial: salted != window on $rows")
      assert(shuffled.exceptAll(window).count() == 0 &&
        window.exceptAll(shuffled).count() == 0,
        s"trial $trial: shuffled-gate salted != window on $rows")
      assert(stream.exceptAll(window).count() == 0 &&
        window.exceptAll(stream).count() == 0,
        s"trial $trial: stateful != window on $rows")
    }
  }
}
