package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew

/** Salted two-phase aggregation must agree with the direct aggregate. */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("saltedSumCount equals plain groupBy on a skewed key distribution") {
    // hot key: 10k rows of 'HOT', 100 of everything else
    val rows = (1 to 10000).map(i => ("HOT", i.toDouble)) ++
      (1 to 100).flatMap(i => Seq(("a", i.toDouble), ("b", i * 2.0)))
    val df = rows.toDF("k", "v").repartition(8)

    val direct = df.groupBy("k").agg(sum("v").as("sum_v"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = Skew.saltedSumCount(df, "k", "v")
      .collect().map(r => r.getAs[String]("k") ->
        (r.getAs[Double]("sum_v"), r.getAs[Long]("cnt"))).toMap

    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, (s, c)) =>
      assert(c == direct(k)._2, s"count for $k")
      assert(math.abs(s - direct(k)._1) < 1e-6, s"sum for $k")
    }
  }

  test("salted funnel equals the window funnel on a dominant-user fixture") {
    // one bot user owns ~98% of all events (the funnel/window family's skew
    // trap: partitionBy(user_id) puts that user's whole history in one
    // task); the salted three-round form must agree row-for-row
    val hot = spark.range(30000).select(
      lit(1L).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("other")),
        (pmod(col("id"), lit(4)) + 1).cast("int")).as("event_type"),
      expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"))
    // 50 cold users; the id%50 x id%4 cycle gives each user only TWO event
    // types, so partial funnels (stage 0/1/2) are well represented
    val cold = spark.range(500).select(
      (pmod(col("id"), lit(50)) + 2).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("other")),
        (pmod(col("id"), lit(4)) + 1).cast("int")).as("event_type"),
      expr("timestamp_micros(1700000000000000 + id * 3000000)").as("ts"))
    val events = hot.unionAll(cold)

    val cols = Seq("user_id", "first_view_us", "first_click_us",
      "first_purchase_us", "funnel_stage")
    val window = graft.analytics.Funnel.userFunnel(events)
      .select(cols.map(col): _*)
    val salted = graft.analytics.Funnel.userFunnelSalted(events, saltBuckets = 8)
      .select(cols.map(col): _*)

    // the salted plan must not contain a Window at all — the mitigation IS
    // replacing the per-user window with salted aggregation rounds
    val plan = salted.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"salted funnel still plans a Window:\n$plan")

    assert(window.count() == 51 && salted.count() == 51)
    assert(salted.exceptAll(window).count() == 0 &&
      window.exceptAll(salted).count() == 0,
      "salted funnel diverges from the window funnel")
  }

  test("adaptiveSaltBuckets sizes from the hottest key and stays answer-invariant") {
    // uniform key distribution: nothing is hot, the chooser must pick 1 —
    // the salted plan then degenerates to a plain two-phase aggregate
    val uniform = spark.range(1000).select(
      pmod(col("id"), lit(100)).as("k"), col("id").cast("double").as("v"))
    assert(Skew.adaptiveSaltBuckets(uniform, "k",
      targetPerBucket = 100L) == 1)
    // hot key: 10k rows on key 7 plus the uniform slice's 10 ->
    // ceil(10010/1000) = 11 buckets
    val hot = spark.range(10000).select(lit(7L).as("k"),
      col("id").cast("double").as("v"))
      .unionAll(uniform)
    assert(Skew.adaptiveSaltBuckets(hot, "k", targetPerBucket = 1000L) == 11)
    // clamped at maxBuckets
    assert(Skew.adaptiveSaltBuckets(hot, "k", targetPerBucket = 1L,
      maxBuckets = 64) == 64)
    // empty input degenerates to 1, not a crash
    assert(Skew.adaptiveSaltBuckets(uniform.filter(col("k") < 0), "k") == 1)

    // answer-invariance across the chosen counts: the salted sum/count at
    // the adaptive bucket count equals the plain aggregate
    val direct = hot.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val adaptive = Skew.saltedSumCount(hot, "k", "v",
        Skew.adaptiveSaltBuckets(hot, "k", targetPerBucket = 1000L))
      .collect().map(r => r.getAs[Long]("k") ->
        (r.getAs[Double]("sum_v"), r.getAs[Long]("cnt"))).toMap
    assert(adaptive.keySet == direct.keySet)
    adaptive.foreach { case (k, (s, c)) =>
      assert(c == direct(k)._2 && math.abs(s - direct(k)._1) < 1e-6,
        s"adaptive salted aggregate diverges on key $k")
    }
  }

  test("adaptive funnel equals the window funnel on skewed AND uniform fixtures") {
    def eventsOf(hotRows: Int): org.apache.spark.sql.DataFrame = {
      val hot = spark.range(hotRows).select(
        lit(1L).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("other")),
          (pmod(col("id"), lit(4)) + 1).cast("int")).as("event_type"),
        expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"))
      val cold = spark.range(500).select(
        (pmod(col("id"), lit(50)) + 2).as("user_id"),
        element_at(
          array(lit("view"), lit("click"), lit("purchase"), lit("other")),
          (pmod(col("id"), lit(4)) + 1).cast("int")).as("event_type"),
        expr("timestamp_micros(1700000000000000 + id * 3000000)").as("ts"))
      hot.unionAll(cold)
    }
    val cols = Seq("user_id", "first_view_us", "first_click_us",
      "first_purchase_us", "funnel_stage")
    // skewed: the bot user's 4000 events over targetPerBucket=500 pick 8
    // buckets; uniform-ish: 10 hot rows pick 1 (every user under target)
    for ((hotRows, target, expectBuckets) <- Seq((4000, 500L, 8), (10, 500L, 1))) {
      val events = eventsOf(hotRows)
      assert(Skew.adaptiveSaltBuckets(events, "user_id", target)
        == expectBuckets, s"bucket choice for hotRows=$hotRows")
      val window = graft.analytics.Funnel.userFunnel(events)
        .select(cols.map(col): _*)
      val adaptive = graft.analytics.Funnel.userFunnelAdaptive(events,
          targetPerBucket = target)
        .select(cols.map(col): _*)
      assert(adaptive.exceptAll(window).count() == 0 &&
        window.exceptAll(adaptive).count() == 0,
        s"adaptive funnel diverges from the window funnel at hotRows=$hotRows")
    }
  }

  test("shuffled-gate salted funnel (broadcastGates=false) equals the window funnel") {
    // same dominant-user fixture shape as above, smaller: the point here is
    // the GATE DISTRIBUTION path, not the skew volume
    val hot = spark.range(4000).select(
      lit(1L).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("other")),
        (pmod(col("id"), lit(4)) + 1).cast("int")).as("event_type"),
      expr("timestamp_micros(1700000000000000 + id * 1000000)").as("ts"))
    val cold = spark.range(500).select(
      (pmod(col("id"), lit(50)) + 2).as("user_id"),
      element_at(
        array(lit("view"), lit("click"), lit("purchase"), lit("other")),
        (pmod(col("id"), lit(4)) + 1).cast("int")).as("event_type"),
      expr("timestamp_micros(1700000000000000 + id * 3000000)").as("ts"))
    val events = hot.unionAll(cold)

    val cols = Seq("user_id", "first_view_us", "first_click_us",
      "first_purchase_us", "funnel_stage")
    val window = graft.analytics.Funnel.userFunnel(events)
      .select(cols.map(col): _*)

    // disable auto-broadcast so the unhinted gate joins genuinely plan as
    // shuffle joins — otherwise the optimizer's size estimate would quietly
    // broadcast the tiny test gates and this would re-test the default path
    val conf = spark.conf
    val prior = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val shuffled = graft.analytics.Funnel.userFunnelSalted(events,
          saltBuckets = 8, broadcastGates = false)
        .select(cols.map(col): _*)
      val plan = shuffled.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"shuffled-gate funnel still plans a Window:\n$plan")
      assert(!plan.contains("BroadcastExchange"),
        s"broadcastGates=false still plans a broadcast gate:\n$plan")
      assert(window.count() == 51 && shuffled.count() == 51)
      assert(shuffled.exceptAll(window).count() == 0 &&
        window.exceptAll(shuffled).count() == 0,
        "shuffled-gate funnel diverges from the window funnel")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }
}
