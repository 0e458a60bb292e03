package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Sources
import graft.streaming.StreamPipeline

/** The streaming pipeline must agree with its batch twin: same windowed
  * aggregate over the same events, one AvailableNow micro-batch run. */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** A fresh landing directory holding the whole events file as one part. */
  private def landEvents(): String = {
    val landing = Files.createTempDirectory("graft-events")
    Files.copy(Paths.get(s"$dir/events.parquet"),
      landing.resolve("part-0.parquet"))
    landing.toString
  }

  /** Lands `src`, in its row order, as `parts` slices of
    * `rows / parts + 1` rows, one `slice-NN.parquet` file each, in a fresh
    * landing directory. FileStreamSource orders by mtime and the slice
    * writes land within milliseconds, so the slices get strictly
    * increasing mtimes: coarse-mtime filesystems could otherwise deliver
    * them out of order and flake the equivalence. */
  private def land(src: DataFrame, parts: Int): Path = {
    val landing = Files.createTempDirectory("graft-slices")
    val rows = src.collect()
    rows.grouped(rows.length / parts + 1).zipWithIndex.foreach { case (slice, i) =>
      val stage = landing.resolve(f"stage-$i%02d")
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toIndexedSeq, 1), src.schema)
        .write.parquet(stage.toString)
      val part = Files.list(stage).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = landing.resolve(f"slice-$i%02d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    landing
  }

  /** A file stream over [[land]]'s slices, one slice per micro-batch. */
  private def sliceStream(schema: StructType, landing: Path): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "slice-*.parquet")
      .parquet(landing.toString)

  /** Runs `ds` to completion (AvailableNow) into the memory table `name`. */
  private def drain(ds: Dataset[_], name: String,
                    mode: String): StreamingQuery = {
    val q = ds.writeStream.format("memory").queryName(name).outputMode(mode)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  test("availableNow streaming hourly stats match the batch aggregate") {
    // file-stream sources need a landing DIRECTORY; stage the events file
    val landing = landEvents()
    // complete mode deliberately: this bounded one-shot batch compares the
    // FULL window set against the batch aggregate, including trailing
    // windows the watermark has not finalized (append would hold those back)
    StreamPipeline.runAvailableNow(spark, landing, "hourly_stats_test",
      outputMode = "complete")
    val streamed = spark.table("hourly_stats_test")

    val batch = Sources.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

    assert(streamed.count() == batch.count())
    val joined = streamed.alias("s").join(batch.alias("b"),
      Seq("window_start", "event_type"))
      .filter(col("s.n_events") =!= col("b.n_events"))
    assert(joined.count() == 0, "streamed counts diverge from batch")
  }

  test("sliding-window rates stream equals batch under shuffled micro-batches") {
    // st4's twin: the SAME slidingRates operator runs stateful (3
    // micro-batches, complete mode so unfinalized trailing windows are
    // comparable) and must reproduce the batch st4 report exactly —
    // including every event appearing in all 4 of its slide windows.
    val src = spark.read.parquet(s"$dir/events.parquet")
    val fs = sliceStream(src.schema, land(src, 3))
    val q = drain(StreamPipeline.slidingRates(Sources.normalizeEventTs(fs)),
      "sliding_rates_test", "complete")
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")
    val streamed = spark.table("sliding_rates_test")
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("avg_value"))
    val batch = StreamPipeline.slidingRates(Sources.events(spark, dir))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n_events"), col("avg_value"))
    assert(batch.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed sliding rates diverge from the batch st4 aggregate")
  }

  test("native session_window sessions match the batch gaps-and-islands twin") {
    val landing = landEvents()
    // complete mode: bounded one-shot — compare ALL sessions, including the
    // trailing ones append mode would hold back behind the watermark
    drain(StreamPipeline.userSessions(
        StreamPipeline.readEvents(spark, landing)),
      "user_sessions_test", "complete")
    val streamed = spark.table("user_sessions_test")
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("duration_sec"), round(col("total_value"), 2).as("total_value"))

    // the session_window/gaps-and-islands boundary nuance (exactly-1800s
    // gaps) must not occur in the fixture, or the twins legitimately differ
    val boundaryGaps = Sources.events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")))
      .filter(col("ts").cast("long") - col("prev_ts").cast("long") === 1800)
    assert(boundaryGaps.count() == 0, "fixture has an exactly-1800s gap")

    val batch = Queries.all("st2_sessionize")(spark, dir)
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("duration_sec"), col("total_value"))
    assert(streamed.count() == batch.count(),
      "session counts diverge between stream and batch")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "session aggregates diverge between stream and batch")
  }

  test("dropDuplicatesWithinWatermark removes re-delivered events") {
    import spark.implicits._
    val events = Sources.events(spark, dir).limit(100).cache()
    val doubled = events.union(events) // simulate at-least-once redelivery
    val deduped = doubled
      .dropDuplicates("event_id")
    assert(deduped.count() == events.count())
  }

  test("stream-static enrichment broadcast-joins the dimension per micro-batch") {
    val landing = landEvents()
    val dim = Sources.customer(spark, dir).select("c_custkey", "c_mktsegment")
    drain(StreamPipeline.enrich(
        StreamPipeline.readEvents(spark, landing), dim,
        "user_id", "c_custkey"),
      "enriched_events_test", "append")
    val streamed = spark.table("enriched_events_test")

    val batchEvents = Sources.events(spark, dir)
    // left join: every event survives, matched ones carry their segment
    assert(streamed.count() == batchEvents.count())
    val batch = batchEvents.join(broadcast(dim),
      col("user_id") === col("c_custkey"), "left")
    assert(streamed.filter(col("c_mktsegment").isNull).count() ==
      batch.filter(col("c_mktsegment").isNull).count())
    val diverging = streamed.select("event_id", "c_mktsegment")
      .exceptAll(batch.select("event_id", "c_mktsegment"))
    assert(diverging.count() == 0, "streamed enrichment diverges from batch join")
  }

  test("stream-stream click->purchase interval join matches the batch twin") {
    val landing = landEvents()
    // append mode: an INNER stream-stream join emits each match as soon as
    // both sides arrive; the watermark + two-sided time bound only govern
    // state EVICTION, so a bounded AvailableNow run must surface every match
    drain(StreamPipeline.clickPurchase(
        StreamPipeline.readEvents(spark, landing)),
      "click_purchase_test", "append")
    val streamed = spark.table("click_purchase_test")

    val batch = Queries.all("st3_interval_join")(spark, dir)
    assert(batch.count() > 0, "fixture must contain click->purchase matches")
    assert(streamed.count() == batch.count(),
      "streamed match count diverges from the batch interval join")
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed attribution rows diverge from the batch twin")
  }

  test("native top_k_by aggregate runs inside streaming state, matches batch") {
    val landing = landEvents()
    // complete mode: bounded one-shot batch, compare ALL windows (append
    // would hold back windows the watermark has not finalized)
    drain(StreamPipeline.windowedTopK(
        StreamPipeline.readEvents(spark, landing)),
      "windowed_topk_test", "complete")
    val streamed = spark.table("windowed_topk_test")

    val batch = StreamPipeline.windowedTopK(Sources.events(spark, dir))
    assert(batch.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed per-window top-k diverges from the batch twin")
  }

  test("streaming ingest dedup drops re-delivered content, keeps first") {
    import spark.implicits._
    // two micro-batches: batch 2 re-delivers doc 1's CONTENT under a new
    // doc_id (the crawl-refetch shape) plus one genuinely new doc
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val batch1 = Seq(
      (1L, "alpha content", at(0)), (2L, "beta content", at(1)),
      (3L, "gamma content", at(2)))
    val batch2 = Seq(
      (4L, "alpha content", at(30)), // duplicate payload inside watermark
      (5L, "delta content", at(31)))
    // 5 rows in slices of 5 / 2 + 1 = 3: batch1, then batch2
    val landing = land((batch1 ++ batch2).toDF("doc_id", "text", "ts"), 2)
    val schema = new StructType()
      .add("doc_id", "long").add("text", "string").add("ts", "timestamp")
    drain(StreamPipeline.dedupDocumentsStream(sliceStream(schema, landing)),
      "dedup_docs_test", "append")
    val kept = spark.table("dedup_docs_test")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 5L),
      s"the re-delivered payload (doc 4) must drop, first stays: $kept")
  }

  test("interval join survives watermark advancement across micro-batches") {
    // Split the events into FOUR time-ordered files and force one file per
    // micro-batch: the watermark genuinely advances between batches, so
    // click/purchase state from early batches is progressively EVICTED —
    // and because no event is later than the 2h watermark delay, eviction
    // must never cost a match. This executes the state-eviction path the
    // single-batch case cannot reach.
    val src = spark.read.parquet(s"$dir/events.parquet")
      .orderBy("ts", "event_id")
    val landing = land(src, 4)
    val fileStream = Sources.normalizeEventTs(sliceStream(src.schema, landing))
    val q = drain(StreamPipeline.clickPurchase(fileStream),
      "click_purchase_wm_test", "append")
    assert(q.lastProgress.batchId >= 3,
      s"expected >= 4 micro-batches, saw ${q.lastProgress.batchId + 1}")

    val streamed = spark.table("click_purchase_wm_test")
    val batch = Queries.all("st3_interval_join")(spark, dir)
    assert(streamed.count() == batch.count() &&
      streamed.exceptAll(batch).count() == 0,
      "in-order multi-batch streaming must lose no match to eviction")
  }

  test("stateful streaming funnel matches the batch funnel across micro-batches") {
    // ev1's streaming twin: three time-ordered micro-batches through the
    // flatMapGroupsWithState funnel; the latest per-user snapshot must
    // equal the batch window-funnel over the whole fixture.
    val src = spark.read.parquet(s"$dir/events.parquet")
      .orderBy("ts", "event_id")
    val landing = land(src, 3)
    val fileStream = sliceStream(src.schema, landing)
    val q = drain(graft.streaming.StreamingFunnel.userFunnelStream(spark,
        graft.streaming.StreamingFunnel.toFunnelEvents(spark, fileStream)),
      "funnel_stream_test", "update")
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")

    // latest snapshot per user = the row with the highest n_events_seen
    val latest = spark.table("funnel_stream_test")
      .groupBy("user_id")
      .agg(max_by(
        struct(col("first_view_us"), col("first_click_us"),
          col("first_purchase_us"), col("funnel_stage")),
        col("n_events_seen")).as("s"))
      .select(col("user_id"), col("s.first_view_us"), col("s.first_click_us"),
        col("s.first_purchase_us"), col("s.funnel_stage"))
    val batch = graft.analytics.Funnel.userFunnel(Sources.events(spark, dir))
      .select("user_id", "first_view_us", "first_click_us",
        "first_purchase_us", "funnel_stage")
    assert(batch.count() > 0 && latest.count() == batch.count())
    assert(latest.exceptAll(batch).count() == 0 &&
      batch.exceptAll(latest).count() == 0,
      "incremental funnel snapshots diverge from the batch funnel")
  }

  test("streaming transition facts aggregate to the batch transition matrix") {
    // ev6's streaming twin: the appended (prev -> next) fact stream,
    // counted over all micro-batches, must equal the batch lag-pass —
    // including transitions whose two events arrive in DIFFERENT batches
    // (the per-user last-event state carries across).
    val src = spark.read.parquet(s"$dir/events.parquet")
      .orderBy("ts", "event_id")
    val landing = land(src, 3)
    val fileStream = sliceStream(src.schema, landing)
    val q = drain(graft.streaming.StreamingTransitions.transitionsStream(spark,
        graft.streaming.StreamingTransitions.toTransitionEvents(spark, fileStream)),
      "transitions_stream_test", "append")
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")

    val streamed = spark.table("transitions_stream_test")
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n_transitions"))
    val batch = graft.analytics.Transitions
      .eventTransitions(Sources.events(spark, dir))
      .select("prev_type", "event_type", "n_transitions")
    assert(batch.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed transition counts diverge from the batch matrix")

    // ev20's twin is a pure composition: the SAME stationaryDistribution
    // over the streamed kernel must equal the batch ev20 report
    val streamedPi = graft.analytics.Transitions.stationaryDistribution(
      streamed.withColumnRenamed("n_transitions", "n"))
    val batchPi = Queries.all("ev20_markov_stationary")(spark, dir)
    assert(streamedPi.exceptAll(batchPi).count() == 0 &&
      batchPi.exceptAll(streamedPi).count() == 0,
      "streamed stationary distribution diverges from the batch ev20")

    // ev23's twin composes the SAME attribution tail over three streamed
    // fact families: the transition facts above, a per-type running count
    // (plain incremental aggregate), and per-user first events (a min_by
    // running aggregate whose state is one row per user — order-
    // independent, so it needs no ingest contract at all).
    def aggStream(name: String)(agg: DataFrame => DataFrame) = {
      drain(agg(sliceStream(src.schema, landing)), name, "complete")
      spark.table(name)
    }
    val totals = aggStream("ev23_totals_test")(
      _.groupBy("event_type").agg(count(lit(1)).as("n_events")))
    val starts = aggStream("ev23_starts_test")(
      _.groupBy("user_id")
        .agg(min_by(col("event_type"), struct(col("ts"), col("event_id")))
          .as("first_type")))
      .groupBy(col("first_type").as("event_type"))
      .agg(count(lit(1)).as("n_first"))
    val streamedAttr = graft.analytics.Transitions
      .removalAttributionFromFacts(
        streamed.withColumnRenamed("n_transitions", "n"), totals, starts)
    val batchAttr = Queries.all("ev23_markov_attribution")(spark, dir)
    assert(batchAttr.count() > 0 &&
      streamedAttr.exceptAll(batchAttr).count() == 0 &&
      batchAttr.exceptAll(streamedAttr).count() == 0,
      "streamed attribution diverges from the batch ev23 report")
  }

  test("streaming attribution facts fold to the batch attribution report") {
    // ev16's streaming twin: the appended per-purchase attribution facts,
    // folded with the batch's decimal-sum discipline over 3 time-ordered
    // micro-batches, must equal linearAttribution over all events —
    // including purchases whose in-window touches arrived in EARLIER
    // batches (the per-user touch-window state carries across).
    val src = spark.read.parquet(s"$dir/events.parquet")
      .orderBy("ts", "event_id")
    val landing = land(src, 3)
    val fileStream = sliceStream(src.schema, landing)
    val q = drain(graft.streaming.StreamingAttribution.attributionStream(spark,
        graft.streaming.StreamingAttribution.toAttrEvents(spark, fileStream)),
      "attribution_stream_test", "append")
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")

    val streamed = graft.streaming.StreamingAttribution
      .fromFacts(spark.table("attribution_stream_test"))
    val batch = graft.analytics.Attribution
      .linearAttribution(Sources.events(spark, dir))
    assert(batch.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed attribution report diverges from the batch report")
  }

  test("streaming retention snapshots fold to the batch cohort triangle") {
    // ev5's streaming twin: per-user (cohort week, active-week set) state
    // across 3 micro-batches; the latest snapshots folded through
    // fromSnapshots must equal Retention.cohortRetention over all events —
    // including users whose activity spans different batches (the week-set
    // union carries across). Slices are SHUFFLED by user hash, not
    // time-ordered: cohort min + week-set union are order-insensitive, so
    // the twin's equality contract is stronger than the funnel's
    // event-time-ordered one, and the test exercises exactly that.
    val src = spark.read.parquet(s"$dir/events.parquet")
      .orderBy(expr("hash(user_id)"), col("event_id"))
    val landing = land(src, 3)
    val fileStream = sliceStream(src.schema, landing)
    val q = drain(graft.streaming.StreamingRetention.retentionStream(spark,
        graft.streaming.StreamingRetention.toRetentionEvents(spark, fileStream)),
      "retention_stream_test", "update")
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")

    val latest = spark.table("retention_stream_test")
      .groupBy("user_id")
      .agg(max_by(struct(col("cohort_days"), col("week_set")),
        col("n_events_seen")).as("s"))
      .select(col("s.cohort_days").as("cohort_days"),
        col("s.week_set").as("week_set"))
    val streamed = graft.streaming.StreamingRetention.fromSnapshots(latest)
    val batch = graft.analytics.Retention
      .cohortRetention(Sources.events(spark, dir))
      .select("cohort_week", "week_offset", "n_users", "cohort_size",
        "retention")
    assert(batch.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed retention triangle diverges from the batch operator")

    // ev21's twin is pure composition over the SAME snapshots: the
    // per-user week sets explode into (user, week) pairs and fold through
    // the same Lifecycle.growthAccounting the batch query runs
    val latestWithUser = spark.table("retention_stream_test")
      .groupBy("user_id")
      .agg(max_by(col("week_set"), col("n_events_seen")).as("week_set"))
    val userWeeks = latestWithUser
      .select(col("user_id"), explode(col("week_set")).as("wd"))
      .select(col("user_id"),
        date_add(to_date(lit("1970-01-01")), col("wd")).as("week"))
    val streamedGrowth = graft.analytics.Lifecycle.growthAccounting(userWeeks)
    val batchGrowth = Queries.all("ev21_growth_accounting")(spark, dir)
    assert(batchGrowth.count() > 0 &&
      streamedGrowth.count() == batchGrowth.count())
    assert(streamedGrowth.exceptAll(batchGrowth).count() == 0 &&
      batchGrowth.exceptAll(streamedGrowth).count() == 0,
      "streamed growth accounting diverges from the batch ev21")
  }

  test("streaming active-user snapshots fold to the batch DAU/WAU curve") {
    // ev9's streaming twin, same shuffled-micro-batch contract as the
    // retention twin: day-set union is order-insensitive, so the fold of
    // the latest per-user snapshots must equal ActiveUsers.rollingActive
    // over all events regardless of arrival order.
    val src = spark.read.parquet(s"$dir/events.parquet")
      .orderBy(expr("hash(user_id)"), col("event_id"))
    val landing = land(src, 3)
    val fileStream = sliceStream(src.schema, landing)
    val q = drain(graft.streaming.StreamingActiveUsers.activeStream(spark,
        graft.streaming.StreamingActiveUsers.toActiveEvents(spark, fileStream)),
      "active_stream_test", "update")
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")

    val latest = spark.table("active_stream_test")
      .groupBy("user_id")
      .agg(max_by(col("day_set"), col("n_events_seen")).as("day_set"))
    val streamed = graft.streaming.StreamingActiveUsers.fromSnapshots(latest)
    val batch = graft.analytics.ActiveUsers
      .rollingActive(Sources.events(spark, dir))
    assert(batch.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed DAU/WAU curve diverges from the batch operator")
  }

  test("streaming session_window bounce rate matches the batch ev17 report") {
    // ev17's streaming twin: session_window sessions fold through the SAME
    // per-day tail (StreamingBounce.fromSessions) the batch query runs, so
    // any divergence is the session step itself — which st2's boundary
    // assertion (no exactly-1800s gaps in the fixture) rules out.
    val landing = landEvents()
    // complete mode: bounded one-shot — include the trailing sessions
    // append mode would hold back behind the watermark
    drain(graft.streaming.StreamingBounce.sessionDaily(
        StreamPipeline.readEvents(spark, landing)),
      "bounce_sessions_test", "complete")
    val streamed = graft.streaming.StreamingBounce.fromSessions(
      spark.table("bounce_sessions_test"))
    val batch = Queries.all("ev17_bounce_rate")(spark, dir)
    assert(batch.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed bounce-rate report diverges from the batch query")

    // ev19's twin rides the SAME session table: fold durations instead
    val streamedDur = graft.streaming.StreamingBounce.fromSessionDurations(
      spark.table("bounce_sessions_test"))
    val batchDur = Queries.all("ev19_session_duration")(spark, dir)
    assert(batchDur.count() > 0 && streamedDur.count() == batchDur.count())
    assert(streamedDur.exceptAll(batchDur).count() == 0 &&
      batchDur.exceptAll(streamedDur).count() == 0,
      "streamed session-duration report diverges from the batch query")
  }

  test("streaming cohort-value snapshots fold to the batch ev18 triangle") {
    // ev18's streaming twin under the shuffled-micro-batch contract: the
    // cohort key is a running min and revenue accumulates in exact long
    // micro-units, both order-insensitive, so the fold of the latest
    // per-user snapshots must equal the batch triangle bit-for-bit
    // regardless of arrival order.
    val src = spark.read.parquet(s"$dir/events.parquet")
      .orderBy(expr("hash(user_id)"), col("event_id"))
    val landing = land(src, 3)
    val fileStream = sliceStream(src.schema, landing)
    val q = drain(graft.streaming.StreamingCohortValue.cohortStream(spark,
        graft.streaming.StreamingCohortValue.toCohortEvents(spark, fileStream)),
      "cohort_stream_test", "update")
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")

    val latest = spark.table("cohort_stream_test")
      .groupBy("user_id")
      .agg(max_by(col("min_day"), col("n_events_seen")).as("min_day"),
        max_by(col("cells"), col("n_events_seen")).as("cells"))
    val streamed = graft.streaming.StreamingCohortValue.fromSnapshots(latest)
    val batch = Queries.all("ev18_cohort_value")(spark, dir)
    assert(batch.count() > 0 && streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed cohort triangle diverges from the batch query")
  }

  test("streaming edge counts compose to the batch g1 pagerank") {
    // The graph family's twin (r11 verdict item #6): documents arrive in
    // THREE time-ordered micro-batches; the per-(src, dst) running count —
    // the only stateful piece — must accumulate across batches (an edge's
    // occurrences land in different batches), and the SAME
    // Graph.fromEdgeCounts power iteration over the snapshot must equal
    // the batch g1 report (the ev20 pure-composition pattern).
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id")
    val landing = land(src, 3)
    val fileStream = sliceStream(src.schema, landing)
    val q = drain(graft.streaming.StreamingGraph.edgeCountsStream(spark,
        graft.streaming.StreamingGraph.toEdgeEvents(fileStream)),
      "graph_stream_test", "complete")
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")

    val streamedCounts = spark.table("graph_stream_test")
    val batchCounts = graft.streaming.StreamingGraph
      .toEdgeEvents(Sources.documents(spark, dir))
      .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
    assert(batchCounts.count() > 0 &&
      streamedCounts.count() == batchCounts.count())
    assert(streamedCounts.exceptAll(batchCounts).count() == 0 &&
      batchCounts.exceptAll(streamedCounts).count() == 0,
      "streamed edge counts diverge from the batch aggregate")

    // g1's twin is a pure composition: the SAME power iteration over the
    // streamed edge snapshot must equal the batch g1 report
    val streamedRanks = graft.analytics.Graph
      .fromEdgeCounts(streamedCounts).orderBy("host")
    val batchRanks = Queries.all("g1_pagerank")(spark, dir)
    assert(streamedRanks.exceptAll(batchRanks).count() == 0 &&
      batchRanks.exceptAll(streamedRanks).count() == 0,
      "streamed pagerank diverges from the batch g1 report")
  }

  test("streamed edge snapshots compose to batch g3 components and g4 HITS") {
    // The g1 composition proof extended to the other two graph kernels:
    // documents arrive in 3 micro-batches; each projection's edge-count
    // aggregate is the only stateful piece, and the SAME
    // connectedComponents / hits kernels over the snapshots (projected to
    // distinct (src, dst)) must equal the registered batch reports.
    val src = spark.read.parquet(s"$dir/documents.parquet")
      .orderBy("doc_id")
    val landing = land(src, 3)
    def snapshot(project: DataFrame => DataFrame, name: String) = {
      val q = drain(graft.streaming.StreamingGraph.edgeCountsStream(spark,
          project(sliceStream(src.schema, landing))),
        name, "complete")
      assert(q.lastProgress.batchId >= 2,
        s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")
      spark.table(name).select("src", "dst")
    }
    val compEdges = snapshot(
      graft.streaming.StreamingGraph.toComponentEdgeEvents, "g3_stream_test")
    val streamedComps = graft.analytics.Graph.connectedComponents(compEdges)
    val batchComps = Queries.all("g3_components")(spark, dir)
    assert(batchComps.count() > 0 &&
      streamedComps.exceptAll(batchComps).count() == 0 &&
      batchComps.exceptAll(streamedComps).count() == 0,
      "streamed components diverge from the batch g3 report")

    val hitsEdges = snapshot(
      graft.streaming.StreamingGraph.toHitsEdgeEvents, "g4_stream_test")
    val streamedHits = graft.analytics.Graph.hits(hitsEdges)
    val batchHits = Queries.all("g4_hits")(spark, dir)
    assert(batchHits.count() > 0 &&
      streamedHits.exceptAll(batchHits).count() == 0 &&
      batchHits.exceptAll(streamedHits).count() == 0,
      "streamed HITS diverges from the batch g4 report")
  }

  test("incremental inter-arrival histogram folds to the batch ev22 report") {
    // ev22's twin (the IncrementalCuration ingest pattern): events arrive
    // in THREE event-time-ordered micro-batches (the twin's documented
    // ordered-ingest contract). Cross-batch boundary gaps must close
    // against the carried last-seen state — slicing by global ts order
    // guarantees many (user, type) keys straddle batch boundaries — and
    // the shared fold over the accumulated histogram must equal the
    // registered batch query exactly (not just approximately: the
    // frequency-weighted percentile IS the multiset percentile).
    val ev = Sources.events(spark, dir)
      .select("user_id", "event_type", "ts", "event_id")
      .orderBy("ts", "event_id").cache()
    val rows = ev.collect()
    val slices = rows.grouped(rows.length / 3 + 1).toSeq
    assert(slices.length == 3)
    var lastSeen = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("user_id", "long").add("event_type", "string")
        .add("last_ts", "timestamp"))
    var hist = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("event_type", "string").add("gap_sec", "long").add("n", "long"))
    slices.foreach { s =>
      val batch = spark.createDataFrame(
        spark.sparkContext.parallelize(s.toIndexedSeq, 2), ev.schema)
      val (gaps, nl) = graft.streaming.StreamingInterarrival
        .batchGaps(batch, lastSeen)
      lastSeen = nl
      hist = graft.streaming.StreamingInterarrival.mergeHist(hist, gaps)
    }
    val streamed = graft.streaming.StreamingInterarrival.fold(hist)
    val batchReport = Queries.all("ev22_interarrival")(spark, dir)
    assert(batchReport.count() > 0 &&
      streamed.exceptAll(batchReport).count() == 0 &&
      batchReport.exceptAll(streamed).count() == 0,
      "incremental inter-arrival diverges from the batch ev22 report")
    // the state really is the bounded histogram, and gaps really did
    // straddle batches: the boundary-closing path must have fired
    assert(hist.agg(sum("n")).first().getLong(0) ==
      batchReport.agg(sum("n_gaps")).first().getLong(0))
  }
}
