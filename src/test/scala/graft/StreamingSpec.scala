package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.{ActiveUsers, Attribution, Funnel, Graph, Lifecycle,
  Retention, Transitions}
import graft.io.Sources
import graft.streaming._

/** Every stream twin is one row of [[twins]]: its source in slice order,
  * the number of slices, its stream form and output mode, and the
  * (fold, batch query) pairs its output must satisfy. Each row is two
  * tests (one where `noRestart` says why), so each twin fails on its own:
  *   - `<name>`: stream == batch. All slices land, and one AvailableNow
  *     run reads one slice per micro-batch; every fold of the output must
  *     equal its batch query.
  *   - `<name>: restart`: the first half of the slices land and drain
  *     with a checkpoint, then the rest land and drain again from the same
  *     checkpoint. The second query must resume after the checkpoint's
  *     last batch, and every fold must still equal its batch query, so the
  *     restarted run equals the uninterrupted one (Structured Streaming's
  *     exactly-once claim: offset log plus state store).
  *
  * The sink writes each micro-batch to its own `batch=<id>` parquet
  * directory through foreachBatch, so a replayed batch overwrites itself
  * (the memory sink recovers from a checkpoint in Complete mode only). A
  * fold reads every batch in Append mode, the latest snapshot per user in
  * Update mode (every Update-mode twin keys its snapshots by user_id), and
  * the highest batch in Complete mode. Complete mode is chosen where the
  * fold compares ALL windows or sessions, including the trailing ones the
  * watermark has not finalized (Append would hold those back). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  private val dir = "/root/testdata/sf0.001"

  /** One row (see above). Each slice lands as `copies` files read in one
    * micro-batch; `noRestart`, when set, says why the twin has no restart
    * case. */
  private case class Twin(name: String, source: () => DataFrame, parts: Int,
      stream: DataFrame => Dataset[_], mode: String,
      folds: Seq[(DataFrame => DataFrame, () => DataFrame)],
      copies: Int = 1, noRestart: String = "")

  private def events = Sources.events(spark, dir)
  private def query(name: String) = Queries.all(name)(spark, dir)
  private def raw(table: String) = spark.read.parquet(s"$dir/$table.parquet")
  private val byTime = () => raw("events").orderBy("ts", "event_id")
  private val byUserHash =
    () => raw("events").orderBy(expr("hash(user_id)"), col("event_id"))
  private val byDocId = () => raw("documents").orderBy("doc_id")
  private val ts: DataFrame => DataFrame = Sources.normalizeEventTs
  private def dim = Sources.customer(spark, dir).select("c_custkey", "c_mktsegment")

  /** The st1/st4 report shape: the window start as text, avg at 2 dp. */
  private def windowReport(start: String)(df: DataFrame) =
    Queries.rounded(df.select(
      date_format(col(start), "yyyy-MM-dd HH:mm:ss").as("window_start"),
      col("event_type"), col("n_events"), col("avg_value")), Seq("avg_value"), 2)
  private def funnelRows(df: DataFrame) = df.select("user_id", "first_view_us",
    "first_click_us", "first_purchase_us", "funnel_stage")
  /** (prev_type, event_type, n) over transition facts, start facts too. */
  private def factCounts(facts: DataFrame) =
    facts.groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
  private def pairCounts(facts: DataFrame) =
    factCounts(facts).filter(col("prev_type").isNotNull)

  /** ev23 from the fact stream alone: pairs, start facts (prev_type NULL)
    * and per-type totals, since every event is one fact's event_type. */
  private def removalFromFacts(facts: DataFrame) =
    Transitions.removalAttributionFromFacts(pairCounts(facts),
      facts.groupBy("event_type").agg(count(lit(1)).as("n_events")),
      factCounts(facts).filter(col("prev_type").isNull)
        .select(col("event_type"), col("n").as("n_first")))

  private def activeStream(s: DataFrame) = StreamingActiveUsers.activeStream(
    spark, StreamingActiveUsers.toActiveEvents(spark, s))

  /** ev22's loop over the delivered slices, in slice order. */
  private def interarrivalLoop(rows: DataFrame): DataFrame = {
    val slices = rows.select("slice").distinct().as[String].collect().sorted
    val empty = (
      Seq.empty[(Long, String, java.sql.Timestamp)]
        .toDF("user_id", "event_type", "last_ts"),
      Seq.empty[(String, Long, Long)].toDF("event_type", "gap_sec", "n"))
    val (_, hist) = slices.foldLeft(empty) { case ((lastSeen, hist), s) =>
      val (gaps, next) = StreamingInterarrival.batchGaps(
        rows.filter(col("slice") === s).drop("slice"), lastSeen)
      (next, StreamingInterarrival.mergeHist(hist, gaps))
    }
    StreamingInterarrival.fold(hist)
  }

  private val twins = Seq(
    // st1: the hourly aggregate over time-ordered slices, each landed once
    Twin("availableNow streaming hourly stats match the batch aggregate",
      byTime, 3, s => StreamPipeline.hourlyStats(ts(s)), "complete",
      Seq((windowReport("window_start"),
        () => query("st1_tumbling_window").drop("sum_value")))),
    // st1 under re-delivery: each slice lands twice inside one micro-batch,
    // so the copies sit within the watermark, and the hourly aggregate must
    // equal the batch one over the events landed once
    Twin("dropDuplicatesWithinWatermark removes re-delivered events",
      byTime, 2, s => StreamPipeline.hourlyStats(ts(s)), "complete",
      Seq((windowReport("window_start"),
        () => query("st1_tumbling_window").drop("sum_value"))),
      copies = 2),
    // st4: one operator both ways; every event lands in all 4 slide
    // windows. Complete mode keeps late rows, so the counts are exact under
    // any order, but a shuffled arrival sums each avg in another order:
    // the fold compares at the registered report's 2 dp
    Twin("sliding-window rates stream equals batch under shuffled micro-batches",
      byUserHash, 3, s => StreamPipeline.slidingRates(ts(s)), "complete",
      Seq((windowReport("window.start"), () => query("st4_sliding_window")))),
    Twin("native session_window sessions match the batch gaps-and-islands twin",
      byTime, 3, s => StreamPipeline.userSessions(ts(s)), "complete",
      Seq((_.drop("day").withColumn("total_value", round(col("total_value"), 2)),
        () => query("st2_sessionize").select("user_id", "session_start",
          "n_events", "duration_sec", "total_value")))),
    // left join: every event survives, matched ones carry their segment
    Twin("stream-static enrichment broadcast-joins the dimension per micro-batch",
      byTime, 3, s => StreamPipeline.enrich(ts(s), dim, "user_id", "c_custkey"),
      "append",
      Seq((_.select("event_id", "c_mktsegment"), () => events
        .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
        .select("event_id", "c_mktsegment")))),
    // st3 in one micro-batch: every match pairs within the batch, so no
    // join state carries across batches
    Twin("stream-stream click->purchase interval join matches the batch twin",
      byTime, 1, s => StreamPipeline.clickPurchase(ts(s)), "append",
      Seq((identity, () => query("st3_interval_join"))),
      noRestart = "one slice leaves no first half to restart from; " +
        "the 4-slice row restarts the same stream"),
    // st3: join state is evicted as the watermark advances over 4 batches;
    // no event is later than the 2 h delay, so eviction costs no match
    Twin("interval join survives watermark advancement across micro-batches",
      byTime, 4, s => StreamPipeline.clickPurchase(ts(s)), "append",
      Seq((identity, () => query("st3_interval_join")))),
    Twin("native top_k_by aggregate runs inside streaming state, matches batch",
      byTime, 3, s => StreamPipeline.windowedTopK(ts(s)), "complete",
      Seq((identity, () => StreamPipeline.windowedTopK(events)))),
    // the second slice re-delivers doc 1's text as doc 4 within the
    // watermark: the re-delivery drops, the first delivery stays
    Twin("streaming ingest dedup drops re-delivered content, keeps first",
      () => Seq((1L, "alpha content", 0), (2L, "beta content", 1),
          (3L, "gamma content", 2), (4L, "alpha content", 30),
          (5L, "delta content", 31))
        .map { case (id, text, min) => (id, text, new java.sql.Timestamp(
          java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime +
            min * 60000L)) }
        .toDF("doc_id", "text", "ts"),
      2, StreamPipeline.dedupDocumentsStream(_), "append",
      Seq((_.select("doc_id"), () => Seq(1L, 2L, 3L, 5L).toDF("doc_id")))),
    Twin("stateful streaming funnel matches the batch funnel across micro-batches",
      byTime, 3, s => StreamingFunnel.userFunnelStream(spark,
        StreamingFunnel.toFunnelEvents(spark, s)), "update",
      Seq((funnelRows, () => funnelRows(Funnel.userFunnel(events))))),
    // one fact stream, three reports: ev6 and ev20 read its pairs, ev23
    // its pairs, start facts and per-type totals
    Twin("streaming transition facts aggregate to the batch transition matrix",
      byTime, 3, s => StreamingTransitions.transitionsStream(spark,
        StreamingTransitions.toTransitionEvents(spark, s)), "append",
      Seq((pairCounts(_).withColumnRenamed("n", "n_transitions"),
          () => query("ev6_transitions")
            .select("prev_type", "event_type", "n_transitions")),
        (f => Transitions.stationaryDistribution(pairCounts(f)),
          () => query("ev20_markov_stationary")),
        (removalFromFacts, () => query("ev23_markov_attribution")))),
    Twin("streaming attribution facts fold to the batch attribution report",
      byTime, 3, s => StreamingAttribution.attributionStream(spark,
        StreamingAttribution.toAttrEvents(spark, s)), "append",
      Seq((Attribution.byChannel, () => query("ev16_attribution")))),
    // one day-set state, two rows: DAU/WAU, and the cohort triangle with
    // growth accounting. The folds are order-insensitive, so the slices
    // are shuffled by user hash rather than time-ordered
    Twin("streaming active-user snapshots fold to the batch DAU/WAU curve",
      byUserHash, 3, activeStream, "update",
      Seq((l => ActiveUsers.rollingActive(StreamingActiveUsers.activity(l)),
          () => query("ev9_active_users")))),
    Twin("streaming retention snapshots fold to the batch cohort triangle",
      byUserHash, 3, activeStream, "update",
      Seq((l => Retention.cohortRetention(StreamingActiveUsers.activity(l)),
          () => query("ev5_retention")),
        (l => Lifecycle.growthAccounting(StreamingActiveUsers.activity(l)),
          () => query("ev21_growth_accounting")))),
    // one session table, two reports
    Twin("streaming session_window bounce rate matches the batch ev17 report",
      byTime, 3, s => StreamPipeline.userSessions(ts(s)), "complete",
      Seq((StreamingBounce.fromSessions, () => query("ev17_bounce_rate")),
        (StreamingBounce.fromSessionDurations,
          () => query("ev19_session_duration")))),
    Twin("streaming cohort-value snapshots fold to the batch ev18 triangle",
      byUserHash, 3, s => StreamingCohortValue.cohortStream(spark,
        StreamingCohortValue.toCohortEvents(spark, s)), "update",
      Seq((StreamingCohortValue.fromSnapshots,
        () => query("ev18_cohort_value")))),
    // the graph twins: the per-edge running count is the only state, and
    // the batch kernel runs unchanged over its snapshot
    Twin("streaming edge counts compose to the batch g1 pagerank",
      byDocId, 3, s => StreamingGraph.edgeCountsStream(spark,
        StreamingGraph.toEdgeEvents(s)), "complete",
      Seq((identity, () => StreamingGraph.toEdgeEvents(
          Sources.documents(spark, dir))
          .groupBy("src", "dst").agg(count(lit(1)).as("cnt"))),
        (Graph.fromEdgeCounts(_), () => query("g1_pagerank")))),
    Twin("streamed edge snapshots compose to batch g3 components",
      byDocId, 3, s => StreamingGraph.edgeCountsStream(spark,
        StreamingGraph.toComponentEdgeEvents(s)), "complete",
      Seq((e => Graph.connectedComponents(e.select("src", "dst")),
        () => query("g3_components")))),
    Twin("streamed edge snapshots compose to batch g4 HITS",
      byDocId, 3, s => StreamingGraph.edgeCountsStream(spark,
        StreamingGraph.toHitsEdgeEvents(s)), "complete",
      Seq((e => Graph.hits(e.select("src", "dst")), () => query("g4_hits")))),
    // ev22 is a plain loop over batch frames, not a Spark query: the
    // stream only delivers the slices, tagged by file, and the fold runs
    // the loop; gaps that straddle slices close against its last-seen state
    Twin("incremental inter-arrival histogram folds to the batch ev22 report",
      byTime, 3, s => ts(s).select("user_id", "event_type", "ts", "event_id")
        .withColumn("slice", input_file_name()), "append",
      Seq((interarrivalLoop, () => query("ev22_interarrival"))),
      noRestart = "its state is two frames the loop holds, " +
        "not the query's checkpoint"))

  twins.foreach { t =>
    test(t.name)(check(t, t.parts))
    if (t.noRestart.isEmpty) test(s"${t.name}: restart")(check(t, t.parts / 2))
  }

  test("the fixture has no exactly-1800 s gap, where the session twins differ") {
    // gaps-and-islands keeps a gap of exactly 30 min in one session;
    // session_window's half-open [t, t + 30 min) splits it. The st2 and
    // ev17/ev19 twins are equal only on a fixture without such a gap.
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gaps = events.withColumn("prev_ts", lag("ts", 1).over(byUser))
      .filter(col("ts").cast("long") - col("prev_ts").cast("long") === 1800)
    assert(gaps.isEmpty, "fixture has an exactly-1800s gap")
  }

  /** Lands `t`'s first `k` slices and drains, then lands the rest and
    * drains again from the same checkpoint (k = parts: one uninterrupted
    * run), and checks every fold against its batch query. */
  private def check(t: Twin, k: Int): Unit =
    SparkTestSession.withTempDir("graft-twin") { root =>
      val src = t.source()
      val slices = stage(src, t.parts, t.copies,
        Files.createDirectory(root.resolve("staged")))
      val landing = Files.createDirectory(root.resolve("landing"))
      val out = root.resolve("out").toString
      val runs = Seq(slices.take(k), slices.drop(k)).filter(_.nonEmpty).map { step =>
        step.flatten.foreach(f => Files.move(f, landing.resolve(f.getFileName)))
        drain(t, sliceStream(src.schema, landing, t.copies),
          root.resolve("checkpoint"), out)
      }
      if (runs.size == 2)
        assert(runs(1).recentProgress.head.batchId == runs(0).lastProgress.batchId + 1,
          "the restarted query did not resume after its checkpoint's last batch")
      val q = runs.last
      assert(q.lastProgress.batchId + 1 >= t.parts,
        s"expected >= ${t.parts} micro-batches, saw ${q.lastProgress.batchId + 1}")
      val all = spark.read.parquet(out)
      val rows = t.mode match {
        case "append" => all
        case "update" => all
          .withColumn("__last", max("batch").over(Window.partitionBy("user_id")))
          .filter(col("batch") === col("__last")).drop("__last")
        case "complete" =>
          all.filter(col("batch") === all.agg(max("batch")).head().getInt(0))
      }
      t.folds.zipWithIndex.foreach { case ((fold, batch), i) =>
        withClue(s"fold ${i + 1} of ${t.folds.size}: ") {
          sameRows(fold(rows.drop("batch")), batch())
        }
      }
    }

  /** The batch query returns rows, and the streamed fold the same ones. */
  private def sameRows(streamed: DataFrame, batch: DataFrame): Unit = {
    assert(batch.count() > 0, "the batch query is empty, so nothing is compared")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "the streamed fold diverges from the batch query")
  }

  /** Writes `src`, in its row order, as `parts` slices of
    * `rows / parts + 1` rows, each slice as `copies` files
    * `slice-NN-C.parquet` in `staged`. FileStreamSource orders by mtime and
    * the writes land within milliseconds, so slice NN gets mtime
    * base + NN minutes (+ C ms for copy C): coarse-mtime filesystems could
    * otherwise deliver the slices out of order and flake the equivalence. */
  private def stage(src: DataFrame, parts: Int, copies: Int,
                    staged: Path): Seq[Seq[Path]] = {
    val rows = src.collect()
    rows.grouped(rows.length / parts + 1).zipWithIndex.map { case (slice, i) =>
      val written = staged.resolve(f"write-$i%02d")
      spark.createDataFrame(
          spark.sparkContext.parallelize(slice.toIndexedSeq, 1), src.schema)
        .write.parquet(written.toString)
      val part = Files.list(written).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      (0 until copies).map { c =>
        val dest = Files.copy(part, staged.resolve(f"slice-$i%02d-$c.parquet"))
        Files.setLastModifiedTime(dest,
          FileTime.fromMillis(1000000000000L + i * 60000L + c))
      }
    }.toSeq
  }

  /** A file stream over the landed slices, one slice per micro-batch. */
  private def sliceStream(schema: StructType, landing: Path,
                          copies: Int): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", copies)
      .option("pathGlobFilter", "slice-*.parquet")
      .parquet(landing.toString)

  /** Runs `t`'s stream over `slices` to completion (AvailableNow) from
    * `checkpoint`, writing micro-batch `id` to `out/batch=id`. */
  private def drain(t: Twin, slices: DataFrame, checkpoint: Path,
                    out: String): StreamingQuery = {
    val sink: (DataFrame, Long) => Unit =
      (df, id) => df.write.mode("overwrite").parquet(s"$out/batch=$id")
    val q = t.stream(slices).toDF().writeStream.outputMode(t.mode)
      .option("checkpointLocation", checkpoint.toString)
      .trigger(Trigger.AvailableNow()).foreachBatch(sink).start()
    q.awaitTermination()
    q
  }
}
