package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.analytics.Events
import graft.ops.{Materialize, Num}

/** Streaming twin of the ev22 inter-arrival cadence report.
  *
  * Division of labor (the IncrementalCuration ingest pattern): state is
  * (a) one row per (user_id, event_type) — the latest event time seen, so
  * a batch's first event per key closes the gap that straddles the batch
  * boundary — and (b) the (event_type, gap_sec) HISTOGRAM of every gap so
  * far, bounded by types × distinct integer gap widths, never by events.
  * The report is [[fold]], shared verbatim with the batch query: Spark's
  * frequency-weighted `percentile(e, p, freq)` over the histogram is
  * exactly the multiset percentile over the raw gaps, so histogram-then-
  * fold and raw-then-percentile are the same number by construction.
  *
  * Ordered-ingest contract (the IncrementalAnnIndex convention): batches
  * arrive in event-time order per key — a late event would need its two
  * bracketing gaps re-opened, which an add-only histogram cannot express.
  * At 100 TB the last-seen table is the minimal state ANY inter-arrival
  * tracker needs (one row per active (user, type)), partitioned on the
  * same key the gap window shuffles on. */
object StreamingInterarrival {

  /** Gaps contributed by `batch` against the prior last-seen table:
    * within-batch consecutive pairs (the ev22 lag window, event_id
    * same-instant tiebreak) plus the boundary gap from each key's stored
    * last_ts to its first in-batch event. Returns (gap rows, updated
    * last-seen); both are materialized so per-batch lineage stays flat. */
  def batchGaps(batch: DataFrame, lastSeen: DataFrame): (DataFrame, DataFrame) = {
    val withPrev = batch
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev_in_batch", lag("ts", 1).over(Events.byUserType))
      .join(lastSeen.withColumnRenamed("last_ts", "prev_carried"),
        Seq("user_id", "event_type"), "left")
      .withColumn("prev_ts",
        coalesce(col("prev_in_batch"), col("prev_carried")))
    val gaps = Materialize(withPrev.filter(col("prev_ts").isNotNull)
      .select(col("event_type"), Events.gapSec(col("prev_ts")).as("gap_sec")))
    // max-merge makes ONLY the last-seen frame idempotent under a no-op
    // batch replay; the histogram side (mergeHist) is add-only, so a
    // replayed batch would double-count its gaps AND recompute boundary
    // gaps against the already-advanced last_ts. The pipeline therefore
    // requires exactly-once batch delivery (Structured Streaming's
    // checkpointed epoch contract); at-least-once sources must dedup
    // replayed events by event_id before batchGaps.
    val newLast = Materialize(
      batch.groupBy("user_id", "event_type").agg(max("ts").as("last_ts"))
        .union(lastSeen)
        .groupBy("user_id", "event_type").agg(max("last_ts").as("last_ts")))
    (gaps, newLast)
  }

  /** Accumulate a batch's gaps into the (event_type, gap_sec, n)
    * histogram — a running count merge, the same shape a streaming
    * update-mode aggregation would keep. */
  def mergeHist(hist: DataFrame, gaps: DataFrame): DataFrame =
    Materialize(
      Events.gapHistogram(gaps)
        .union(hist)
        .groupBy("event_type", "gap_sec").agg(sum("n").as("n")))

  /** The shared ev22 fold — per-type cadence report off the histogram.
    * Frequency-weighted percentile == raw-multiset percentile; the mean
    * is the exact-integer sum ratio (both sums < 2^53 at any plausible
    * scale, so the double division is identical cross-engine). */
  def fold(hist: DataFrame): DataFrame =
    graft.Queries.rounded(
      hist.groupBy("event_type").agg(
        sum("n").as("n_gaps"),
        expr("percentile(gap_sec, 0.5D, n)").as("p50_sec"),
        expr("percentile(gap_sec, 0.9D, n)").as("p90_sec"),
        (sum(col("gap_sec") * col("n")).cast("double") / sum("n"))
          .as("avg_sec")),
      Seq("p50_sec", "p90_sec"))
      .withColumn("avg_sec", Num.cround(col("avg_sec"), 2))
      .orderBy("event_type")
}
