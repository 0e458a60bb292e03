package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.Events

/** Structured Streaming shape of the engine (SURVEY §2.8): the reference's
  * daily re-run batch is a degenerate micro-batch, so the streaming pipeline
  * is the same declarative plan on readStream:
  *   file source -> watermark -> dedup-within-watermark -> windowed agg.
  *
  * At scale the file source is a landing directory written by the
  * (rate-limited) fetcher; `Trigger.AvailableNow` reproduces the
  * reference's scheduler cadence, `ProcessingTime` runs it continuously.
  * State stays bounded by the watermark: dropDuplicatesWithinWatermark
  * evicts seen-keys older than the watermark, and window state is dropped
  * once the watermark passes the window end.
  */
object StreamPipeline {

  /** events-table schema as stored (streaming sources must declare their
    * schema). The corpus stores ts as TIMESTAMP(NANOS), which Spark reads
    * as INT64 (nanosAsLong); readEvents normalizes to a microsecond
    * timestamp. A production landing dir with µs timestamps would declare
    * TimestampType directly. */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The events schema as STORED in `dir` (file-streaming sources must
    * declare their schema up front; a one-time footer read of the landing
    * dir gets whatever physical ts representation the writer chose). Falls
    * back to [[eventsSchema]] — the historical BIGINT-nanos layout — when
    * the dir has no readable files yet (a production landing dir declares
    * its schema explicitly anyway). */
  def storedEventsSchema(spark: SparkSession, dir: String): StructType =
    scala.util.Try(spark.read.parquet(dir).schema).getOrElse(eventsSchema)

  /** Streaming read of a parquet events directory; ts normalization is the
    * shared [[graft.io.Sources.normalizeEventTs]] rule (nanos-long, micros
    * TIMESTAMP, or TIMESTAMP_NTZ — all relabel to session-zone TIMESTAMP). */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.io.Sources.normalizeEventTs(
      spark.readStream.schema(storedEventsSchema(spark, dir)).parquet(dir))

  /** Watermarked, deduplicated, tumbling-window aggregate — the streaming
    * twin of Queries.st1TumblingWindow (batch-checkable against DuckDB). */
  def hourlyStats(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        avg(col("value")).as("avg_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("avg_value"))

  /** Sliding 1-hour windows every 15 minutes — [[hourlyStats]]' smoothing
    * sibling (a spike straddling a tumbling boundary halves; the slide
    * sees it whole). Epoch-aligned, so every event lands in exactly 4
    * windows; identical operator batch and stream (state = one row per
    * OPEN (window, type), watermark-evicted), shared verbatim with the
    * registered st4 query. */
  def slidingRates(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        avg(col("value")).as("avg_value"))

  /** Per-user sessionization with Spark's NATIVE session_window — the
    * streaming form of the batch gaps-and-islands query (st2_sessionize):
    * events of one user closer than `gap` merge into one session.
    *
    * Unlike the batch lag/cumsum form, this is the shape a continuous
    * events pipeline actually runs: session state lives in the state
    * store, windows merge as late-but-in-watermark events arrive, and —
    * the part that keeps an unbounded deployment alive — state for a
    * session EVICTS once the watermark passes its close (in append mode,
    * which is also when the finalized session emits). Boundary nuance vs
    * the batch twin: gaps-and-islands keeps a gap of exactly `gap` in the
    * same session (`> 1800` starts a new one); session_window's
    * half-open [t, t+gap) merge splits it — equal only when no
    * consecutive pair lands exactly `gap` apart (true of the fixture's
    * microsecond timestamps, asserted by StreamingSpec).
    *
    * One row per session: (user_id, session_start, day, n_events,
    * duration_sec, total_value), the batch [[Events.sessions]] table's
    * aggregates ([[Events.sessionColumns]]). `day` is the session's start
    * date, the key of the ev17/ev19 per-day folds ([[StreamingBounce]]). */
  def userSessions(events: DataFrame, gap: String = "30 minutes",
                   watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(Events.sessionColumns.head, Events.sessionColumns.tail: _*)
      .select(col("user_id"), col("session_start"), col("day"),
        col("n_events"), col("duration_sec"), col("total_value"))

  /** Click->purchase attribution: a STREAM-STREAM interval join — for each
    * click, the same user's purchases within `horizonSec` after it. The
    * canonical funnel/attribution shape a continuous events pipeline runs.
    *
    * Both sides carry a watermark and the join condition bounds event time
    * on both sides, which is exactly what lets Spark EVICT join state: a
    * buffered click can only match purchases <= horizon later, so once the
    * purchase watermark passes c_ts + horizon the click's state drops
    * (and symmetrically for buffered purchases). Without the time bound the
    * state store grows without limit — the stream-stream-join scale trap.
    *
    * On a batch DataFrame `withWatermark` is a no-op and the same plan is a
    * user_id hash equi-join with a residual time-range filter — one shuffle
    * per side, no broadcast needed, skew bounded by events-per-user. The
    * microsecond-long delta keeps delay_ms exact (integer) across engines;
    * the batch twin is oracle-checked as st3_interval_join. */
  def clickPurchase(events: DataFrame, horizonSec: Long = 3600L,
                    watermark: String = "2 hours"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("p_ts"))
      .withWatermark("p_ts", watermark)
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr(s"INTERVAL $horizonSec SECONDS"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        expr("(unix_micros(p_ts) - unix_micros(c_ts)) div 1000").as("delay_ms"))
  }

  /** Streaming exact dedup at ingest: drop any document whose content
    * digest was already observed within the watermark horizon — the
    * streaming twin of [[graft.ext.Dedup.keepFirstPerDigest]] for a
    * continuously landing corpus (crawl re-fetches, at-least-once
    * delivery). State is ONE 16-byte digest per distinct document and is
    * EVICTED once the watermark passes, so it is bounded by
    * arrival-rate x horizon, not corpus size — the scale contract a
    * forever-keyed dropDuplicates would break. Duplicates separated by
    * more than the horizon are the batch compaction's job
    * (keepFirstPerDigest over the landed corpus); the stream kills the
    * near-in-time re-deliveries that dominate ingest duplication. */
  def dedupDocumentsStream(docs: DataFrame, tsCol: String = "ts",
                           watermark: String = "2 hours"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .withColumn("__digest", md5(col("text")))
      .dropDuplicatesWithinWatermark("__digest")
      .drop("__digest")

  /** Streaming windowed top-k: per (hour, event_type), the k highest-value
    * events via the native bounded [[graft.functions.TopKByScore]]
    * aggregate running INSIDE streaming state. The aggregate's
    * serialize/deserialize contract is exactly what the state store needs,
    * so the same bound that caps the batch shuffle caps streaming state: a
    * window's state never exceeds k (score, id) pairs per type regardless
    * of event volume within the window — the leaderboard query an
    * unbounded deployment can actually keep running. Deterministic ties
    * (value, then smaller event_id) as everywhere. */
  def windowedTopK(events: DataFrame, k: Int = 3,
                   watermark: String = "2 hours"): DataFrame = {
    graft.functions.GraftFunctions.topKBy(events
        .withWatermark("ts", watermark)
        .groupBy(window(col("ts"), "1 hour"), col("event_type")),
        col("value"), col("event_id"), k)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("rank"), col("id").as("event_id"), col("score").as("value"))
  }

  /** Stream-static enrichment: broadcast-join a static dimension into the
    * stream (left join — events with no dimension row pass through with
    * nulls, they are facts either way). Stateless: no streaming state is
    * kept, every micro-batch joins against the dimension snapshot, and the
    * broadcast keeps the stream side un-shuffled — the standard shape for
    * attaching a slowly-changing dimension at ingest. */
  def enrich(events: DataFrame, dim: DataFrame,
             eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), col(eventKey) === col(dimKey), "left")
}
