package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Alerts, Summary}
import graft.io.{Sinks, Sources}
import graft.model.Schemas
import graft.ops.{Cleaning, Derive}
import graft.quality.Expectations

/** The reference's primary entry point re-expressed as one lazy Spark plan
  * per stage (reference: src/pipeline.py:119-398, traced in SURVEY §3.1):
  *
  *   EXTRACT (payload strings) -> TRANSFORM (parse + clean + derive)
  *   -> VALIDATE (expectation suite) -> LOAD (partitioned lake sink)
  *   -> SUMMARY (A1-A4 aggregates) -> ALERT (channel)
  *
  * Unlike the reference, stages don't materialize between steps: the
  * transform is a single Catalyst plan, and the lake write is the only
  * action over it. VALIDATE and the row counts of every stage ride that
  * write as observed metrics (`Dataset.observe`), so the transform runs
  * once. SUMMARY reads the lake back lazily. The scheduler analog is a
  * cron'd spark-submit of this, or the streaming twin
  * (streaming.StreamPipeline) with a processing-time trigger.
  */
object Pipeline {

  /** Rows out of each transform stage of one run: the rows into a stage
    * are the rows out of the one before. Derive keeps every row, so the
    * dedup's output is what the lake write received. */
  final case class StageRows(parsed: Long, f1NotNull: Long, f2Consistent: Long,
                             f3Positive: Long, written: Long)

  final case class RunResult(recordsLoaded: Long, qualityPassRate: Double,
                             summary: DataFrame, alert: Option[Alerts.Alert],
                             qualityReportPath: String, symbolsRequested: Int,
                             symbolsFetched: Int, stageRows: StageRows)

  /** payloads: one Alpha-Vantage-shaped JSON string per symbol envelope
    * (what Throttle.fetchAll + a transport produce). */
  def runEtl(spark: SparkSession, payloads: DataFrame, jsonCol: String,
             outPath: String, channel: Alerts.Channel = new Alerts.LogChannel,
             symbolsRequested: Int = -1): RunResult = {
    // EXTRACT counts: all envelopes, and the non-null ones (failed fetches
    // are null placeholders), so that partial fetches Warn.
    val envelopes = Observation()
    val observedPayloads = payloads.observe(envelopes,
      count(lit(1)).as("requested"), count(col(jsonCol)).as("fetched"))

    // TRANSFORM: parse (S1) -> quality filters + dedup (F1-F4) -> features.
    // Keep-last needs a deterministic tiebreak, NOT
    // monotonically_increasing_id: the write is the plan's only action, but
    // a retried task recomputes its input, and a nondeterministic row id can
    // pick a DIFFERENT dedup winner per attempt — the validated winner must
    // be the written winner. When the caller stamps payload envelopes with a
    // `fetch_seq` arrival order, the LATEST fetch wins (the reference's
    // pandas keep='last' positional semantics); without it, conflicting
    // same-(symbol,date) rows fall back to a content-hash winner —
    // deterministic, but unrelated to arrival order.
    val hasSeq = payloads.columns.contains("fetch_seq")
    val parsed = Sources.parseAlphaVantage(observedPayloads, jsonCol,
        passthrough = if (hasSeq) Seq("fetch_seq") else Nil)
      .withColumn("__chash", xxhash64(col("symbol"), col("date"), col("open"),
        col("high"), col("low"), col("close"), col("volume")))
    // rows out of F1, F2 and F3, counted with the filters' own predicates
    val filters = Observation()
    val f1 = Cleaning.hasCriticalValues
    val f2 = f1 && Cleaning.ohlcConsistent
    val f3 = f2 && Cleaning.positivePrices
    val observedParsed = parsed.observe(filters, count(lit(1)).as("parsed"),
      count_if(f1).as("f1"), count_if(f2).as("f2"), count_if(f3).as("f3"))
    val tiebreak =
      if (hasSeq) struct(col("fetch_seq"), col("__chash")) else col("__chash")
    val cleaned = Cleaning.clean(observedParsed, tiebreak)
      .drop((if (hasSeq) Seq("fetch_seq", "__chash") else Seq("__chash")): _*)
    val features = Derive.addDerived(cleaned)
      .withColumn("extracted_at", current_timestamp())
      .withColumn("data_source", lit("Alpha Vantage"))

    // VALIDATE (A11) rides the LOAD below as observed metrics.
    val quality = Expectations.observe(features, count(lit(1)).as("written"))
    val ordered = Cleaning.reorderColumns(quality.frame,
      Schemas.featureColumns :+ "extracted_at")

    // LOAD: partitioned lake append (S6/S7 analog: partition pruning
    // replaces the (symbol, date) composite index). An empty run writes too
    // (its observations need the action), but a zero-row partitioned write
    // leaves a dir with no parquet file, so the read-back is skipped and
    // the run reaches the Critical alert below instead of crashing; its
    // summary is over no rows (limit 0 plans no job over the transform).
    Sinks.writePartitioned(ordered, outPath)
    def observed(metrics: Map[String, Any], name: String): Long =
      metrics(name).asInstanceOf[Long]
    val written = observed(quality.metrics, "written")
    val lake = if (written > 0) spark.read.parquet(outPath) else ordered.limit(0)
    val loaded = if (written > 0) lake.count() else 0L

    // The reference's >= 90% gate over this run's checks. Every validation
    // run is persisted next to the lake (reference:
    // src/data_quality.py:242-273 writes logs/data_quality_*.txt); the "_"
    // prefix keeps the report dir invisible to spark.read.parquet(outPath).
    val report = quality.report(spark)
    val checks = report.collect()
    val verdicts = checks.map(_.getAs[Any]("passed")).collect { case b: Boolean => b }
    val passRate = verdicts.count(identity).toDouble / verdicts.length
    val reportPath = s"$outPath/_quality_report"
    Sinks.writeJson(spark.createDataFrame(java.util.Arrays.asList(checks: _*), report.schema)
      .withColumn("validated_at", current_timestamp()),
      reportPath, mode = "append") // one report per run accumulates, like
                                   // the reference's timestamped log files

    // SUMMARY (A1-A4) + ALERT.
    val summary = Summary.databaseSummary(lake)
    val requested = if (symbolsRequested >= 0) symbolsRequested
      else observed(envelopes.get, "requested").toInt
    val fetched = observed(envelopes.get, "fetched").toInt
    val alert = Alerts.evaluateRun(loaded, requested,
      symbolsFetched = fetched, qualityPassRate = passRate)
    alert.foreach(channel.send)

    val Seq(parsedRows, f1Rows, f2Rows, f3Rows) =
      Seq("parsed", "f1", "f2", "f3").map(observed(filters.get, _))
    RunResult(loaded, passRate, summary, alert, reportPath, requested, fetched,
      StageRows(parsedRows, f1Rows, f2Rows, f3Rows, written))
  }
}
