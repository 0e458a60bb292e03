package graft

import scala.collection.mutable

import org.apache.spark.{Success, TaskKilled}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.catalyst.expressions.JsonToStructs
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Alerts
import graft.io.Throttle
import graft.quality.Expectations

/** End-to-end ETL orchestration (SURVEY §3.1) with stubbed transport —
  * extract -> transform -> validate -> load -> summary -> alert. */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  /** One envelope; bar `i` of `days` is (open, high, low, close, volume). */
  private def envelope(symbol: String, days: Int)(bar: Int => Seq[Any]): String = {
    val fields = Seq("1. open", "2. high", "3. low", "4. close", "5. volume")
    val series = (1 to days).map { i =>
      f"\"2024-01-$i%02d\": {" + fields.zip(bar(i)).map { case (k, v) =>
        s"\"$k\": \"$v\"" }.mkString(", ") + "}"
    }.mkString(",")
    s"""{"Meta Data": {"2. Symbol": "$symbol"}, "Time Series (Daily)": {$series}}"""
  }

  private def cleanBar(i: Int): Seq[Any] = {
    val p = 100.0 + i
    Seq[Any](p - 1, p + 2, p - 2, p, 1000000 + i)
  }

  private def payload(symbol: String, days: Int): String = envelope(symbol, days)(cleanBar)

  /** Day 3 has no open (F1), day 5 has high < low (F2), day 7 a negative
    * low (F3); days 10, 15 and 20 close 60 % up, out of the +-50 % band. */
  private def dirtyPayload(symbol: String): String = envelope(symbol, 25) { i =>
    val Seq(o, h, l, c, v) = cleanBar(i)
    i match {
      case 3 => Seq("None", h, l, c, v)
      case 5 => Seq(o, 90.0, l, c, v)
      case 7 => Seq(o, h, -1.0, c, v)
      case 10 | 15 | 20 => Seq(o, 1.6 * (100 + i) + 2, l, 1.6 * (100 + i), v)
      case _ => Seq(o, h, l, c, v)
    }
  }

  /** Two dirty symbols, plus a re-fetch of AAPL's first two days: 52 bars,
    * 50 past F1, 48 past F2, 46 past F3 and 44 after the dedup. */
  private def dirtyPayloads = Seq(dirtyPayload("AAPL"), dirtyPayload("MSFT"),
    payload("AAPL", 2)).toDF("json")

  private def tempLake(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("lake").toString

  test("runEtl: fetch-shaped payloads through to loaded lake + summary + no alert") {
    val channel = new Alerts.LogChannel
    val out = java.nio.file.Files.createTempDirectory("graft-etl").resolve("lake").toString
    val payloads = Seq("AAPL", "MSFT").map(s => payload(s, 25)).toDF("json")

    val result = Pipeline.runEtl(spark, payloads, "json", out, channel)
    assert(result.recordsLoaded == 50)
    assert(result.qualityPassRate >= 0.9) // clean synthetic data passes the gate
    assert(result.alert.isEmpty && channel.sent.isEmpty)

    val loaded = spark.read.parquet(out)
    assert(loaded.columns.contains("ma_20") && loaded.columns.contains("volume_category"))
    assert(result.summary.head.getAs[Long]("unique_symbols") == 2)

    // the validation run is persisted (reference writes logs/data_quality_*.txt)
    val report = spark.read.json(result.qualityReportPath)
    assert(report.count() >= 13, "persisted quality report holds the check rows")
    assert(report.columns.contains("passed") && report.columns.contains("validated_at"))
    // the "_"-prefixed report dir must stay invisible to the lake reader
    assert(loaded.count() == result.recordsLoaded)
  }

  test("runEtl: all fetches failed -> Critical alert, no crash on empty lake") {
    val channel = new Alerts.LogChannel
    val out = java.nio.file.Files.createTempDirectory("graft-etl-empty").resolve("lake").toString
    val payloads = Seq[String](null, null).toDF("json")
    val result = Pipeline.runEtl(spark, payloads, "json", out, channel)
    assert(result.recordsLoaded == 0)
    assert(result.alert.exists(_.severity == Alerts.Critical))
    assert(channel.sent.nonEmpty)
  }

  test("runEtl: partial fetch (null placeholder among payloads) -> Warning") {
    val channel = new Alerts.LogChannel
    val out = java.nio.file.Files.createTempDirectory("graft-etl-partial").resolve("lake").toString
    val payloads = Seq(payload("AAPL", 25), null).toDF("json")
    val result = Pipeline.runEtl(spark, payloads, "json", out, channel)
    assert(result.recordsLoaded == 25)
    assert(result.alert.exists(_.severity == Alerts.Warning),
      s"expected partial-fetch warning, got ${result.alert}")
  }

  test("runEtl keep-last honors fetch_seq arrival order on re-fetched symbols") {
    val out = java.nio.file.Files.createTempDirectory("graft-seq").toString
    // same symbol fetched twice in one batch: the later fetch carries a
    // corrected close for every day and must win, regardless of hash order
    def seqPayload(bump: Double): String = {
      val series = (1 to 5).map { i =>
        val p = 100.0 + i + bump
        f"""\"2024-01-$i%02d\": {\"1. open\": \"${p - 1}\", \"2. high\": \"${p + 2}\",
           |\"3. low\": \"${p - 2}\", \"4. close\": \"$p\", \"5. volume\": \"1000\"}""".stripMargin
      }.mkString(",")
      s"""{"Meta Data": {"2. Symbol": "DUP"}, "Time Series (Daily)": {$series}}"""
    }
    val payloads = Seq((1L, seqPayload(0.0)), (2L, seqPayload(0.5)))
      .toDF("fetch_seq", "json")
    Pipeline.runEtl(spark, payloads, "json", out)
    val closes = spark.read.parquet(out)
      .select("date", "close").collect()
      .map(r => r.get(0).toString -> r.getDouble(1)).toMap
    assert(closes.size == 5)
    // every surviving close is from the bump=0.5 (later) fetch
    assert(closes.values.forall(c => (c * 2) % 1 == 0 && c % 1 != 0),
      s"stale fetch won: $closes")
  }

  test("runEtl appends across runs (reference accumulates daily batches)") {
    val out = java.nio.file.Files.createTempDirectory("graft-etl-append").resolve("lake").toString
    val payloads = Seq(payload("AAPL", 25)).toDF("json")
    val r1 = Pipeline.runEtl(spark, payloads, "json", out)
    val r2 = Pipeline.runEtl(spark, payloads, "json", out)
    assert(r1.recordsLoaded == 25 && r2.recordsLoaded == 50)
    // quality reports accumulate one per run, like the reference's
    // timestamped log files: run 2's report dir holds BOTH runs' check rows
    val perRun = spark.read.json(r1.qualityReportPath).count() / 2
    assert(perRun >= 13, s"each run persists the full check suite, got $perRun")
  }

  test("runEtl: stage rows, envelope counts and pass rate come from one observed write") {
    val channel = new Alerts.LogChannel
    val r = Pipeline.runEtl(spark, dirtyPayloads, "json", tempLake("graft-etl-dirty"), channel)
    assert(r.stageRows == Pipeline.StageRows(52, 50, 48, 46, 44))
    assert(r.recordsLoaded == 44)
    assert(r.symbolsRequested == 3 && r.symbolsFetched == 3)
    // the daily-change band fails (36/42 < 0.95); the other 14 checks pass
    assert(r.qualityPassRate == 14.0 / 15)
    assert(r.alert.isEmpty && channel.sent.isEmpty)
  }

  test("runEtl: the persisted report equals qualityReport over the written rows") {
    val out = tempLake("graft-etl-report")
    val r = Pipeline.runEtl(spark, dirtyPayloads, "json", out)
    val cols = Seq("check_name", "observed_ratio", "threshold", "passed")
    val persisted = spark.read.json(r.qualityReportPath).select(cols.map(col): _*)
    val expected = Expectations.qualityReport(spark.read.parquet(out))
    assert(persisted.collect().toSeq.sortBy(_.getString(0)) == expected.collect().toSeq)
    assert(spark.read.json(r.qualityReportPath).columns.contains("validated_at"))
  }

  test("runEtl plans the transform (from_json) in exactly one execution") {
    val parses = mutable.ArrayBuffer.empty[String]
    @volatile var marker = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit = {
        if (qe.analyzed.exists(_.expressions.exists(_.exists(_.isInstanceOf[JsonToStructs]))))
          parses.synchronized(parses += funcName)
        if (qe.analyzed.toString.contains("graft_listener_marker")) marker = true
      }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val r = Pipeline.runEtl(spark, dirtyPayloads, "json", tempLake("graft-etl-once"))
      r.summary.collect() // the summary reads the lake, not the payloads
      // executions reach the listener in order: once the marker arrives,
      // every runEtl execution has been seen
      spark.range(1).toDF("graft_listener_marker").collect()
      val deadline = System.currentTimeMillis() + 30000
      while (!marker && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(marker)
      assert(parses.synchronized(parses.toList).size == 1, s"executions: $parses")
    } finally spark.listenerManager.unregister(listener)
  }

  test("runEtl: every bar fails F1-F3 -> nothing loaded, Critical alert, no exception") {
    val channel = new Alerts.LogChannel
    val allBad = envelope("BAD", 5)(i => Seq[Any](100.0 + i, 90.0, 95.0, 100.0, 1000))
    val r = Pipeline.runEtl(spark, Seq(allBad).toDF("json"), "json",
      tempLake("graft-etl-allbad"), channel)
    assert(r.recordsLoaded == 0)
    assert(r.stageRows == Pipeline.StageRows(5, 5, 0, 0, 0))
    assert(r.alert.exists(_.severity == Alerts.Critical) && channel.sent.nonEmpty)
    assert(r.summary.head.getAs[Long]("total_records") == 0)
  }

  test("runEtl: a killed first attempt of the lake write leaves the RunResult unchanged") {
    def observed(r: Pipeline.RunResult) = (r.recordsLoaded, r.qualityPassRate,
      r.symbolsRequested, r.symbolsFetched, r.stageRows, r.alert)
    val undisturbed = observed(Pipeline.runEtl(spark, dirtyPayloads, "json",
      tempLake("graft-etl-undisturbed")))

    // Kill the first attempt of every task of the lake write's stages: under
    // AQE, the shuffle map stage that carries the envelope and filter
    // observations, and the result stage that carries the quality one. A
    // killed attempt does not count as a task failure (local[2] allows
    // none), so the scheduler runs a second attempt of each.
    val sc = spark.sparkContext
    val writeExecutions = mutable.Set.empty[String]
    val writeStages = mutable.Set.empty[Int]
    val killed, retried = mutable.Set.empty[(Int, Int)]
    @volatile var drained = false
    val listener = new SparkListener {
      // events reach a listener in order: once the marker job starts, every
      // task event of the runEtl before it has been seen
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "marker") drained = true
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.description.startsWith("parquet at Sinks") =>
          writeExecutions.synchronized(writeExecutions += s.executionId.toString)
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (writeExecutions.synchronized(writeExecutions(
            e.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))))
          writeStages.synchronized(writeStages += e.stageInfo.stageId)
      override def onTaskStart(e: SparkListenerTaskStart): Unit =
        if (e.taskInfo.attemptNumber == 0 && writeStages.synchronized(writeStages(e.stageId)))
          sc.killTaskAttempt(e.taskInfo.taskId, interruptThread = false, "retry test")
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = killed.synchronized {
        val task = (e.stageId, e.taskInfo.index)
        e.reason match {
          case _: TaskKilled => killed += task
          case Success if e.taskInfo.attemptNumber > 0 => retried += task
          case _ =>
        }
      }
    }
    sc.addSparkListener(listener)
    val disturbed = try {
      val r = observed(Pipeline.runEtl(spark, dirtyPayloads, "json", tempLake("graft-etl-killed")))
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.currentTimeMillis() + 30000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(20)
      r
    } finally sc.removeSparkListener(listener)
    killed.synchronized {
      assert(killed.nonEmpty && killed.subsetOf(retried), s"killed $killed, retried $retried")
    }
    assert(disturbed == undisturbed)
  }

  test("throttled fetch preserves order, retries, and None-placeholders failures") {
    var calls = 0
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val out = Throttle.fetchAll(Seq("A", "B", "C"), ratePerMinute = 600,
      retries = 1, backoffMs = 10, sleep = sleeps += _) {
      case "B" => calls += 1; throw new RuntimeException("rate limited")
      case s   => calls += 1; s"payload-$s"
    }
    assert(out == Seq(Some("payload-A"), None, Some("payload-C")))
    assert(calls == 4) // A, B, B-retry, C
    assert(sleeps.nonEmpty) // backoff happened
  }

  test("token bucket spaces acquisitions at the configured rate") {
    var clock = 0L
    val waits = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bucket = new Throttle.TokenBucket(5, nanoTime = () => clock, sleep = waits += _)
    bucket.acquire() // t=0, free
    bucket.acquire() // must wait 12 s
    assert(waits.lastOption.contains(12000L))
  }

  test("alert decisions: zero records / quality miss / partial fetch") {
    assert(Alerts.evaluateRun(0, 5, 5, 1.0).exists(_.severity == Alerts.Critical))
    assert(Alerts.evaluateRun(100, 5, 5, 0.5).exists(_.severity == Alerts.Critical))
    assert(Alerts.evaluateRun(100, 5, 3, 1.0).exists(_.severity == Alerts.Warning))
    assert(Alerts.evaluateRun(100, 5, 5, 0.95).isEmpty)
  }
}
