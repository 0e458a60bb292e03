package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{Pipeline, SparkEntry}
import graft.analytics.{Alerts, Summary}
import graft.io.{Sinks, Sources}
import graft.model.Schemas
import graft.ops.{Cleaning, Derive}
import graft.quality.Expectations
import graft.streaming.StatefulFeatures
import graft.streaming.StatefulFeatures.{Bar, BarFeatures}

/** One workload in one JVM: `local[4]`, four shuffle partitions, one client
  * thread. Arguments are `key=value` pairs written by `perfbench/run.py`:
  *
  *   workload=batch|stream  work=<dir>  seconds=<s>
  *   trace=0|1  plus the workload's inputs (see each workload below).
  *
  * Sections of a run: `warm` (set-up: warm-up, the first pass of which is
  * the correctness pass),
  * then `timed` (closed loop: whole passes until `seconds` have passed, and
  * three at the least) or,
  * with trace=1, `untraced`, `traced` and `untraced` passes of the same ops.
  * Writes `result.json` and `spans.jsonl` into the work dir; the Python side
  * checks outputs and prints the metrics. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val h = new Harness(opt)
    val code =
      try { h.run(); 0 }
      catch { case e: Throwable =>
        e.printStackTrace()
        h.result("fatal") = String.valueOf(e)
        1
      }
    h.finish()
    System.exit(code)
  }
}

final class Harness(opt: Map[String, String]) {
  private val work = opt("work")
  private val seconds = opt("seconds").toDouble
  private val traced = opt("trace") == "1"
  private val Cores = 4
  private val MinPasses = 3
  private val TriggerMs = 100L
  private val ProbeRoomNs = 300000000L

  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$Cores]")
    .config("spark.sql.shuffle.partitions", Cores.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  // freeing each op's checkpoints logs one benign WARN per RDD (as in Bench)
  org.apache.logging.log4j.core.config.Configurator.setLevel(
    "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
  private val sc = spark.sparkContext
  private val trace = new Trace(spark)

  val result = mutable.LinkedHashMap.empty[String, Any]
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var section = "warm"
  private var lastOp = 0

  /** Run one op under its own job group; returns its id and its value.
    * Checkpoints and caches the op created are freed afterwards, outside
    * the timed region, after their size has been recorded when tracing. */
  private def timeOp[A](kind: String)(body: Int => A): (Int, Option[A]) = {
    lastOp += 1
    val id = lastOp
    val before = sc.getPersistentRDDs.keySet
    sc.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    trace.beginOp(id)
    val t0 = System.nanoTime()
    val (value, error) =
      try (Some(body(id)), None)
      catch { case e: Throwable => (None, Some(String.valueOf(e))) }
    val t1 = System.nanoTime()
    sc.clearJobGroup()
    trace.endOp(id, kind, t0, t1)
    val created = sc.getPersistentRDDs.filter { case (rid, _) => !before(rid) }
    if (trace.enabled) {
      trace.put(id, "ops.materialize_count", created.size.toDouble)
      trace.put(id, "ops.materialize_mb", sc.getRDDStorageInfo
        .filter(i => created.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum / 1e6)
    }
    created.values.foreach(_.unpersist(blocking = false))
    ops += Map("id" -> id, "kind" -> kind, "section" -> section, "sec" -> (t1 - t0) / 1e9,
      "error" -> error.orNull)
    error.foreach(e => System.err.println(s"[perfbench] op $id $kind failed: $e"))
    (id, value)
  }

  /** Seconds of each host-speed probe, taken while the engine is idle. */
  private val spins = mutable.ArrayBuffer.empty[Double]

  /** The host-speed probe: a fixed-work single-thread LCG spin, the loop of
    * `graft.Bench.calibrate` at a quarter of its iterations (about 0.05 s
    * on a quiet host). It is the benchmark's own copy, so that no change to
    * the engine can change the yardstick. On a shared host the whole VM
    * runs slower or faster for minutes at a time; the ops' latencies follow
    * the probe's time closely, and `run.py` scales them by it. */
  private def spin(): Unit = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) {
      x = x * 6364136223846793005L + 1442695040888963407L; i += 1
    }
    if (x == 42L) System.err.print("") // keep the loop observable
    spins += (System.nanoTime() - t0) / 1e9
  }

  /** Set-up ends here: seconds since the JVM started. Three probes follow
    * (the first also compiles the loop). */
  private def ready(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    result("setup_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    (1 to 3).foreach(_ => spin())
  }

  /** The closed loop: whole passes over `kinds` until `seconds` have passed
    * and at least [[MinPasses]] passes have run, so that every kind has a
    * median over several samples; or, when tracing, an untraced, a traced
    * and another untraced pass (the two untraced passes bracket the traced
    * one, so that warm-up still in progress does not read as tracing
    * overhead). A host-speed probe runs before each op, outside its timing. */
  private def closedLoop(kinds: Seq[String])(op: String => Unit): Unit = {
    val probed = (k: String) => { spin(); op(k) }
    if (traced) {
      section = "untraced"; kinds.foreach(probed)
      section = "traced"; trace.drain(); trace.enabled = true; kinds.foreach(probed)
      trace.enabled = false
      section = "untraced"; kinds.foreach(probed)
    } else {
      section = "timed"
      val t0 = System.nanoTime()
      var passes = 0
      while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
        kinds.foreach(probed)
        passes += 1
      }
    }
    spin()
  }

  def run(): Unit = {
    result("workload") = opt("workload")
    opt("workload") match {
      case "batch" => batch()
      case "stream" => stream()
      case w => sys.error(s"unknown workload $w")
    }
  }

  // ---- batch: the daily runEtl, then registered queries into noop --------

  private def batch(): Unit = {
    val payloadsPath = opt("payloads")
    def payloads: DataFrame = spark.read.parquet(payloadsPath)
    val dir = opt("corpus")
    val names = opt("queries").split(",").toSeq
    val fns = names.map(n => n -> SparkEntry.queries(n)).toMap

    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    // runEtl's checks and stage breakdown wait until tracing is off, so that
    // their Spark actions are not counted as an op's
    val pending = mutable.ArrayBuffer.empty[(Int, Pipeline.RunResult, Alerts.LogChannel, Boolean)]
    def check(): Unit = {
      pending.foreach { case (id, r, channel, tracedOp) =>
        val lake = s"$work/lake-$id"
        val s = r.summary.collect().head
        val (files, bytes) = lakeSize(lake)
        runs += Map("op" -> id, "loaded" -> r.recordsLoaded,
          "pass_rate" -> r.qualityPassRate, "alert" -> r.alert.map(_.title).orNull,
          "alerts_sent" -> channel.sent.size,
          "total_records" -> s.getAs[Long]("total_records"),
          "unique_symbols" -> s.getAs[Long]("unique_symbols"),
          "earliest_date" -> String.valueOf(s.getAs[java.sql.Date]("earliest_date")),
          "latest_date" -> String.valueOf(s.getAs[java.sql.Date]("latest_date")),
          "avg_close" -> s.getAs[Double]("avg_close"),
          "lake_files" -> files, "lake_bytes" -> bytes)
        deleteTree(Paths.get(lake))
        if (tracedOp) stages(id, payloads)
      }
      pending.clear()
    }
    def runEtl(): Unit = {
      val channel = new Alerts.LogChannel
      val (id, res) = timeOp("runEtl")(id =>
        Pipeline.runEtl(spark, payloads, "payload", s"$work/lake-$id", channel))
      res match {
        case Some(r) => pending += ((id, r, channel, trace.enabled))
        case None => deleteTree(Paths.get(s"$work/lake-$id"))
      }
      if (!trace.enabled) check()
    }

    // one pass is one day: the load, then the analysts' reads
    val kinds = "runEtl" +: names
    val pass: String => Unit = {
      case "runEtl" => runEtl()
      case n => timeOp(n) { id =>
        val df = trace.span(id, "Queries.build")(fns(n)(spark, dir))
        trace.span(id, "Queries.exec")(df.write.format("noop").mode("overwrite").save())
      }
    }
    // Two warm-up passes. The first is the correctness pass: runEtl is
    // checked like every later run, and each query's output goes to parquet
    // for the DuckDB digest compare, outside every timed section. The JIT
    // keeps speeding ops up after it: the next pass ran 20-50 % slower than
    // the one after, and with one warm-up pass it set every kind's 90th
    // percentile.
    runEtl()
    names.foreach { n =>
      timeOp(n)(_ => fns(n)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$work/out/$n"))
    }
    Files.writeString(Paths.get(s"$work/oracle_sql.json"),
      Trace.json(names.map(n => n -> SparkEntry.oracleSql(n)).toMap))
    kinds.foreach(pass)
    ready()
    closedLoop(kinds)(pass)
    check()
    result("etl") = runs.toSeq
  }

  /** runEtl's stages, called in runEtl's order through the modules' public
    * functions, each forced with a noop write. A stage's self time is its
    * forced time minus the forced time of the stage it builds on. Runs with
    * tracing off, so that the op's Spark counts stay runEtl's own. */
  private def stages(id: Int, payloads: DataFrame): Unit = {
    def timed(stage: String)(f: => Unit): Double = {
      val t0 = System.nanoTime()
      f
      val t1 = System.nanoTime()
      trace.record(id, s"stage.$stage", t0, t1)
      (t1 - t0) / 1e9
    }
    def force(stage: String, df: DataFrame): Double =
      timed(stage)(df.write.format("noop").mode("overwrite").save())
    val parsed = Sources.parseAlphaVantage(payloads, "payload", Seq("fetch_seq"))
      .withColumn("__chash", xxhash64(col("symbol"), col("date"), col("open"),
        col("high"), col("low"), col("close"), col("volume")))
    val tParse = force("parse", parsed)
    val cleaned = Cleaning.clean(parsed, struct(col("fetch_seq"), col("__chash")))
      .drop("fetch_seq", "__chash")
    val tClean = force("clean", cleaned)
    val features = Derive.addDerived(cleaned)
      .withColumn("extracted_at", current_timestamp())
      .withColumn("data_source", lit("Alpha Vantage"))
    val tDerive = force("derive", features)
    val tValidate = timed("validate")(Expectations.qualityReport(features)
      .agg(avg(col("passed").cast("int"))).head())
    val lake = s"$work/lake-$id-stages"
    val tLoad = timed("load")(Sinks.writePartitioned(
      Cleaning.reorderColumns(features, Schemas.featureColumns :+ "extracted_at"), lake))
    val tSummary = timed("summary")(Summary.databaseSummary(spark.read.parquet(lake)).collect())
    val (files, bytes) = lakeSize(lake)
    deleteTree(Paths.get(lake))
    Seq("io.parse_s" -> tParse, "ops.clean_s" -> (tClean - tParse),
      "ops.derive_s" -> (tDerive - tClean), "quality.validate_s" -> (tValidate - tDerive),
      "io.load_s" -> (tLoad - tDerive), "analytics.summary_s" -> tSummary,
      "io.lake_files" -> files.toDouble, "io.lake_mb" -> bytes / 1e6,
      "ops.rows_in" -> parsed.count().toDouble, "ops.rows_out" -> cleaned.count().toDouble)
      .foreach { case (k, v) => trace.put(id, k, v) }
  }

  private def lakeSize(dir: String): (Int, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toSeq
    (files.size, files.map(Files.size).sum)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.delete)

  // ---- stream: StatefulFeatures.derive over landed day files ------------

  private def stream(): Unit = {
    import spark.implicits._
    val staging = Paths.get(opt("staging"))
    val landing = Paths.get(s"$work/landing")
    Files.createDirectories(landing)
    val warm = opt("warm_files").toInt
    val intervalNs = (opt("interval_ms").toDouble * 1e6).toLong
    val files = Files.list(staging).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    // day-<yyyy-mm-dd>.parquet: each file holds one trading day
    def dateOf(f: Path): String = f.getFileName.toString.stripPrefix("day-").stripSuffix(".parquet")
    def land(f: Path): Unit = Files.move(f, landing.resolve(f.getFileName),
      StandardCopyOption.ATOMIC_MOVE)

    val schema = StructType(Seq(StructField("symbol", StringType),
      StructField("date", DateType), StructField("close", DoubleType)))
    val out = mutable.ArrayBuffer.empty[BarFeatures]
    val batchOfDate = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val sink: (Dataset[BarFeatures], Long) => Unit = { (df, batchId) =>
      val rows = df.collect()
      out.synchronized { out ++= rows }
      rows.map(_.date.toString).distinct.foreach(d => batchOfDate.putIfAbsent(d, batchId))
    }
    // the commit of the micro-batch holding f has been seen
    def committed(f: Path): Boolean = Option(batchOfDate.get(dateOf(f)))
      .exists(b => trace.committedNs.containsKey(b))
    val query = StatefulFeatures.derive(spark,
        spark.readStream.schema(schema).parquet(landing.toString).as[Bar])
      .writeStream
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch(sink)
      .start()

    // warm-up: one micro-batch per file, as in the timed section
    files.take(warm).foreach { f => land(f); query.processAllAvailable() }
    ready()

    // open loop: file i is due at t0 + i * interval whatever the engine does.
    // An idle ProcessingTime trigger ticks when the wall clock crosses a
    // multiple of TriggerMs. t0 lies half-way between two ticks, and the
    // interval is a whole number of ticks, so every file waits the same
    // TriggerMs / 2 for its batch; a free phase added a different 0-100 ms to
    // each run's latencies.
    require(intervalNs % (TriggerMs * 1000000L) == 0, "interval_ms must be a multiple of the trigger")
    val timed = files.drop(warm)
    val due = mutable.ArrayBuffer.empty[Long]
    var lateMs = 0.0
    lastOp += 1
    val streamOp = lastOp
    val (nowMs, nowNs) = (System.currentTimeMillis(), System.nanoTime())
    val firstMs = (nowMs / TriggerMs + 1) * TriggerMs + TriggerMs / 2 + intervalNs / 1000000L
    val t0 = nowNs + (firstMs - nowMs) * 1000000L
    timed.zipWithIndex.foreach { case (f, i) =>
      if (traced && i == timed.size / 2) {
        trace.drain()
        trace.enabled = true
        trace.beginOp(streamOp)
      }
      val at = t0 + i * intervalNs
      val wait = at - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      land(f)
      lateMs = math.max(lateMs, (System.nanoTime() - at) / 1e6)
      due += at
      // probe the host while the engine idles: after this file's commit,
      // when the next landing is at least ProbeRoomNs away
      val probeBy = at + intervalNs - ProbeRoomNs
      while (!committed(f) && System.nanoTime() < probeBy) Thread.sleep(5)
      if (committed(f) && System.nanoTime() < probeBy) spin()
    }
    query.processAllAvailable()
    val endNs = System.nanoTime()
    // progress events travel on their own listener queue: wait for the
    // last batches' commits to be seen
    val deadline = endNs + 10000000000L
    def seen = timed.forall(committed)
    while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
    if (traced) {
      trace.endOp(streamOp, "stream", t0 + timed.size / 2 * intervalNs, endNs)
      trace.put(streamOp, "loadgen.late_ms", lateMs)
      trace.enabled = false
    }
    query.stop()

    section = "timed"
    // file ops carry negative ids: they are not Spark ops and have no layers
    val latencies = timed.zip(due).zipWithIndex.map { case ((f, at), i) =>
      val batch = Option(batchOfDate.get(dateOf(f)))
      val done = batch.flatMap(b => Option(trace.committedNs.get(b)))
      val ms = done.map(d => (d - at) / 1e6)
      ops += Map("id" -> -(i + 1), "kind" -> "file", "section" -> section,
        "sec" -> ms.map(_ / 1e3).getOrElse(-1.0),
        "error" -> (if (ms.isEmpty) s"${f.getFileName} never committed" else null))
      ms
    }
    val timedBatches = timed.flatMap(f => Option(batchOfDate.get(dateOf(f)))).toSet

    val landed = spark.read.schema(schema).parquet(landing.toString).as[Bar]
    val key = (b: BarFeatures) => (b.symbol, b.date.toString)
    val expected = StatefulFeatures.derive(spark, landed).collect().sortBy(key)
    val got = out.synchronized(out.toSeq).sortBy(key)
    val mismatches =
      if (expected.length != got.length) math.abs(expected.length - got.length)
      else expected.zip(got).count { case (a, b) => a != b }
    result("stream") = Map(
      "files" -> timed.size, "committed" -> latencies.count(_.isDefined),
      "late_ms" -> lateMs, "expected_rows" -> expected.length,
      "streamed_rows" -> got.length, "mismatches" -> mismatches,
      "triggers" -> trace.triggers.asScala.toSeq.map { case (b, on, ms) =>
        Seq(b, timedBatches(b), on, ms) })
  }

  /** Write result.json and spans.jsonl, then stop Spark. */
  def finish(): Unit = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    val hwmKb = try status.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0) finally status.close()
    result("peak_rss_mb") = hwmKb / 1024
    val load = scala.io.Source.fromFile("/proc/loadavg")
    result("load1") = try load.mkString.split(" ")(0).toDouble finally load.close()
    result("ops") = ops.toSeq
    result("spins") = spins.toSeq
    result("layers") = trace.layers.map { case (k, v) => k.toString -> v.toMap }.toMap
    result("stage_tasks") = trace.stageTaskCounts
    Files.writeString(Paths.get(s"$work/spans.jsonl"),
      trace.spanLines.map(_ + "\n").mkString)
    Files.writeString(Paths.get(s"$work/result.json"), Trace.json(result.toMap))
    spark.stop()
  }
}
