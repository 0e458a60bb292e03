package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counts, gathered only from outside the engine: spans
  * around the benchmark's own calls, plus Spark's public listener APIs.
  *
  * Jobs are attributed to an op by the job group the harness sets around it
  * (`op-<id>`); jobs in another group (the streaming query's run id) go to
  * the current op, and jobs in no group (the harness's own checks) to none.
  * Listener events arrive asynchronously, so [[endOp]] first waits until
  * every event posted during the op has been handled.
  *
  * While `enabled` is false the listeners return at once, so one process
  * can measure the same work with and without tracing. */
final class Trace(spark: SparkSession) {
  @volatile var enabled = false
  @volatile private var currentOp = 0

  private val originMs = System.currentTimeMillis()
  private val originNs = System.nanoTime()
  private def relNs(ns: Long): Double = (ns - originNs) / 1e6
  private def relEpoch(epochMs: Long): Double = (epochMs - originMs).toDouble

  private val spans = mutable.ArrayBuffer.empty[Trace.Span]
  private var lastSpanId = 0
  private val rootSpan = mutable.Map.empty[Int, Int]

  /** Per-op layer metrics. */
  val layers = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Double]]
  def add(op: Int, k: String, v: Double): Unit = synchronized {
    val m = layers.getOrElseUpdate(op, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }
  def put(op: Int, k: String, v: Double): Unit = synchronized {
    layers.getOrElseUpdate(op, mutable.Map.empty)(k) = v
  }

  private def newSpanId(): Int = synchronized { lastSpanId += 1; lastSpanId }
  private def addSpan(id: Int, name: String, start: Double, end: Double, op: Int,
                      parent: Int = -1): Unit = synchronized {
    spans += Trace.Span(id, name, start, end,
      if (parent >= 0) parent else rootSpan.getOrElse(op, 0), op)
  }

  /** Time `f` as a child span of the op's root span, and add its seconds
    * to the op's `<name>_s` metric. */
  def span[A](op: Int, name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally {
      if (enabled) {
        val t1 = System.nanoTime()
        addSpan(newSpanId(), name, relNs(t0), relNs(t1), op)
        add(op, s"${name}_s", (t1 - t0) / 1e9)
      }
    }
  }

  /** Record a span under the op's root span whatever the tracing flag. */
  def record(op: Int, name: String, startNs: Long, endNs: Long): Unit =
    addSpan(newSpanId(), name, relNs(startNs), relNs(endNs), op)

  def beginOp(op: Int): Unit = {
    currentOp = op
    if (enabled) synchronized { rootSpan(op) = newSpanId() }
  }

  /** Close the op: wait for its listener events, record its root span and
    * derive the metrics that need all of its tasks. */
  def endOp(op: Int, kind: String, startNs: Long, endNs: Long): Unit =
    if (enabled) {
      drain()
      val (start, end) = (relNs(startNs), relNs(endNs))
      addSpan(rootSpan(op), kind, start, end, op, parent = 0)
      synchronized {
        val busy = union(taskIntervals.getOrElse(op, Nil).toSeq, start, end)
        put(op, "spark.driver_gap_s", math.max(0.0, end - start - busy) / 1e3)
        put(op, "op.wall_s", (end - start) / 1e3)
        stageTasks.get(op).foreach(ts =>
          put(op, "spark.tasks_per_stage_p50", Trace.median(ts.toSeq)))
      }
    }

  // ---- Spark scheduler, tasks, shuffle and scan -------------------------

  private val stageOp = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageFirstTask = mutable.Map.empty[Int, Long]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Double]]
  private val taskIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
  private val jobStart = mutable.Map.empty[Int, (Int, Double)]
  private val BarrierGroup = "trace-barrier"
  private var barrierJob = -1
  private var barrierDone = false

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val g = group(e.properties)
      if (g.contains(BarrierGroup)) barrierJob = e.jobId
      else if (enabled && g.isDefined) {
        val op = g.collect { case s if s.startsWith("op-") => s.drop(3).toInt }
          .getOrElse(currentOp)
        e.stageIds.foreach(stageOp(_) = op)
        jobStart(e.jobId) = (op, relEpoch(e.time))
        add(op, "spark.jobs", 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      if (e.jobId == barrierJob) { barrierDone = true; Trace.this.notifyAll() }
      else jobStart.remove(e.jobId).foreach { case (op, start) =>
        addSpan(newSpanId(), s"spark.job.${e.jobId}", start, relEpoch(e.time), op)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        val id = e.stageInfo.stageId
        stageOp.get(id).foreach { op =>
          stageSubmit(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
          add(op, "spark.stages", 1)
        }
      }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = Trace.this.synchronized {
      if (stageOp.contains(e.stageId) && !stageFirstTask.contains(e.stageId))
        stageFirstTask(e.stageId) = e.taskInfo.launchTime
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      stageOp.get(e.stageId).foreach { op =>
        val info = e.taskInfo
        add(op, "spark.tasks", 1)
        add(op, "spark.task_s", info.duration / 1e3)
        taskIntervals.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
          ((relEpoch(info.launchTime), relEpoch(info.finishTime)))
        if (e.reason != Success) add(op, "spark.failed_tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(op, "spark.scan_mb", m.inputMetrics.bytesRead / 1e6)
          add(op, "spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          add(op, "spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
          add(op, "spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val id = e.stageInfo.stageId
        stageOp.get(id).foreach { op =>
          stageTasks.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += e.stageInfo.numTasks
          for (s <- stageSubmit.get(id); f <- stageFirstTask.get(id))
            add(op, "spark.sched_wait_s", math.max(0L, f - s) / 1e3)
        }
      }
  }

  /** Wait until every listener event posted so far has been handled: run a
    * one-task job in a group of its own and wait for its end event, which
    * the shared listener queue delivers after every earlier event. Call it
    * before flipping `enabled`, so that no event is judged by the new flag. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    synchronized { barrierDone = false }
    sc.setJobGroup(BarrierGroup, BarrierGroup, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    synchronized {
      while (!barrierDone && System.currentTimeMillis() < deadline) wait(50)
      barrierJob = -1
    }
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def union(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total, curS, curE = 0.0
    var open = false
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, lo)
      val e = math.min(e0, hi)
      if (e > s) {
        if (open && s <= curE) curE = math.max(curE, e)
        else { if (open) total += curE - curS; curS = s; curE = e; open = true }
      }
    }
    if (open) total + curE - curS else total
  }

  /** Task counts of every stage seen while tracing. */
  def stageTaskCounts: Seq[Double] = synchronized { stageTasks.values.flatten.toSeq }

  // ---- Catalyst ---------------------------------------------------------

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) {
        val op = currentOp
        add(op, "catalyst.actions", 1)
        val phases = qe.tracker.phases
        add(op, "catalyst.plan_ms", Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(_.durationMs).sum.toDouble)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      if (enabled) add(currentOp, "catalyst.actions", 1)
  }

  // ---- Structured Streaming progress ------------------------------------

  /** batchId -> nanoTime at which its progress (posted after the commit)
    * arrived. */
  val committedNs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  /** (batchId, tracing on?, trigger execution ms) per micro-batch with input. */
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Boolean, Double)]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      val p = e.progress
      if (p.numInputRows > 0) {
        committedNs.putIfAbsent(p.batchId, now)
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
        val trig = d.getOrElse("triggerExecution", 0.0)
        val on = enabled
        triggers.add((p.batchId, on, trig))
        if (on) {
          val op = currentOp
          val start = relEpoch(java.time.Instant.parse(p.timestamp).toEpochMilli)
          addSpan(newSpanId(), s"streaming.batch.${p.batchId}", start, start + trig, op)
          add(op, "streaming.trigger_ms", trig)
          add(op, "streaming.add_batch_ms", d.getOrElse("addBatch", 0.0))
          add(op, "streaming.list_ms", d.getOrElse("latestOffset", 0.0) + d.getOrElse("getBatch", 0.0))
          add(op, "streaming.commit_ms", d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0))
          add(op, "streaming.plan_ms", d.getOrElse("queryPlanning", 0.0))
          p.stateOperators.headOption.foreach { s =>
            put(op, "streaming.state_rows", s.numRowsTotal.toDouble)
            put(op, "streaming.state_mb", s.memoryUsedBytes / 1e6)
          }
        }
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Spans as JSON lines: id, name, start/end in ms since the run began,
    * parent span id (0 = none) and op id. */
  def spanLines: Seq[String] = synchronized {
    spans.toSeq.sortBy(_.start).map { s =>
      Trace.json(Map("id" -> s.id, "name" -> s.name, "start_ms" -> s.start,
        "end_ms" -> s.end, "parent" -> s.parent, "op" -> s.op))
    }
  }
}

object Trace {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def json(v: Any): String = mapper.writeValueAsString(v)

  final case class Span(id: Int, name: String, start: Double, end: Double,
                        parent: Int, op: Int)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
