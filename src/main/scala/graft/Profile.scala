package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer profile of any Spark work: how many jobs and `localCheckpoint`
  * executions it ran, and how its task time spread over each stage.
  *
  * `sbt "runMain graft.Profile <sfDir> <outDir> <suffix> <q1,q2,...>"`
  * runs each query into the `noop` sink under [[run]], writes its
  * `jobs= checkpoints= stages= tasks=` totals and then the formatted
  * physical plan of the frame it ran to `<outDir>/<query>_<suffix>.txt`,
  * and prints one line per stage plus the query's totals. A stage line
  * names its call site and its SQL operators, so a job that one run adds
  * or drops can be found by diffing two runs' lines. A stage's max/median
  * task time above ~4 on a stage of 4 or more tasks is the straggler
  * signature. Not part of the Verify or Bench contract. */
object Profile {

  /** Task durations of one stage, over its successful tasks (upper median),
    * its `name` (`StageInfo.name`, the call site that submitted it) and its
    * `operators` ([[operators]]). */
  final case class Stage(id: Int, name: String, operators: String, tasks: Int,
                         medianMs: Long, maxMs: Long) {
    def ratio: Double = maxMs.toDouble / math.max(1L, medianMs)
  }

  final case class Run(wallS: Double, jobs: Int, checkpoints: Int, stages: Seq[Stage])

  private val GroupKey = "spark.jobGroup.id"
  private val StartMarker = "graft_profile_start"
  private val DrainMarker = "graft_profile_drain"
  private val runIds = new AtomicLong

  /** The SQL operators a stage runs, in RDD order: the distinct scope names
    * of its RDDs (e.g. `Scan parquet > WholeStageCodegen (2) > Exchange`).
    * Under AQE every query stage is submitted from the same future, so the
    * call site alone cannot tell two stages apart. The scope type is
    * internal to Spark, so its name is read reflectively. */
  private def operators(i: StageInfo): String =
    i.rddInfos.sortBy(_.id).flatMap(_.scope.asInstanceOf[Option[AnyRef]])
      .map(s => s.getClass.getMethod("name").invoke(s).toString)
      .distinct.mkString(" > ")

  /** Runs `body` under a fresh job group and profiles it. Jobs and stages
    * are the group's; checkpoints are every `localCheckpoint` the session
    * executes meanwhile (those events carry no job group). Two marker
    * queries bound that window, since the listener bus delivers events in
    * order: checkpoints count only after the start marker is seen, so one
    * that finished before `run` but is delivered late is not counted, and
    * the drain marker has both listeners see every event of `body` before
    * they are read. */
  def run(spark: SparkSession)(body: => Unit): Run = {
    val sc = spark.sparkContext
    val group = s"graft-profile-${runIds.incrementAndGet()}"
    val startGroup = s"$group-start"
    val drainGroup = s"$group-drain"
    var jobs, checkpoints = 0
    val stageNames = mutable.Map.empty[Int, (String, String)]
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val jobsDrained, plansDrained = new CountDownLatch(1)
    var started = false
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        e.properties.getProperty(GroupKey) match {
          case `group` =>
            jobs += 1
            e.stageInfos.foreach(i => stageNames(i.stageId) = (i.name, operators(i)))
          case `drainGroup` => jobsDrained.countDown()
          case _ =>
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        if (stageNames.contains(t.stageId) && t.taskInfo != null && t.taskInfo.successful)
          durations.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
            t.taskInfo.duration
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint") synchronized(if (started) checkpoints += 1)
        else if (qe.analyzed.toString.contains(StartMarker)) synchronized { started = true }
        else if (qe.analyzed.toString.contains(DrainMarker)) plansDrained.countDown()
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def inGroup[A](id: String)(f: => A): A = {
      val prev = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, id)
      try f finally sc.setLocalProperty(GroupKey, prev)
    }

    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    try {
      inGroup(startGroup)(spark.range(1).toDF(StartMarker).collect())
      val t0 = System.nanoTime()
      inGroup(group)(body)
      val wallS = (System.nanoTime() - t0) / 1e9
      inGroup(drainGroup)(spark.range(1).toDF(DrainMarker).collect())
      val drained = jobsDrained.await(30, TimeUnit.SECONDS) &&
        plansDrained.await(30, TimeUnit.SECONDS)
      if (!drained) throw new IllegalStateException("profile listeners did not drain in 30 s")
      val stages = jobListener.synchronized(durations.toSeq).sortBy(_._1).map {
        case (id, ds) =>
          val s = ds.sorted
          val (name, ops) = jobListener.synchronized(stageNames(id))
          Stage(id, name, ops, s.size, s(s.size / 2), s.last)
      }
      Run(wallS, jobListener.synchronized(jobs), planListener.synchronized(checkpoints), stages)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 4) {
      System.err.println("usage: graft.Profile <sfDir> <outDir> <suffix> <q1,q2,...>")
      sys.exit(2)
    }
    val Array(sfDir, out, suffix, names) = args
    val queries = SparkEntry.select(names)
    val spark = SparkEntry.localSession()
    val outDir = Files.createDirectories(Paths.get(out))
    queries.foreach { case (name, fn) =>
      // built once, inside run: building runs the query's eager checkpoints
      var df: DataFrame = null
      spark.sparkContext.setJobDescription(name)
      val r = try run(spark) {
          df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
        } finally spark.sparkContext.setJobDescription(null)
      val counts = s"jobs=${r.jobs} checkpoints=${r.checkpoints} " +
        s"stages=${r.stages.size} tasks=${r.stages.map(_.tasks).sum}"
      val plan = df.queryExecution.explainString(FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), s"$counts\n$plan")
      println(s"[profile] wrote ${name}_$suffix.txt (${plan.length} chars)")
      r.stages.foreach { s =>
        println(f"[profile] stage=${s.id}%-5d tasks=${s.tasks}%-5d med=${s.medianMs}ms max=${s.maxMs}ms ratio=${s.ratio}%.1f site=${s.name} ops=${s.operators}")
      }
      println(f"[profile] $name%-28s wall=${r.wallS}%.2f s $counts")
      // a stage of fewer than 4 tasks cannot show skew
      val ratios = r.stages.filter(_.tasks >= 4).map(_.ratio)
      println(s"[profile] $name worst max/med ratio: " + (
        if (ratios.isEmpty) "n/a (no stage of 4+ tasks)"
        else f"${ratios.max}%.1f " +
          (if (ratios.max <= 4.0) "OK (no straggler > 4x median)" else "STRAGGLER")))
    }
    spark.stop()
  }
}
