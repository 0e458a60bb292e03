package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer profile of any Spark work: how many jobs and `localCheckpoint`
  * executions it ran, and how its task time spread over each stage.
  *
  * `sbt "runMain graft.Profile <sfDir> <outDir> <suffix> <q1,q2,...>"`
  * writes each query's formatted physical plan to
  * `<outDir>/<query>_<suffix>.txt`, then runs the query into the `noop`
  * sink under [[run]] and prints one line per stage plus the query's
  * totals. A stage's max/median task time above ~4 on a stage of 4 or
  * more tasks is the straggler signature. Not part of the driver
  * contract. */
object Profile {

  /** Task durations of one stage, over its successful tasks (upper median). */
  final case class Stage(id: Int, tasks: Int, medianMs: Long, maxMs: Long) {
    def ratio: Double = maxMs.toDouble / math.max(1L, medianMs)
  }

  final case class Run(wallS: Double, jobs: Int, checkpoints: Int, stages: Seq[Stage])

  private val GroupKey = "spark.jobGroup.id"
  private val DrainMarker = "graft_profile_drain"
  private val runIds = new AtomicLong

  /** Runs `body` under a fresh job group and profiles it. Jobs and stages
    * are the group's; checkpoints are every `localCheckpoint` the session
    * executes meanwhile (those events carry no job group). A marker query
    * drains both listeners before they are read: the listener bus delivers
    * events in order, so once the marker is seen every earlier event has
    * been. */
  def run(spark: SparkSession)(body: => Unit): Run = {
    val sc = spark.sparkContext
    val group = s"graft-profile-${runIds.incrementAndGet()}"
    val drainGroup = s"$group-drain"
    var jobs, checkpoints = 0
    val stageIds = mutable.Set.empty[Int]
    val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    val jobsDrained, plansDrained = new CountDownLatch(1)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        e.properties.getProperty(GroupKey) match {
          case `group` => jobs += 1; stageIds ++= e.stageIds
          case `drainGroup` => jobsDrained.countDown()
          case _ =>
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
        if (stageIds(t.stageId) && t.taskInfo != null && t.taskInfo.successful)
          durations.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) +=
            t.taskInfo.duration
      }
    }
    val planListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "localCheckpoint") synchronized(checkpoints += 1)
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
          Stage(id, s.size, s(s.size / 2), s.last)
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
      val plan = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"[profile] wrote ${name}_$suffix.txt (${plan.length} chars)")

      spark.sparkContext.setJobDescription(name)
      val r = try run(spark)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        finally spark.sparkContext.setJobDescription(null)
      r.stages.foreach { s =>
        println(f"[profile] stage=${s.id}%-5d tasks=${s.tasks}%-5d med=${s.medianMs}ms max=${s.maxMs}ms ratio=${s.ratio}%.1f")
      }
      println(f"[profile] $name%-28s wall=${r.wallS}%.2f s jobs=${r.jobs} " +
        s"checkpoints=${r.checkpoints} stages=${r.stages.size} tasks=${r.stages.map(_.tasks).sum}")
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
