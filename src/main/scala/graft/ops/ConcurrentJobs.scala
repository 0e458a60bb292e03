package graft.ops

import java.util.concurrent.Executors

import scala.concurrent.{ExecutionContext, Future}

import org.apache.spark.SparkContext

/** Submission helper for the guide-§2.6 concurrent-jobs pattern: a SMALL
  * dedicated pool (2-3 jobs in flight is the guide's bound) for
  * independent jobs whose stages should interleave: the two capped
  * admissions of `IncrementalAnnIndex.ingestBatch` and the three candidate
  * stacks of `Similarity.pqConfigScorecard` (sim21). Threads of the global
  * EC never inherit Spark's InheritableThreadLocal job properties, so
  * their jobs lost their `setJobDescription` attribution, and a caller
  * also using the global EC could starve the submissions.
  *
  * [[submit]] copies the calling thread's job description/group onto the
  * worker thread for the duration of the job and clears them after, so
  * pooled-thread reuse can't leak one query's label into another's. */
object ConcurrentJobs {
  private val pool = ExecutionContext.fromExecutor(
    Executors.newFixedThreadPool(3, r => {
      val t = new Thread(r, "graft-concurrent-job")
      t.setDaemon(true)
      t
    }))

  def submit[A](sc: SparkContext)(f: => A): Future[A] = {
    val desc = sc.getLocalProperty("spark.job.description")
    val group = sc.getLocalProperty("spark.jobGroup.id")
    Future {
      if (desc != null) sc.setLocalProperty("spark.job.description", desc)
      if (group != null) sc.setLocalProperty("spark.jobGroup.id", group)
      try f finally {
        sc.setLocalProperty("spark.job.description", null)
        sc.setLocalProperty("spark.jobGroup.id", null)
      }
    }(pool)
  }
}
