package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ConcurrentJobs

/** The §2.6 job-submission pool's label contract: the ANN index's
  * admissions and sim21's scorecard stacks attribute their concurrent jobs
  * by copying the caller's description onto the worker thread, and a
  * pooled thread must not leak one query's label into the next query's
  * jobs. */
class ConcurrentJobsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("submit returns the closure's value from a worker thread") {
    val n = Await.result(
      ConcurrentJobs.submit(spark.sparkContext)(spark.range(100).count()),
      Duration.Inf)
    assert(n == 100L)
  }

  test("submit copies the caller's job description onto the worker") {
    val sc = spark.sparkContext
    sc.setJobDescription("cj-spec-label")
    try {
      val seen = Await.result(ConcurrentJobs.submit(sc) {
        sc.getLocalProperty("spark.job.description")
      }, Duration.Inf)
      assert(seen == "cj-spec-label")
    } finally sc.setJobDescription(null)
  }

  test("a pooled thread does not leak the previous caller's label") {
    val sc = spark.sparkContext
    // dirty one worker thread with a labelled job...
    sc.setJobDescription("cj-stale-label")
    try Await.result(ConcurrentJobs.submit(sc)(()), Duration.Inf)
    finally sc.setJobDescription(null)
    // ...then occupy ALL pool threads at once from an unlabelled caller —
    // one of them is necessarily the dirty thread, so a missing clear
    // would surface as a stale label here
    val started = new CountDownLatch(3)
    val release = new CountDownLatch(1)
    val futs = (1 to 3).map { _ =>
      ConcurrentJobs.submit(sc) {
        val v = sc.getLocalProperty("spark.job.description")
        started.countDown()
        release.await(30, TimeUnit.SECONDS)
        v
      }
    }
    assert(started.await(30, TimeUnit.SECONDS),
      "pool did not start 3 concurrent tasks")
    release.countDown()
    assert(futs.map(Await.result(_, Duration.Inf)).forall(_ == null))
  }
}
