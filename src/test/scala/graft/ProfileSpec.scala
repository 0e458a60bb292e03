package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

/** `Profile.run` counts exactly its own body's work. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Runs `f` with a slow listener on the shared bus: it holds back every
    * later event, so only the markers, not the bus's speed, keep the
    * counts exact. */
  private def withSlowBus(f: => Unit): Unit = {
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(1000)
    }
    spark.sparkContext.addSparkListener(slow)
    try f finally spark.sparkContext.removeSparkListener(slow)
  }

  test("back-to-back profiles: nothing leaks from the first into the second") {
    withSlowBus {
      Profile.run(spark) {
        spark.range(100).repartition(2).localCheckpoint().count()
      }
      val r = Profile.run(spark)(spark.range(1).collect())
      assert(r.jobs == 1, s"expected 1 job, saw ${r.jobs}")
      assert(r.checkpoints == 0, s"expected no checkpoint, saw ${r.checkpoints}")
    }
  }

  test("a checkpoint run before the profile is not counted, however late it is delivered") {
    withSlowBus {
      spark.range(100).repartition(2).localCheckpoint()
      val r = Profile.run(spark)(spark.range(1).collect())
      assert(r.checkpoints == 0, s"expected no checkpoint, saw ${r.checkpoints}")
    }
  }

  test("a query with an exchange reports every stage's task spread") {
    val q = Queries.all("a10_value_counts")
    assert(q(spark, "/root/testdata/sf0.001").queryExecution.executedPlan
      .toString.contains("Exchange"))
    val r = Profile.run(spark) {
      q(spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    }
    assert(r.stages.size >= 2, s"expected a map and a reduce stage: ${r.stages}")
    r.stages.foreach { s =>
      assert(s.tasks >= 1 && s.medianMs <= s.maxMs, s"bad stage $s")
    }
  }
}
