package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.scalatest.funsuite.AnyFunSuite

/** `Profile.run` counts exactly its own body's work. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("back-to-back profiles: nothing leaks from the first into the second") {
    // a slow listener holds back every later event on the shared bus, so
    // only the drain, not the bus's speed, keeps the counts exact
    val slow = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(1000)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      Profile.run(spark) {
        spark.range(100).repartition(2).localCheckpoint().count()
      }
      val r = Profile.run(spark)(spark.range(1).collect())
      assert(r.jobs == 1, s"expected 1 job, saw ${r.jobs}")
      assert(r.checkpoints == 0, s"expected no checkpoint, saw ${r.checkpoints}")
    } finally spark.sparkContext.removeSparkListener(slow)
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
