package graft

import org.apache.spark.sql.SparkSession

import graft.ops.Materialize

/** One shared local SparkSession for all suites (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkEntry.localSession("2")

  /** Runs `body` under `spark.graft.materialize=persist`, the mode
    * ARCHITECTURE names as the cluster default, and restores the prior
    * setting afterwards. */
  def underPersist[A](body: => A): A = {
    val prior = spark.conf.getOption(Materialize.ConfKey)
    spark.conf.set(Materialize.ConfKey, "persist")
    try body
    finally prior.fold(spark.conf.unset(Materialize.ConfKey))(
      spark.conf.set(Materialize.ConfKey, _))
  }
}
