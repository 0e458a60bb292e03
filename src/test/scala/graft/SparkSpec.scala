package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = SparkEntry.localSession("2")
}
