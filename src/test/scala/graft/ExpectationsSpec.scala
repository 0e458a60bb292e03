package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite

import graft.quality.Expectations

/** The observed form of the expectation suite (the one the ETL's lake write
  * carries) agrees with the standalone report query row for row. */
class ExpectationsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def d(s: String) = Some(java.sql.Date.valueOf(s))

  private lazy val bars = Seq(
    (Some("A"), d("2024-01-01"), 10.0, 12.0, 9.0, 11.0, 100L, Option.empty[Double]),
    (Some("A"), d("2024-01-01"), 10.0, 12.0, 9.0, 11.5, 100L, Some(4.5)), // duplicate key
    (Some("A"), d("2024-01-02"), 10.0, 9.0, 9.5, 11.0, 100L, Some(60.0)), // high < low
    (Some("B"), None, 10.0, 12.0, 9.0, 11.0, 100L, None),                 // null date
    (None, d("2024-01-01"), 10.0, 12.0, 9.0, 11.0, -5L, Some(1.0)),       // null symbol
    (Some("B"), d("2024-01-03"), -1.0, 12000.0, 9.0, 11.0, 100L, Some(-2.0))
  ).toDF("symbol", "date", "open", "high", "low", "close", "volume", "daily_change_percent")

  /** (standalone report, observed report) over `df`. */
  private def bothForms(df: DataFrame): (Seq[Row], Seq[Row]) = {
    val observed = Expectations.observe(df)
    observed.frame.write.format("noop").mode("overwrite").save()
    (Expectations.qualityReport(df).collect().toSeq, observed.report(spark).collect().toSeq)
  }

  private def ratio(report: Seq[Row], check: String): Any =
    report.find(_.getString(0) == check).get.get(1)

  test("observed ratios equal qualityReport's with duplicate keys and null symbols or dates") {
    val (standalone, observed) = bothForms(bars)
    assert(observed == standalone)
    // 3 distinct non-null (symbol, date) keys over 6 rows
    assert(ratio(observed, "compound_unique:symbol_date") == 0.5)
    assert(ratio(observed, "not_null:symbol") == 0.833333)
    assert(observed.count(_.getBoolean(3)) < observed.size, "the frame fails some checks")
  }

  test("observed ratios equal qualityReport's on an empty frame, where they are null") {
    val (standalone, observed) = bothForms(bars.filter($"volume" > 1000))
    assert(observed == standalone)
    val nulls = observed.filter(_.isNullAt(1)).map(_.getString(0))
    assert(nulls.size == 11 && nulls.contains("compound_unique:symbol_date"))
    assert(observed.filterNot(_.isNullAt(1)).forall(_.getString(0).startsWith("exists:")))
  }
}
