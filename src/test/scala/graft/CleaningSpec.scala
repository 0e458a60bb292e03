package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Cleaning

/** Quality-filter behavior on crafted invalid rows
  * (reference: tests/test_transform.py:65-93). */
class CleaningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def d(s: String) = java.sql.Date.valueOf(s)

  test("F1-F3 remove null / inconsistent / non-positive rows, keep clean ones") {
    val df = Seq(
      // clean row — must survive
      ("AAPL", d("2024-01-01"), Some(100.0), Some(110.0), Some(95.0), Some(105.0), Some(1000L)),
      // null close — F1
      ("AAPL", d("2024-01-02"), Some(100.0), Some(110.0), Some(95.0), None, Some(1000L)),
      // low > high — F2
      ("AAPL", d("2024-01-03"), Some(100.0), Some(100.0), Some(110.0), Some(105.0), Some(1000L)),
      // negative open — F3
      ("AAPL", d("2024-01-04"), Some(-10.0), Some(110.0), Some(95.0), Some(105.0), Some(1000L))
    ).toDF("symbol", "date", "open", "high", "low", "close", "volume")

    val out = Cleaning.filterPositivePrices(
      Cleaning.filterOhlcConsistent(Cleaning.dropNullCritical(df)))
    val dates = out.select("date").as[java.sql.Date].collect().map(_.toString)
    assert(dates.toSeq == Seq("2024-01-01"))
  }

  test("F1 predicate plans the very filter na.drop plans") {
    val df = Seq(("A", d("2024-01-01"), 1.0, 2.0, 0.5, 1.5, 10L))
      .toDF("symbol", "date", "open", "high", "low", "close", "volume")
    assert(Cleaning.dropNullCritical(df).queryExecution.optimizedPlan ==
      df.na.drop("any", Cleaning.criticalColumns).queryExecution.optimizedPlan)
  }

  test("F2 also removes high < open and high < close") {
    val df = Seq(
      ("A", d("2024-01-01"), 120.0, 110.0, 95.0, 105.0, 1L),  // high < open
      ("A", d("2024-01-02"), 100.0, 110.0, 95.0, 115.0, 1L),  // high < close
      ("A", d("2024-01-03"), 100.0, 110.0, 95.0, 105.0, 1L)   // fine
    ).toDF("symbol", "date", "open", "high", "low", "close", "volume")
    val dates = Cleaning.filterOhlcConsistent(df)
      .select("date").as[java.sql.Date].collect().map(_.toString)
    assert(dates.toSeq == Seq("2024-01-03"))
  }

  test("F4 dedup keeps the row with the greatest tiebreak per (symbol, date)") {
    val df = Seq(
      ("A", d("2024-01-01"), 1.0, 1L),
      ("A", d("2024-01-01"), 2.0, 3L),
      ("A", d("2024-01-01"), 3.0, 2L),
      ("B", d("2024-01-01"), 9.0, 1L)
    ).toDF("symbol", "date", "close", "rid")
    val out = Cleaning.dedupKeepLast(df, col("rid")).orderBy("symbol")
      .select("symbol", "close").as[(String, Double)].collect()
    assert(out.toSeq == Seq(("A", 2.0), ("B", 9.0)))
  }

  test("P1 renames only columns present") {
    val df = Seq((1.0, 2.0)).toDF("1. open", "other")
    val out = Cleaning.renamePresent(df, Map("1. open" -> "open", "2. high" -> "high"))
    assert(out.columns.toSeq == Seq("open", "other"))
  }

  test("U1 union preserves duplicates and aligns by name") {
    val a = Seq((1, "x")).toDF("k", "v")
    val b = Seq(("x", 1)).toDF("v", "k").select("k", "v")
    assert(Cleaning.unionAll(Seq(a, b, a)).count() == 3)
  }
}
