package graft

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Derive

/** Mirrors the reference's transform-semantics tests
  * (reference: tests/test_transform.py) at the same tolerances. */
class DeriveSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 25-day arithmetic ramp like the reference fixture (price = 150 + i). */
  private lazy val fixture = {
    val rows = (0 until 25).map { i =>
      val p = 150.0 + i
      ("AAPL", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i)),
        p - 1.0, p + 2.0, p - 2.0, p, 1000000L + i * 10000L)
    }
    rows.toDF("symbol", "date", "open", "high", "low", "close", "volume")
  }

  private lazy val derived = Derive.addDerived(fixture).orderBy("date").collect()

  test("all required feature columns exist") {
    val cols = Derive.addDerived(fixture).columns.toSet
    val required = Set("daily_change", "daily_change_percent", "price_range",
      "price_range_percent", "year", "month", "quarter", "day_of_week",
      "week_of_year", "is_positive_day", "is_negative_day", "volume_category",
      "volatility_indicator", "volatility_category", "ma_5", "ma_20",
      "price_vs_ma5", "price_vs_ma20")
    assert(required.subsetOf(cols))
  }

  test("daily_change is day-over-day close diff; first row null") {
    assert(derived.head.isNullAt(derived.head.fieldIndex("daily_change")))
    derived.sliding(2).foreach { case Array(prev, cur) =>
      val expected = cur.getAs[Double]("close") - prev.getAs[Double]("close")
      assert(math.abs(cur.getAs[Double]("daily_change") - expected) < 0.01)
    }
  }

  test("daily_change_percent matches pct_change * 100 within 0.1") {
    derived.sliding(2).foreach { case Array(prev, cur) =>
      val expected = (cur.getAs[Double]("close") / prev.getAs[Double]("close") - 1) * 100
      assert(math.abs(cur.getAs[Double]("daily_change_percent") - expected) < 0.1)
    }
  }

  test("ma_5 is the trailing 5-row mean with min_periods=1 semantics") {
    val closes = derived.map(_.getAs[Double]("close"))
    derived.zipWithIndex.foreach { case (row, i) =>
      val slice = closes.slice(math.max(0, i - 4), i + 1)
      assert(math.abs(row.getAs[Double]("ma_5") - slice.sum / slice.length) < 0.01)
    }
  }

  test("price_range == high - low per row") {
    derived.foreach { r =>
      assert(math.abs(r.getAs[Double]("price_range") -
        (r.getAs[Double]("high") - r.getAs[Double]("low"))) < 1e-9)
    }
  }

  test("calendar components are in range; day_of_week is 0=Monday") {
    derived.foreach { r =>
      assert((1 to 12).contains(r.getAs[Int]("month")))
      assert((1 to 4).contains(r.getAs[Int]("quarter")))
      assert((0 to 6).contains(r.getAs[Int]("day_of_week")))
      assert((1 to 53).contains(r.getAs[Int]("week_of_year")))
    }
    // 2024-01-01 was a Monday
    assert(derived.head.getAs[Int]("day_of_week") == 0)
  }

  test("is_positive_day is false (not null) on the first row per symbol") {
    val first = derived.head
    assert(!first.getAs[Boolean]("is_positive_day"))
    assert(!first.getAs[Boolean]("is_negative_day"))
    // ramp is strictly increasing afterwards
    assert(derived.tail.forall(_.getAs[Boolean]("is_positive_day")))
  }

  test("volatility category boundaries incl. null -> Unknown (reference tests :112-140)") {
    val df = Seq[Option[Double]](None, Some(0.5), Some(0.99), Some(1.0), Some(1.99),
      Some(2.0), Some(3.49), Some(3.5), Some(4.99), Some(5.0), Some(100.0))
      .toDF("v").select(Derive.volatilityCategory(col("v")).as("c"))
    val got = df.collect().map(_.getString(0)).toSeq
    assert(got == Seq("Unknown", "Very Low", "Very Low", "Low", "Low",
      "Medium", "Medium", "High", "High", "Very High", "Very High"))
  }

  test("volume_category respects per-symbol quartiles") {
    val cats = Derive.addDerived(fixture).orderBy("volume")
      .select("volume_category").collect().map(_.getString(0))
    // sorted by volume: 25 rows -> roughly 7 Low, 6 Medium, 6 High, 6 Very High
    assert(cats.head == "Low" && cats.last == "Very High")
    assert(Set("Low", "Medium", "High", "Very High") == cats.toSet)
  }

  test("MACD FIR kernels match a driver-side brute force; warm-up rows null") {
    val n = 45
    val rnd = new scala.util.Random(7)
    val prices = Vector.fill(n)(100.0 + rnd.nextDouble() * 20.0)
    val rows = prices.zipWithIndex.map { case (p, i) =>
      ("T", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)),
        p - 1.0, p + 1.0, p - 2.0, p, 1000L)
    }
    val df = rows.toDF("symbol", "date", "open", "high", "low", "close", "volume")
    val got = Derive.withMacd(df).orderBy("date")
      .select("macd", "macd_signal", "macd_hist").collect()

    // independent direct evaluation of the same FIR definition
    def fir(xs: Vector[Option[Double]], span: Int, minN: Int): Vector[Option[Double]] = {
      val ws = graft.ops.Num.emaKernel(span)
      xs.indices.toVector.map { t =>
        if (t + 1 < minN) None
        else Some(ws.zipWithIndex.map { case (wj, j) => wj * xs(t - j).get }.sum / ws.sum)
      }
    }
    val some = prices.map(Option(_))
    val e12 = fir(some, 12, 12)
    val e26 = fir(some, 26, 26)
    val macd = e12.indices.toVector.map(t => for (a <- e12(t); b <- e26(t)) yield a - b)
    val signal = fir(macd, 9, 34)

    for (t <- 0 until n) {
      val row = got(t)
      (macd(t), if (row.isNullAt(0)) None else Some(row.getDouble(0))) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-9, s"macd row $t")
        case (e, g)             => assert(e == g, s"macd nullness row $t: $e vs $g")
      }
      (signal(t), if (row.isNullAt(1)) None else Some(row.getDouble(1))) match {
        case (Some(e), Some(g)) => assert(math.abs(e - g) < 1e-9, s"signal row $t")
        case (e, g)             => assert(e == g, s"signal nullness row $t: $e vs $g")
      }
    }
    // warm-up boundaries: macd first defined at row 26 (1-based), signal at 34
    assert(got(24).isNullAt(0) && !got(25).isNullAt(0))
    assert(got(32).isNullAt(1) && !got(33).isNullAt(1))

    // constant series: macd and signal exactly zero once defined
    val flat = (0 until 40).map { i =>
      ("C", java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i.toLong)),
        99.0, 101.0, 98.0, 100.0, 1000L)
    }.toDF("symbol", "date", "open", "high", "low", "close", "volume")
    val last = Derive.withMacd(flat).orderBy("date")
      .select("macd", "macd_signal", "macd_hist").collect().last
    assert(math.abs(last.getDouble(0)) < 1e-12)
    assert(math.abs(last.getDouble(1)) < 1e-12)
    assert(math.abs(last.getDouble(2)) < 1e-12)
  }

  /** Bars of 2-4 symbols in shuffled row order: a one-bar symbol, the rest
    * 2-30 bars on gapped dates, about a fifth of closes repeating the
    * previous one so flat days occur. (symbol, day, high, low, close). */
  private val genBars: Gen[Seq[(String, Int, Double, Double, Double)]] = for {
    symbols <- Gen.choose(2, 4)
    seed <- Gen.long
  } yield {
    val rnd = new Random(seed)
    val rows = (0 until symbols).flatMap { k =>
      val n = if (k == 0) 1 else 2 + rnd.nextInt(29)
      val days = (1 to n).scanLeft(0)((d, _) => d + 1 + rnd.nextInt(3)).tail
      val closes = (1 until n).scanLeft(50.0 + rnd.nextInt(100))((c, _) =>
        if (rnd.nextInt(5) == 0) c else c * (0.9 + rnd.nextDouble() * 0.2))
      days.zip(closes).map { case (d, c) =>
        (s"s$k", d, c + rnd.nextDouble() * 5, c - rnd.nextDouble() * 5, c)
      }
    }
    rnd.shuffle(rows)
  }

  test("shared bar kernels equal a plain-Scala reference row by row; first bars per contract") {
    import Derive._
    val emaSpans = Seq((3, 3), (4, 6))
    def reference(bars: Seq[(String, Int, Double, Double, Double)]) =
      bars.groupBy(_._1).values.flatMap { series =>
        val s = series.sortBy(_._2).toVector
        s.indices.map { i =>
          val (sym, day, high, low, close) = s(i)
          val prev = if (i == 0) None else Some(s(i - 1)._5)
          val chg = prev.map(close - _)
          val firs = emaSpans.map { case (span, minRn) =>
            val ws = graft.ops.Num.emaKernel(span)
            if (i + 1 < minRn) None
            else Some(ws.zipWithIndex.map { case (wj, j) => wj * s(i - j)._5 }
              .reduce(_ + _) / ws.sum)
          }
          (sym, day) -> (Seq(chg, prev.map(close / _ - 1), prev.map(p => (close / p - 1) * 100),
            prev.map(close > _), Some(chg.exists(_ > 0)), Some(chg.exists(_ < 0)),
            Some(prev.fold(high - low)(p =>
              Seq(high - low, math.abs(high - p), math.abs(low - p)).max))) ++ firs)
        }
      }.toMap

    val prop = Prop.forAllNoShrink(genBars) { bars =>
      val df = bars.map { case (sym, day, high, low, close) =>
        (sym, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong)),
          close, high, low, close, 1000L)
      }.toDF("symbol", "date", "open", "high", "low", "close", "volume")
      val got = df.withColumn("__rn", row_number().over(bySymbolDate))
        .select(Seq(col("symbol"), datediff(col("date"), lit("2024-01-01")),
          change(prevClose), ret(prevClose), pctChange(prevClose), up(prevClose),
          positiveDay(change(prevClose)), negativeDay(change(prevClose)),
          trueRange(prevClose)) ++ emaSpans.map { case (span, minRn) =>
            fir(col("close"), span, minRn) }: _*)
        .collect().map { r =>
          (r.getString(0), r.getInt(1)) ->
            (2 until r.length).map(i => Option(r.get(i))).toSeq
        }.toMap
      Prop(got == reference(bars)) :| s"bars=$bars"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withWorkers(1).withInitialSeed(Seed(12L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
