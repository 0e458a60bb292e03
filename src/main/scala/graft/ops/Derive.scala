package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** The 18 derived feature columns (reference: src/transform.py:212-336,
  * operators W1-W9 / X1-X6 in SURVEY §2.5/§2.7).
  *
  * Everything per-symbol/date-ordered shares ONE window spec, so Catalyst
  * plans a single sort+shuffle on `symbol` for all window columns. At 100 TB
  * a per-symbol daily series is at most a few thousand rows per key, so the
  * per-partition sort is trivially memory-resident; skew only appears if one
  * key dominates, which a (symbol) hash partition handles for daily bars.
  * The quartile lookup (W9) is a tiny per-key aggregate broadcast back —
  * no second shuffle of the fact table.
  *
  * The bar kernels below (windows, previous close, bar arithmetic, true
  * range, FIR EMA) are defined once, as expression values: every stock
  * query builds from them, so equal computations build equal trees.
  */
object Derive {

  /** The per-symbol windows: unordered, by date, newest bar first. */
  val bySymbol: WindowSpec = Window.partitionBy("symbol")
  val bySymbolDate: WindowSpec = Window.partitionBy("symbol").orderBy("date")
  val bySymbolDateDesc: WindowSpec = bySymbol.orderBy(col("date").desc)

  /** The previous bar's close; NULL on a symbol's first bar, and so are
    * [[change]], [[ret]], [[pctChange]] and [[up]] over it. */
  val prevClose: Column = lag("close", 1).over(bySymbolDate)

  /** W1 change, simple return, W2 percent change, up flag. */
  def change(prev: Column): Column = col("close") - prev
  def ret(prev: Column): Column = col("close") / prev - 1
  def pctChange(prev: Column): Column = ret(prev) * 100
  def up(prev: Column): Column = col("close") > prev

  /** X4: up/down-day flags over a change; false (not null) where the change
    * is NULL (pandas NaN > 0 is False). */
  def positiveDay(change: Column): Column = coalesce(change > 0, lit(false))
  def negativeDay(change: Column): Column = coalesce(change < 0, lit(false))

  /** Wilder's true range: max(high - low, |high - prev|, |low - prev|), and
    * high - low on a first bar. */
  def trueRange(prev: Column): Column =
    when(prev.isNull, col("high") - col("low"))
      .otherwise(greatest(col("high") - col("low"),
        abs(col("high") - prev), abs(col("low") - prev)))

  /** The EMA of `c` in deterministic FIR form: the pandas adjust=true
    * kernel truncated at its span — weights (1 - 2/(span+1))^j for
    * j < span, normalized by their own sum ([[Num.emaKernel]]) — over
    * [[bySymbolDate]], NULL while the caller's `__rn` (row_number over
    * [[bySymbolDate]]) is below `minRn`. The textbook recursive (IIR) EMA
    * folds the entire history into every row, which no frame aggregate can
    * express; the truncated kernel IS a frame computation (span-26 tail
    * weight ~4.6%, shrinking geometrically with history), deterministic
    * cross-engine, and is exactly pandas `ewm(span, adjust=True)` until
    * the kernel fills. */
  def fir(c: Column, span: Int, minRn: Int): Column = {
    val ws = Num.emaKernel(span)
    val num = ws.zipWithIndex.map { case (wj, j) =>
      lit(wj) * (if (j == 0) c else lag(c, j).over(bySymbolDate))
    }.reduce(_ + _)
    when(col("__rn") >= minRn, num / lit(ws.sum))
  }

  /** X5: volatility bucket thresholds (reference: src/transform.py:20-42).
    * Pure `when` chain — no UDF, stays inside whole-stage codegen.
    * Null (pandas NaN) -> 'Unknown'. */
  def volatilityCategory(vol: Column): Column =
    when(vol.isNull, lit("Unknown"))
      .when(vol < 1.0, lit("Very Low"))
      .when(vol < 2.0, lit("Low"))
      .when(vol < 3.5, lit("Medium"))
      .when(vol < 5.0, lit("High"))
      .otherwise(lit("Very High"))

  /** X6 bucket chain over the per-symbol quartiles q1/q2/q3
    * (reference: src/transform.py:248-257). */
  def volumeCategory(volume: Column, q1: Column, q2: Column, q3: Column): Column =
    when(volume.isNull, lit("Unknown"))
      .when(volume <= q1, lit("Low"))
      .when(volume <= q2, lit("Medium"))
      .when(volume <= q3, lit("High"))
      .otherwise(lit("Very High"))

  /** A5+W9: per-symbol volume quartile edges. Exact linear-interpolation
    * percentile, matching pandas Series.quantile and DuckDB quantile_cont
    * (SURVEY §7.4 trap #4 — NOT percentile_approx; swap to approx_percentile
    * only when oracle equality is not required at very large key counts). */
  def volumeQuartiles(df: DataFrame): DataFrame =
    df.groupBy("symbol").agg(
      percentile(col("volume"), lit(0.25)).as("vol_q1"),
      percentile(col("volume"), lit(0.5)).as("vol_q2"),
      percentile(col("volume"), lit(0.75)).as("vol_q3"))

  /** W9/X6: assign volume_category from per-symbol quartiles computed as
    * unbounded-window aggregates over the SAME symbol partitioning the
    * feature windows already use — no second pass over the clean+derive
    * subtree and no join (the groupBy+broadcast-join alternative re-computed
    * the whole upstream plan for the aggregate side). */
  def withVolumeCategory(df: DataFrame): DataFrame =
    df.withColumn("vol_q1", percentile(col("volume"), lit(0.25)).over(bySymbol))
      .withColumn("vol_q2", percentile(col("volume"), lit(0.5)).over(bySymbol))
      .withColumn("vol_q3", percentile(col("volume"), lit(0.75)).over(bySymbol))
      .withColumn("volume_category",
        volumeCategory(col("volume"), col("vol_q1"), col("vol_q2"), col("vol_q3")))
      .drop("vol_q1", "vol_q2", "vol_q3")

  /** W14: MACD(12, 26, 9) over [[fir]] EMAs, warm-up rows NULL until a
    * full kernel of history exists: macd = ema12 - ema26 (first non-null at
    * row 26 per symbol); macd_signal = the 9-kernel over macd (row 34);
    * macd_hist = macd - signal. Every lag shares ONE symbol sort, and the
    * signal's second Window reuses the same partitioning+ordering, so
    * Catalyst plans a single symbol exchange (PlanSpec guard). */
  def withMacd(df: DataFrame): DataFrame =
    df.withColumn("__rn", row_number().over(bySymbolDate))
      .withColumn("macd", fir(col("close"), 12, 12) - fir(col("close"), 26, 26))
      .withColumn("macd_signal", fir(col("macd"), 9, 34))
      .withColumn("macd_hist", col("macd") - col("macd_signal"))
      .drop("__rn")

  /** All derived columns over a cleaned canonical stock frame
    * (symbol, date, open, high, low, close, volume). Expects (symbol, date)
    * unique (post-F4) so the window order is deterministic.
    *
    * Parity traps honored (SURVEY §7.4): first-row lag -> null propagates
    * into daily_change/percent/volatility; is_positive/negative_day coalesce
    * null -> false (pandas NaN > 0 is False); stddev is sample (ddof=1);
    * weekday() 0=Monday; weekofyear() ISO.
    */
  def addDerived(df: DataFrame): DataFrame = {
    val w5 = bySymbolDate.rowsBetween(-4, 0)
    val w20 = bySymbolDate.rowsBetween(-19, 0)

    val base = df
      // W1/W2: lag diff and percent change (src/transform.py:218-219).
      // The previous close materializes ONCE: two inline lag(...).over(w)
      // instances are two separate window expressions to
      // ExtractWindowExpressions (the w15/w12 lesson), and this frame is
      // the pipeline's hottest node.
      .withColumn("__prev_close", prevClose)
      .withColumn("daily_change", change(col("__prev_close")))
      .withColumn("daily_change_percent", pctChange(col("__prev_close")))
      .drop("__prev_close")
      // X1: ranges (src/transform.py:222-223)
      .withColumn("price_range", col("high") - col("low"))
      .withColumn("price_range_percent", col("price_range") / col("close") * 100)
      // X2: calendar components (src/transform.py:226-230)
      .withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
      .withColumn("quarter", quarter(col("date")))
      .withColumn("day_of_week", weekday(col("date")))
      .withColumn("week_of_year", weekofyear(col("date")))
      // X4: up/down-day flags; false (not null) on first rows (src/transform.py:233-234)
      .withColumn("is_positive_day", positiveDay(col("daily_change")))
      .withColumn("is_negative_day", negativeDay(col("daily_change")))
      // W3/W4: shrinking trailing means, min_periods=1 (src/transform.py:273-278)
      .withColumn("ma_5", avg("close").over(w5))
      .withColumn("ma_20", avg("close").over(w20))
      // X1: price vs moving averages (src/transform.py:281-282)
      .withColumn("price_vs_ma5", (col("close") - col("ma_5")) / col("ma_5") * 100)
      .withColumn("price_vs_ma20", (col("close") - col("ma_20")) / col("ma_20") * 100)
      // W5: rolling sample stddev of percent change (src/transform.py:259-266)
      .withColumn("volatility_indicator",
        stddev_samp("daily_change_percent").over(w20))
      .withColumn("volatility_category", volatilityCategory(col("volatility_indicator")))

    withVolumeCategory(base)
  }
}
