package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Derive.{bySymbolDate, bySymbolDateDesc}
import graft.ops.Num.cround

/** MA-crossover trading signals and rule-based next-day forecasts
  * (reference: src/predictions.py, operators W6-W8 / X7 / A7-A8).
  *
  * The reference loops symbols on the driver (src/predictions.py:100-105,
  * 131-150); here every symbol is computed in one distributed pass:
  * row_number window -> per-symbol aggregate -> join. All joins are on the
  * tiny per-symbol side and broadcast.
  */
object Predictions {

  /** W7/W8 + A7/A8 + X7: next-day forecast per symbol
    * (reference: src/predictions.py:6-110). Requires >= `minDays` rows per
    * symbol (reference uses 20). Output one row per eligible symbol, sorted
    * by predicted_change_percent desc (reference :108).
    */
  def nextDayForecast(features: DataFrame, minDays: Int = 20): DataFrame = {
    val ranked = features.select("symbol", "date", "close", "ma_5", "ma_20",
        "daily_change_percent")
      .withColumn("__rn", row_number().over(bySymbolDateDesc))

    // Latest row (W7) + last-5-day stats (W8/A7/A8) + row count, one aggregate.
    val perSymbol = ranked.groupBy("symbol").agg(
      count(lit(1)).as("n_days"),
      max_by(col("close"), col("date")).as("current_price"),
      max_by(col("ma_5"), col("date")).as("ma5"),
      max_by(col("ma_20"), col("date")).as("ma20"),
      max(col("date")).as("current_date"),
      stddev_samp(when(col("__rn") <= 5, col("daily_change_percent")))
        .as("recent_volatility"),
      avg(when(col("__rn") <= 5, col("daily_change_percent")))
        .as("avg_daily_change"))

    val bullish = col("ma5") > col("ma20")
    val strength = when(bullish, (col("ma5") - col("ma20")) / col("ma20") * 100)
      .otherwise((col("ma20") - col("ma5")) / col("ma20") * 100)

    perSymbol.filter(col("n_days") >= minDays)
      .withColumn("trend", when(bullish, "BULLISH").otherwise("BEARISH"))
      .withColumn("trend_strength", strength)
      .withColumn("predicted_change_percent",
        when(bullish,
          least(col("trend_strength") * 0.3 + col("avg_daily_change") * 0.7, lit(5.0)))
        .otherwise(
          greatest(-col("trend_strength") * 0.3 + col("avg_daily_change") * 0.7, lit(-5.0))))
      .withColumn("predicted_price",
        col("current_price") * (col("predicted_change_percent") / 100 + 1))
      .withColumn("confidence",
        when(col("trend_strength") > 5 && col("recent_volatility") < 2, "HIGH")
          .when(col("trend_strength") > 2 && col("recent_volatility") < 4, "MEDIUM")
          .otherwise("LOW"))
      .withColumn("prediction_date",
        date_format(date_add(col("current_date"), 1), "yyyy-MM-dd"))
      .select(
        col("symbol"),
        cround(col("current_price"), 2).as("current_price"),
        cround(col("predicted_price"), 2).as("predicted_price"),
        cround(col("predicted_price") - col("current_price"), 2).as("predicted_change"),
        cround(col("predicted_change_percent"), 2).as("predicted_change_percent"),
        col("trend"),
        cround(col("trend_strength"), 2).as("trend_strength"),
        col("confidence"),
        cround(col("ma5"), 2).as("ma_5"),
        cround(col("ma20"), 2).as("ma_20"),
        cround(col("recent_volatility"), 2).as("recent_volatility"),
        col("prediction_date"),
        date_format(col("current_date"), "yyyy-MM-dd").as("current_date"))
      .orderBy(desc("predicted_change_percent"), col("symbol"))
  }

  /** W6: golden/death-cross signals over each symbol's last 10 rows
    * (reference: src/predictions.py:113-175). The pairwise loop becomes a
    * lag() inside the 10-row slice; days_ago uses the global max date
    * (broadcast single-row join, no single-partition window). */
  def tradingSignals(features: DataFrame): DataFrame = {
    val maxDate = features.agg(max(col("date")).as("__max_date"))

    val last10 = features.select("symbol", "date", "close", "ma_5", "ma_20")
      .withColumn("__rn", row_number().over(bySymbolDateDesc))
      .filter(col("__rn") <= 10)

    val buy  = col("__prev_ma5") <= col("__prev_ma20") && col("ma_5") > col("ma_20")
    val sell = col("__prev_ma5") >= col("__prev_ma20") && col("ma_5") < col("ma_20")

    last10
      .withColumn("__prev_ma5", lag("ma_5", 1).over(bySymbolDate))
      .withColumn("__prev_ma20", lag("ma_20", 1).over(bySymbolDate))
      .filter(col("__prev_ma5").isNotNull)
      .withColumn("signal", when(buy, "BUY").when(sell, "SELL"))
      .filter(col("signal").isNotNull)
      .withColumn("signal_type",
        when(col("signal") === "BUY", "Golden Cross").otherwise("Death Cross"))
      .crossJoin(broadcast(maxDate))
      .select(
        col("symbol"), col("signal"), col("signal_type"), col("date"),
        col("close").as("price"), col("ma_5"), col("ma_20"),
        datediff(col("__max_date"), col("date")).as("days_ago"))
      .orderBy(desc("date"), col("symbol"))
  }
}
