package graft.model

import org.apache.spark.sql.types._

/** Canonical schemas for the engine.
  *
  * Mirrors the reference's persistent `stock_data` model
  * (reference: src/load.py:26-92) re-expressed as Spark StructTypes, plus the
  * raw Alpha-Vantage-shaped payload contract (reference: src/extract.py:114-125).
  */
object Schemas {

  /** The analytic columns of the persistent table (reference: src/load.py:35-84,
    * minus the auto-increment id and load-time extracted_at default), in the
    * canonical output order (reference: src/transform.py:292-321). */
  val featureColumns: Seq[String] = Seq(
    "symbol", "date", "open", "high", "low", "close", "volume",
    "daily_change", "daily_change_percent", "price_range", "price_range_percent",
    "year", "month", "quarter", "day_of_week", "week_of_year",
    "is_positive_day", "is_negative_day",
    "volume_category", "volatility_indicator", "volatility_category",
    "ma_5", "ma_20", "price_vs_ma5", "price_vs_ma20", "data_source"
  )

  /** Raw Alpha-Vantage-shaped JSON payload (reference: src/extract.py:102-125):
    * metadata map plus time series as map<dateString, map<field, stringValue>>. */
  val rawPayload: StructType = StructType(Seq(
    StructField("Meta Data", MapType(StringType, StringType), nullable = true),
    StructField("Time Series (Daily)",
      MapType(StringType, MapType(StringType, StringType)), nullable = true)
  ))

  /** S2: company-OVERVIEW payload (reference: src/extract.py:160-270) — the
    * response is one flat JSON object of string fields ("Symbol", "Name",
    * "Sector", "MarketCapitalization", ...); error envelopes carry
    * "Error Message" (invalid symbol) or "Note" (rate limit) instead.
    * Parsed as a map, typed in Sources.parseOverview. */
  val overviewPayload: MapType = MapType(StringType, StringType)
}
