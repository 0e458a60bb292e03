package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Schemas

/** Readers for the test corpus plus the Alpha-Vantage-shaped JSON parser
  * (reference: src/extract.py S1-S5). All readers go through
  * `spark.read.parquet` so Catalyst gets predicate pushdown + column pruning
  * for free; at cluster scale the same code reads a partitioned table.
  */
object Sources {

  /** Scan one corpus table. Parquet scan => column pruning + filter pushdown. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  /** events.parquet stores ts as TIMESTAMP(NANOS), which Spark only reads as
    * LongType (spark.sql.legacy.parquet.nanosAsLong=true — set in Verify/
    * Bench/test sessions). Normalize to a microsecond timestamp with integer
    * division (ns magnitudes exceed double precision). */
  /** `ts` arrives in whatever physical form the corpus writer chose —
    * TIMESTAMP_NS (this session's nanosAsLong reads it as BIGINT nanos),
    * plain micros TIMESTAMP, or un-zoned TIMESTAMP_NTZ (a micros column
    * without the UTC-adjusted flag). Normalize all three to session-zone
    * TIMESTAMP so downstream `unix_micros`/window math sees one type; the
    * session zone is pinned UTC everywhere, so the NTZ cast relabels the
    * same instant rather than shifting it. */
  def events(spark: SparkSession, dir: String): DataFrame =
    normalizeEventTs(table(spark, dir, "events"))

  /** The one shared rule for whatever physical `ts` a corpus writer chose —
    * BIGINT nanos (TIMESTAMP_NS under this session's nanosAsLong), plain
    * micros TIMESTAMP, or un-zoned TIMESTAMP_NTZ (micros without the
    * UTC-adjusted flag, the r9 driver layout). All three normalize to
    * session-zone TIMESTAMP so downstream `unix_micros`/window math sees
    * one type; the session zone is pinned UTC everywhere, so the NTZ cast
    * relabels the same instant rather than shifting it. Used by the batch
    * reader, both streaming readers, and the ScaleCorpus generator. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** `lineitem` mapped onto the canonical OHLCV shape (P1 rename + P2 cast +
    * deterministic derivation). `l_partkey` plays `symbol`, `l_shipdate` plays
    * `date` (FIXTURES.md role mapping). `rid` is a unique row id used as the
    * deterministic keep-last tiebreak for dedup (SURVEY §7.4 trap #2).
    *
    * high >= max(open, close) and low <= min(open, close) by construction
    * (tax/discount are >= 0), so the OHLC-consistency filter is an identity on
    * undoctored rows; queries that exercise F1-F3 inject dirt explicitly.
    */
  def stockFromLineitem(spark: SparkSession, dir: String): DataFrame = {
    val open  = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val close = col("l_extendedprice")
    lineitem(spark, dir).select(
      col("l_partkey").cast("string").as("symbol"),
      col("l_shipdate").cast("date").as("date"),
      open.as("open"),
      (greatest(close, open) * (lit(1.0) + col("l_tax"))).as("high"),
      (least(close, open) * (lit(1.0) - col("l_tax"))).as("low"),
      close.as("close"),
      floor(col("l_quantity")).cast("long").as("volume"),
      (col("l_orderkey") * lit(10L) + col("l_linenumber")).as("rid")
    )
  }

  /** Parse Alpha-Vantage-shaped JSON payload strings into flat OHLCV rows
    * (reference: src/extract.py:102-125 + src/transform.py:110-142).
    * One input row = one symbol envelope; output = one row per trading day.
    * String -> double/long casts reproduce to_numeric(errors='coerce')
    * (invalid -> null). Runs fully inside codegen (from_json + explode),
    * so it distributes over any number of payload rows.
    */
  def parseAlphaVantage(payloads: DataFrame, jsonCol: String,
                        passthrough: Seq[String] = Nil): DataFrame =
    payloads
      .withColumn("__p", from_json(col(jsonCol), Schemas.rawPayload))
      .select(passthrough.map(col) ++ Seq(
        col("__p").getField("Meta Data").getItem("2. Symbol").as("symbol"),
        explode(col("__p").getField("Time Series (Daily)")).as(Seq("date_str", "bar"))): _*)
      .select(passthrough.map(col) ++ Seq(
        col("symbol"),
        to_date(col("date_str")).as("date"),
        // try_cast, not cast: Spark 4 runs ANSI mode by default, where a
        // plain cast of a malformed string THROWS; pandas
        // to_numeric(errors='coerce') semantics require null instead
        expr("try_cast(bar['1. open'] AS DOUBLE)").as("open"),
        expr("try_cast(bar['2. high'] AS DOUBLE)").as("high"),
        expr("try_cast(bar['3. low'] AS DOUBLE)").as("low"),
        expr("try_cast(bar['4. close'] AS DOUBLE)").as("close"),
        expr("try_cast(bar['5. volume'] AS BIGINT)").as("volume")): _*)

  /** S2: parse company-OVERVIEW JSON envelopes into a typed company
    * dimension table (reference: src/extract.py:160-270). Envelope
    * validation mirrors the reference's checks: a payload carrying
    * "Error Message" (invalid symbol) or "Note" (rate limit), or missing
    * "Symbol", is invalid and dropped (the distributed analog of the
    * reference raising ValueError per symbol). Numeric fields coerce with
    * try_cast — Alpha Vantage returns "None"/"-" for missing fundamentals,
    * which must become null, not throw (Spark 4 ANSI mode).
    *
    * The result is a small dimension table: broadcast it into fact joins
    * (one row per symbol — thousands of rows even at 100 TB of bars). */
  def parseOverview(payloads: DataFrame, jsonCol: String): DataFrame =
    payloads
      .withColumn("__o", from_json(col(jsonCol), Schemas.overviewPayload))
      .filter(col("__o").isNotNull &&
        col("__o").getItem("Error Message").isNull &&
        col("__o").getItem("Note").isNull &&
        col("__o").getItem("Symbol").isNotNull)
      .select(
        col("__o").getItem("Symbol").as("symbol"),
        col("__o").getItem("Name").as("name"),
        col("__o").getItem("Description").as("description"),
        col("__o").getItem("Sector").as("sector"),
        col("__o").getItem("Industry").as("industry"),
        expr("try_cast(__o['MarketCapitalization'] AS BIGINT)").as("market_cap"),
        expr("try_cast(__o['PERatio'] AS DOUBLE)").as("pe_ratio"),
        expr("try_cast(__o['EPS'] AS DOUBLE)").as("eps"),
        expr("try_cast(__o['DividendYield'] AS DOUBLE)").as("dividend_yield"),
        expr("try_cast(__o['52WeekHigh'] AS DOUBLE)").as("week52_high"),
        expr("try_cast(__o['52WeekLow'] AS DOUBLE)").as("week52_low"),
        expr("try_cast(__o['Beta'] AS DOUBLE)").as("beta"))

  /** Deterministic company dimension derived from `part` (the corpus has no
    * OVERVIEW payloads; oracle-checkable stand-in): p_partkey plays symbol —
    * the same role mapping as stockFromLineitem — p_brand sector, p_type
    * industry. Mirrored in OracleSql's `ov` CTE. */
  def overviewFromPart(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "part").select(
      col("p_partkey").cast("string").as("symbol"),
      col("p_name").as("name"),
      col("p_brand").as("sector"),
      col("p_type").as("industry"),
      (col("p_retailprice") * 1000000).cast("long").as("market_cap"),
      (col("p_size") / 2.0).as("pe_ratio"))

  /** Synthetic OHLCV generator (reference: dashboard/app.py:45-92 S5) —
    * `spark.range` + seeded rand, fully distributed, no driver-side loops. */
  def syntheticStock(spark: SparkSession, symbols: Seq[String], days: Int,
                     seed: Long = 42L): DataFrame = {
    val syms = spark.createDataFrame(symbols.zipWithIndex.map { case (s, i) => (s, i) })
      .toDF("symbol", "sym_idx")
    spark.range(days).withColumnRenamed("id", "day_idx")
      .crossJoin(syms)
      .withColumn("date", date_add(to_date(lit("2024-01-01")), col("day_idx").cast("int")))
      .withColumn("base", lit(100.0) + col("sym_idx") * 50.0)
      .withColumn("close", col("base") * (lit(1.0) + (rand(seed) - 0.5) * 0.1))
      .withColumn("open", col("close") * (lit(1.0) + (rand(seed + 1) - 0.5) * 0.02))
      .withColumn("high", greatest(col("open"), col("close")) * (lit(1.0) + rand(seed + 2) * 0.01))
      .withColumn("low", least(col("open"), col("close")) * (lit(1.0) - rand(seed + 3) * 0.01))
      .withColumn("volume", (rand(seed + 4) * 1e7).cast("long"))
      .select("symbol", "date", "open", "high", "low", "close", "volume")
  }
}
