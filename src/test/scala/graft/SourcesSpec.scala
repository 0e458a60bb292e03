package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.io.{FetchTransport, Sources, Throttle}
import graft.ops.Cleaning

/** Stub transport for the graft-fetch DSv2 source: deterministic
  * AV-envelope payload per symbol, permanent failure for "BAD" (top-level
  * class — the reader instantiates it reflectively by name). */
class CannedTransport extends FetchTransport {
  override def fetch(symbol: String): String =
    if (symbol == "BAD") throw new RuntimeException("transport down")
    else CannedTransport.payload(symbol)
}

object CannedTransport {
  def payload(symbol: String): String =
    s"""{"Meta Data": {"2. Symbol": "$symbol"},
       | "Time Series (Daily)": {
       |   "2024-01-19": {"1. open": "10.0", "2. high": "11.0", "3. low": "9.0",
       |                  "4. close": "10.5", "5. volume": "1000"}}}""".stripMargin
}

/** S1/S5 source semantics: the Alpha-Vantage-shaped JSON parser against the
  * reference's fixture shape (FIXTURES.md A1), and the synthetic generator. */
class SourcesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val payload =
    """{
      |  "Meta Data": {"1. Information": "Daily Prices", "2. Symbol": "AAPL",
      |                "3. Last Refreshed": "2024-01-20", "5. Time Zone": "US/Eastern"},
      |  "Time Series (Daily)": {
      |    "2024-01-19": {"1. open": "150.0", "2. high": "155.0", "3. low": "148.0",
      |                   "4. close": "153.0", "5. volume": "50000000"},
      |    "2024-01-20": {"1. open": "151.0", "2. high": "156.0", "3. low": "149.0",
      |                   "4. close": "154.0", "5. volume": "garbage"}
      |  }
      |}""".stripMargin

  test("parseAlphaVantage flattens payloads; bad numerics coerce to null") {
    val out = Sources.parseAlphaVantage(Seq(payload).toDF("json"), "json")
      .orderBy("date").collect()
    assert(out.length == 2)
    val first = out.head
    assert(first.getAs[String]("symbol") == "AAPL")
    assert(first.getAs[java.sql.Date]("date").toString == "2024-01-19")
    assert(first.getAs[Double]("close") == 153.0)
    assert(first.getAs[Long]("volume") == 50000000L)
    // to_numeric(errors='coerce') parity: garbage volume -> null
    assert(out(1).isNullAt(out(1).fieldIndex("volume")))
  }

  test("malformed payloads yield null rows filterable like failed fetches (F8)") {
    val out = Sources.parseAlphaVantage(
      Seq(payload, "not json at all").toDF("json"), "json")
    assert(out.count() == 2) // explode drops the null time-series envelope
  }

  test("parseOverview types fields, coerces bad numerics, drops error envelopes") {
    val valid =
      """{"Symbol": "AAPL", "Name": "Apple Inc", "Description": "Consumer electronics",
        |"Sector": "TECHNOLOGY", "Industry": "CONSUMER ELECTRONICS",
        |"MarketCapitalization": "3000000000000", "PERatio": "31.5", "EPS": "6.42",
        |"DividendYield": "0.0044", "52WeekHigh": "237.23", "52WeekLow": "164.08",
        |"Beta": "1.29"}""".stripMargin
    // the reference's three rejection cases (src/extract.py:214-236):
    val errorEnv = """{"Error Message": "Invalid API call"}"""
    val noteEnv = """{"Note": "API rate limit is 5 calls per minute"}"""
    val missingSymbol = """{"Name": "No Symbol Corp"}"""
    // missing fundamentals arrive as "None"/"-" and must coerce to null:
    val badNumbers =
      """{"Symbol": "MSFT", "Name": "Microsoft", "Sector": "TECHNOLOGY",
        |"PERatio": "None", "MarketCapitalization": "-"}""".stripMargin

    val out = Sources.parseOverview(
      Seq(valid, errorEnv, noteEnv, missingSymbol, badNumbers, "not json")
        .toDF("json"), "json")
    val rows = out.orderBy("symbol").collect()
    assert(rows.map(_.getAs[String]("symbol")).toSeq == Seq("AAPL", "MSFT"))
    val aapl = rows(0)
    assert(aapl.getAs[String]("sector") == "TECHNOLOGY")
    assert(aapl.getAs[Long]("market_cap") == 3000000000000L)
    assert(aapl.getAs[Double]("pe_ratio") == 31.5)
    assert(aapl.getAs[Double]("week52_high") == 237.23)
    val msft = rows(1)
    assert(msft.isNullAt(msft.fieldIndex("pe_ratio")))
    assert(msft.isNullAt(msft.fieldIndex("market_cap")))
  }

  test("synthetic generator produces consistent OHLC rows") {
    val df = Sources.syntheticStock(spark, Seq("AAA", "BBB"), days = 10)
    assert(df.count() == 20)
    // generator output survives the quality filters by construction
    assert(Cleaning.filterPositivePrices(Cleaning.filterOhlcConsistent(df)).count() == 20)
  }

  test("graft-fetch DSv2 source matches Throttle.fetchAll and feeds the parser") {
    val symbols = Seq("AAA", "BAD", "CCC")
    val df = spark.read.format("graft-fetch")
      .option("symbols", symbols.mkString(","))
      .option("transport", classOf[CannedTransport].getName)
      .option("ratePerMinute", "600000") // 0.1 ms interval: pacing without slow tests
      .option("retries", "1")
      .option("backoffMs", "0")
      .load()
    val rows = df.orderBy("fetch_seq").collect()
    assert(rows.map(_.getAs[String]("symbol")).toSeq == symbols,
      "one row per symbol, in request order")
    val viaSource = rows.map(r => Option(r.getAs[String]("payload"))).toSeq
    val viaThrottle = Throttle.fetchAll(symbols, ratePerMinute = 600000,
      retries = 1, sleep = _ => ())(new CannedTransport().fetch)
    assert(viaSource == viaThrottle,
      "DSv2 reader and driver-side fetchAll must land identical payloads")
    assert(viaSource(1).isEmpty, "permanent failure lands as null payload (F8)")
    // the landed frame feeds the existing parser end-to-end
    val parsed = Sources.parseAlphaVantage(df, "payload",
      passthrough = Seq("fetch_seq"))
    assert(parsed.count() == 2) // BAD's null payload parses to no rows
    assert(parsed.select("symbol").as[String].collect().toSet == Set("AAA", "CCC"))
  }

  test("graft-fetch rejects missing required options loudly") {
    for (opts <- Seq(Map("transport" -> classOf[CannedTransport].getName),
                     Map("symbols" -> "AAA"),
                     // commas and whitespace name no symbol — must fail,
                     // not land an empty frame
                     Map("symbols" -> " , ",
                       "transport" -> classOf[CannedTransport].getName))) {
      val reader = opts.foldLeft(spark.read.format("graft-fetch")) {
        case (r, (k, v)) => r.option(k, v)
      }
      val e = intercept[Exception] { reader.load().collect() }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("graft-fetch requires option")),
        s"expected a loud missing-option error, got: $e")
    }
  }

  test("graft-fetch as a streaming source: one paced round per trigger") {
    val q = spark.readStream.format("graft-fetch")
      .option("symbols", "AAA,CCC")
      .option("transport", classOf[CannedTransport].getName)
      .option("ratePerMinute", "600000")
      .load()
      .writeStream.format("memory").queryName("fetch_stream_test")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table("fetch_stream_test").orderBy("fetch_seq").collect()
    // AvailableNow = exactly ONE fetch round: each symbol once, in order
    assert(rows.map(_.getAs[String]("symbol")).toSeq == Seq("AAA", "CCC"))
    assert(rows.map(_.getAs[Long]("fetch_seq")).toSeq == Seq(0L, 1L))
    assert(rows.forall(r => r.getAs[String]("payload") ==
      CannedTransport.payload(r.getAs[String]("symbol"))))
  }

  test("graft-fetch streaming restart advances to a fresh round") {
    // a clean restart from checkpoint must fetch the NEXT round — not
    // re-fetch round 0 and not conclude "no new data" and fetch nothing
    // (offset progression is stateless: latestOffset(start) = start + 1)
    SparkTestSession.withTempDir("graft-fetch") { root =>
      val ckpt = root.resolve("ckpt").toString
      val out = root.resolve("out").toString
      def runOnce(): Unit = {
        val q = spark.readStream.format("graft-fetch")
          .option("symbols", "AAA,CCC")
          .option("transport", classOf[CannedTransport].getName)
          .option("ratePerMinute", "600000")
          .load()
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      runOnce()
      runOnce()
      // run 1 lands round 0 (fetch_seq 0,1); the restart lands round 1 only
      val seqs = spark.read.parquet(out)
        .orderBy("fetch_seq").collect().map(_.getAs[Long]("fetch_seq")).toSeq
      assert(seqs == Seq(0L, 1L, 2L, 3L),
        s"restart must append exactly round 1 (fetch_seq 2,3), got $seqs")
    }
  }

  test("fetch -> landing dir -> file stream: the full ingestion contract") {
    // the production shape: the paced graft-fetch scan lands raw payloads
    // in a directory; Structured Streaming tails the directory and the
    // payload parser runs distributed per micro-batch
    SparkTestSession.withTempDir("graft-landing") { landing =>
      spark.read.format("graft-fetch")
        .option("symbols", "AAA,BBB")
        .option("transport", classOf[CannedTransport].getName)
        .option("ratePerMinute", "600000")
        .load()
        .write.mode("overwrite").parquet(landing.toString)

      val stream = spark.readStream.schema(graft.io.FetchSource.schema)
        .parquet(landing.toString)
      val q = Sources.parseAlphaVantage(stream, "payload",
          passthrough = Seq("fetch_seq"))
        .writeStream.format("memory").queryName("landed_bars")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()

      val streamed = spark.table("landed_bars")
      val batch = Sources.parseAlphaVantage(
        spark.read.parquet(landing.toString), "payload",
        passthrough = Seq("fetch_seq"))
      assert(streamed.count() == 2 && batch.count() == 2)
      assert(streamed.exceptAll(batch).count() == 0 &&
        batch.exceptAll(streamed).count() == 0,
        "streamed parse diverges from batch parse of the same landing dir")
    }
  }
}
