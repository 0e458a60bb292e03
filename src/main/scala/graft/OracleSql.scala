package graft

import graft.ops.Num.{croundSql => R}

/** DuckDB oracle SQL, one entry per Queries key. Each statement is the ANSI
  * equivalent of the Spark query, with identical column aliases, identical
  * tie-safe rounding (graft.ops.Num — plain ROUND tie-breaks differently
  * across engines on exact-decimal data), and the same total ORDER BY.
  *
  * Rounding scales: 6 for per-row arithmetic (bit-identical across engines),
  * 2 for anything built from multi-term floating aggregation (group/window
  * avg, stddev, sum) where summation order differs across engines by ~1e-9.
  *
  * Dialect notes (SURVEY §7.4): pandas/Spark weekday() 0=Monday ->
  * DuckDB isodow()-1; Spark weekofyear() ISO -> DuckDB weekofyear();
  * Spark exact percentile -> DuckDB quantile_cont; Spark stddev_samp ->
  * DuckDB stddev_samp; date-part results cast to INTEGER to match Spark's
  * 32-bit ints; SUMs of BIGINT cast back to BIGINT (DuckDB widens to
  * HUGEINT).
  */
object OracleSql {

  /** lineitem -> canonical OHLCV (mirror of Sources.stockFromLineitem). */
  val stockCte: String =
    """stock AS (
      |  SELECT CAST(l_partkey AS VARCHAR) AS symbol,
      |         CAST(l_shipdate AS DATE) AS "date",
      |         l_extendedprice * (1 - l_discount) AS open,
      |         GREATEST(l_extendedprice, l_extendedprice * (1 - l_discount)) * (1 + l_tax) AS high,
      |         LEAST(l_extendedprice, l_extendedprice * (1 - l_discount)) * (1 - l_tax) AS low,
      |         l_extendedprice AS close,
      |         CAST(FLOOR(l_quantity) AS BIGINT) AS volume,
      |         l_orderkey * 10 + l_linenumber AS rid
      |  FROM lineitem)""".stripMargin

  /** lineitem -> OHLCV with injected dirt (mirror of Queries.dirtyStock). */
  val dirtyCte: String =
    """dirty AS (
      |  SELECT CAST(l_partkey AS VARCHAR) AS symbol,
      |         CAST(l_shipdate AS DATE) AS "date",
      |         CASE WHEN l_linenumber = 7 THEN NULL
      |              ELSE l_extendedprice * (1 - l_discount) END AS open,
      |         CASE WHEN l_linenumber = 6 THEN l_extendedprice * 0.5
      |              ELSE GREATEST(l_extendedprice, l_extendedprice * (1 - l_discount)) * (1 + l_tax) END AS high,
      |         CASE WHEN l_linenumber = 5 THEN -l_extendedprice
      |              ELSE LEAST(l_extendedprice, l_extendedprice * (1 - l_discount)) * (1 - l_tax) END AS low,
      |         l_extendedprice AS close,
      |         CAST(FLOOR(l_quantity) AS BIGINT) AS volume,
      |         l_orderkey * 10 + l_linenumber AS rid
      |  FROM lineitem)""".stripMargin

  private def notNullPred(rel: String): String =
    s"""$rel.open IS NOT NULL AND $rel.high IS NOT NULL AND $rel.low IS NOT NULL
       |    AND $rel.close IS NOT NULL AND $rel.volume IS NOT NULL
       |    AND $rel."date" IS NOT NULL AND $rel.symbol IS NOT NULL""".stripMargin

  private val consistentPred: String =
    "NOT (high < low OR high < open OR high < close OR low > open OR low > close)"

  private val positivePred: String =
    "open > 0 AND high > 0 AND low > 0 AND close > 0 AND volume >= 0"

  /** F1+F2+F3 over stock. */
  val cleanCte: String =
    s"""clean AS (
       |  SELECT * FROM stock s
       |  WHERE ${notNullPred("s")}
       |    AND $consistentPred AND $positivePred)""".stripMargin

  /** F4: keep-last dedup on (symbol, date), tiebreak = greatest rid. */
  val dedupCte: String =
    """dedup AS (
      |  SELECT symbol, "date", open, high, low, close, volume, rid FROM (
      |    SELECT c.*, ROW_NUMBER() OVER (PARTITION BY symbol, "date" ORDER BY rid DESC) AS __rn
      |    FROM clean c)
      |  WHERE __rn = 1)""".stripMargin

  /** First feature layer: lag/pct/ranges/calendar/mas (mirror of Derive). */
  val feat1Cte: String =
    """feat1 AS (
      |  SELECT symbol, "date", open, high, low, close, volume,
      |    close - LAG(close) OVER w AS daily_change,
      |    (close / LAG(close) OVER w - 1) * 100 AS daily_change_percent,
      |    high - low AS price_range,
      |    (high - low) / close * 100 AS price_range_percent,
      |    CAST(year("date") AS INTEGER) AS year,
      |    CAST(month("date") AS INTEGER) AS month,
      |    CAST(quarter("date") AS INTEGER) AS quarter,
      |    CAST(isodow("date") - 1 AS INTEGER) AS day_of_week,
      |    CAST(weekofyear("date") AS INTEGER) AS week_of_year,
      |    AVG(close) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma_5,
      |    AVG(close) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS ma_20
      |  FROM dedup
      |  WINDOW w AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin

  /** Second feature layer: flags, ma-relative, volatility. */
  val feat2Cte: String =
    """feat2 AS (
      |  SELECT *,
      |    COALESCE(daily_change > 0, FALSE) AS is_positive_day,
      |    COALESCE(daily_change < 0, FALSE) AS is_negative_day,
      |    (close - ma_5) / ma_5 * 100 AS price_vs_ma5,
      |    (close - ma_20) / ma_20 * 100 AS price_vs_ma20,
      |    STDDEV_SAMP(daily_change_percent) OVER
      |      (PARTITION BY symbol ORDER BY "date" ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
      |      AS volatility_indicator
      |  FROM feat1)""".stripMargin

  /** Per-symbol volume quartiles (exact, linear interpolation). */
  val vqCte: String =
    """vq AS (
      |  SELECT symbol,
      |         quantile_cont(volume, 0.25) AS vol_q1,
      |         quantile_cont(volume, 0.50) AS vol_q2,
      |         quantile_cont(volume, 0.75) AS vol_q3
      |  FROM dedup GROUP BY symbol)""".stripMargin

  val volatilityCategoryCase: String =
    """CASE WHEN volatility_indicator IS NULL THEN 'Unknown'
      |     WHEN volatility_indicator < 1.0 THEN 'Very Low'
      |     WHEN volatility_indicator < 2.0 THEN 'Low'
      |     WHEN volatility_indicator < 3.5 THEN 'Medium'
      |     WHEN volatility_indicator < 5.0 THEN 'High'
      |     ELSE 'Very High' END""".stripMargin

  val volumeCategoryCase: String =
    """CASE WHEN f.volume IS NULL THEN 'Unknown'
      |     WHEN f.volume <= vq.vol_q1 THEN 'Low'
      |     WHEN f.volume <= vq.vol_q2 THEN 'Medium'
      |     WHEN f.volume <= vq.vol_q3 THEN 'High'
      |     ELSE 'Very High' END""".stripMargin

  def withCtes(ctes: String*)(body: String): String =
    "WITH " + ctes.mkString(",\n") + "\n" + body

  /** FIR-kernel EMA rendered in SQL with the engine's exact weight
    * doubles as decimal literals (shared constants via Num.emaKernel —
    * the formulation stays independent, the kernel is common, like the
    * shared croundSql). Expects `rn` (per-symbol ROW_NUMBER) in scope and
    * a window named `sw` (PARTITION BY symbol ORDER BY "date"). */
  private def firSql(expr: String, span: Int, minRn: Int): String = {
    val ws = graft.ops.Num.emaKernel(span)
    val num = ws.zipWithIndex.map { case (wj, j) =>
      if (j == 0) s"$wj * $expr" else s"$wj * LAG($expr, $j) OVER sw"
    }.mkString(" + ")
    s"CASE WHEN rn >= $minRn THEN ($num) / ${ws.sum} END"
  }

  private val pipelineCtes =
    Seq(stockCte, cleanCte, dedupCte, feat1Cte, feat2Cte, vqCte)

  val pipelineFeatures: String = withCtes(pipelineCtes: _*)(
    s"""SELECT f.symbol, f."date",
       |  ${R("f.open", 6)} AS open, ${R("f.high", 6)} AS high,
       |  ${R("f.low", 6)} AS low, ${R("f.close", 6)} AS close, f.volume,
       |  ${R("f.daily_change", 6)} AS daily_change,
       |  ${R("f.daily_change_percent", 6)} AS daily_change_percent,
       |  ${R("f.price_range", 6)} AS price_range,
       |  ${R("f.price_range_percent", 6)} AS price_range_percent,
       |  f.year, f.month, f.quarter, f.day_of_week, f.week_of_year,
       |  f.is_positive_day, f.is_negative_day,
       |  $volumeCategoryCase AS volume_category,
       |  ${R("f.volatility_indicator", 2)} AS volatility_indicator,
       |  $volatilityCategoryCase AS volatility_category,
       |  ${R("f.ma_5", 2)} AS ma_5, ${R("f.ma_20", 2)} AS ma_20,
       |  ${R("f.price_vs_ma5", 2)} AS price_vs_ma5,
       |  ${R("f.price_vs_ma20", 2)} AS price_vs_ma20,
       |  'graft' AS data_source
       |FROM feat2 f JOIN vq ON f.symbol = vq.symbol
       |ORDER BY f.symbol, f."date"""".stripMargin)

  /** Mirror of Sources.overviewFromPart (deterministic company dimension). */
  val overviewCte: String =
    """ov AS (
      |  SELECT CAST(p_partkey AS VARCHAR) AS symbol, p_name AS name,
      |         p_brand AS sector, p_type AS industry,
      |         CAST(p_retailprice * 1000000 AS BIGINT) AS market_cap,
      |         p_size / 2.0 AS pe_ratio
      |  FROM part)""".stripMargin

  val all: Map[String, String] = Map(
    "pipeline_features" -> pipelineFeatures,

    "w9_volume_bucket" -> withCtes(stockCte, cleanCte, dedupCte, vqCte)(
      """SELECT d.symbol, d."date", d.volume,
        |  CASE WHEN d.volume IS NULL THEN 'Unknown'
        |       WHEN d.volume <= vq.vol_q1 THEN 'Low'
        |       WHEN d.volume <= vq.vol_q2 THEN 'Medium'
        |       WHEN d.volume <= vq.vol_q3 THEN 'High'
        |       ELSE 'Very High' END AS volume_category
        |FROM dedup d JOIN vq ON d.symbol = vq.symbol
        |ORDER BY d.symbol, d."date"""".stripMargin),

    "s2_overview_join" -> withCtes(stockCte, overviewCte)(
      s"""SELECT sector,
         |  COUNT(DISTINCT s.symbol) AS n_symbols,
         |  COUNT(*) AS n_days,
         |  ${R("AVG(close)", 2)} AS avg_close,
         |  ${R("MAX(pe_ratio)", 2)} AS max_pe
         |FROM stock s JOIN ov ON s.symbol = ov.symbol
         |GROUP BY sector ORDER BY sector""".stripMargin),

    "f1_null_drop" -> withCtes(dirtyCte)(
      s"""SELECT rid, symbol, ${R("open", 6)} AS open, ${R("close", 6)} AS close
         |FROM dirty d
         |WHERE ${notNullPred("d")}
         |ORDER BY rid""".stripMargin),

    "f2_ohlc_consistency" -> withCtes(dirtyCte)(
      s"""SELECT rid, ${R("high", 6)} AS high, ${R("low", 6)} AS low, ${R("close", 6)} AS close
         |FROM dirty d
         |WHERE ${notNullPred("d")} AND $consistentPred
         |ORDER BY rid""".stripMargin),

    "f3_non_positive" -> withCtes(dirtyCte)(
      s"""SELECT rid, ${R("open", 6)} AS open, ${R("low", 6)} AS low
         |FROM dirty d
         |WHERE ${notNullPred("d")} AND $consistentPred AND $positivePred
         |ORDER BY rid""".stripMargin),

    "f4_dedup_keep_last" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", rid, ${R("close", 6)} AS close
         |FROM dedup
         |ORDER BY symbol, "date"""".stripMargin),

    "u1_union_all" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 100000
        |ORDER BY o_orderkey, o_orderstatus, o_totalprice""".stripMargin,

    "u2_distinct" -> withCtes(stockCte)(
      "SELECT DISTINCT symbol FROM stock ORDER BY symbol"),

    "o7_paginate" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", ${R("close", 6)} AS close
         |FROM dedup ORDER BY symbol, "date" LIMIT 500 OFFSET 1000""".stripMargin),

    "o8_keyset_page" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", ${R("close", 6)} AS close
         |FROM dedup
         |WHERE symbol > '500' OR (symbol = '500' AND "date" > DATE '1995-06-01')
         |ORDER BY symbol, "date" LIMIT 50""".stripMargin),

    "u4_intersect" -> withCtes(stockCte)(
      """SELECT symbol FROM stock WHERE "date" BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
        |INTERSECT
        |SELECT symbol FROM stock WHERE "date" BETWEEN DATE '1995-07-01' AND DATE '1995-12-31'
        |ORDER BY symbol""".stripMargin),

    "u5_except" -> withCtes(stockCte)(
      """SELECT symbol FROM stock WHERE "date" BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
        |EXCEPT
        |SELECT symbol FROM stock WHERE "date" BETWEEN DATE '1995-07-01' AND DATE '1995-12-31'
        |ORDER BY symbol""".stripMargin),

    "u6_except_all" -> withCtes(stockCte)(
      """SELECT symbol, CAST(COUNT(*) AS BIGINT) AS surplus FROM (
        |  SELECT symbol FROM stock WHERE "date" BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
        |  EXCEPT ALL
        |  SELECT symbol FROM stock WHERE "date" BETWEEN DATE '1995-07-01' AND DATE '1995-12-31')
        |GROUP BY symbol ORDER BY symbol""".stripMargin),

    "u7_intersect_all" -> withCtes(stockCte)(
      """SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_common FROM (
        |  SELECT symbol FROM stock WHERE "date" BETWEEN DATE '1995-01-01' AND DATE '1995-06-30'
        |  INTERSECT ALL
        |  SELECT symbol FROM stock WHERE "date" BETWEEN DATE '1995-07-01' AND DATE '1995-12-31')
        |GROUP BY symbol ORDER BY symbol""".stripMargin),

    // Attribution twin: the same half-open 7-day pre-purchase pairing on
    // the microsecond axis (epoch_us == Spark's unix_micros), equal-split
    // shares, and a NOT-EXISTS 'direct' bucket.
    "ev16_attribution" -> (
      s"""WITH p AS (
         |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us, value
         |  FROM events WHERE event_type = 'purchase'),
         |t AS (
         |  SELECT user_id, event_type AS channel, epoch_us(ts) AS t_us
         |  FROM events WHERE event_type IN ('view', 'click')),
         |j AS (
         |  SELECT p.p_id, p.value, t.channel
         |  FROM p JOIN t ON t.user_id = p.user_id
         |    AND t.t_us >= p.p_us - 604800000000
         |    AND t.t_us < p.p_us),
         |n AS (SELECT p_id, COUNT(*) AS n_touch FROM j GROUP BY 1),
         |touched AS (
         |  SELECT j.channel, CAST(COUNT(*) AS BIGINT) AS n_attributions,
         |         CAST(SUM(CAST(${R("j.value / n.n_touch", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS attributed_value
         |  FROM j JOIN n USING (p_id) GROUP BY 1),
         |direct AS (
         |  SELECT 'direct' AS channel, CAST(COUNT(*) AS BIGINT) AS n_attributions,
         |         CAST(SUM(CAST(${R("value", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS attributed_value
         |  FROM p WHERE NOT EXISTS (SELECT 1 FROM j WHERE j.p_id = p.p_id))
         |SELECT * FROM touched
         |UNION ALL SELECT * FROM direct WHERE n_attributions > 0
         |ORDER BY channel""".stripMargin),

    "w1_lag_diff" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date",
         |  ${R("close - LAG(close) OVER w", 6)} AS daily_change
         |FROM dedup WINDOW w AS (PARTITION BY symbol ORDER BY "date")
         |ORDER BY symbol, "date"""".stripMargin),

    "w2_pct_change" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date",
         |  ${R("(close / LAG(close) OVER w - 1) * 100", 6)} AS daily_change_percent
         |FROM dedup WINDOW w AS (PARTITION BY symbol ORDER BY "date")
         |ORDER BY symbol, "date"""".stripMargin),

    "w3_ma5" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date",
         |  ${R("AVG(close) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)", 2)} AS ma_5
         |FROM dedup WINDOW w AS (PARTITION BY symbol ORDER BY "date")
         |ORDER BY symbol, "date"""".stripMargin),

    "w4_ma20" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date",
         |  ${R("AVG(close) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)", 2)} AS ma_20
         |FROM dedup WINDOW w AS (PARTITION BY symbol ORDER BY "date")
         |ORDER BY symbol, "date"""".stripMargin),

    "w5_volatility" -> withCtes(stockCte, cleanCte, dedupCte,
      """dcp AS (
        |  SELECT symbol, "date",
        |    (close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1) * 100 AS dcp
        |  FROM dedup)""".stripMargin)(
      s"""SELECT symbol, "date",
         |  ${R("STDDEV_SAMP(dcp) OVER (PARTITION BY symbol ORDER BY \"date\" ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)", 2)}
         |    AS volatility_indicator
         |FROM dcp
         |ORDER BY symbol, "date"""".stripMargin),

    "a1_count" -> "SELECT COUNT(*) AS total_records FROM lineitem",

    "a2_count_distinct" ->
      "SELECT COUNT(DISTINCT l_partkey) AS unique_symbols FROM lineitem",

    "a3_minmax_date" ->
      """SELECT MIN(CAST(l_shipdate AS DATE)) AS earliest_date,
        |       MAX(CAST(l_shipdate AS DATE)) AS latest_date
        |FROM lineitem""".stripMargin,

    "a4_avg_table" -> withCtes(stockCte, cleanCte, dedupCte,
      """dcp AS (
        |  SELECT *,
        |    (close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1) * 100
        |      AS daily_change_percent
        |  FROM dedup)""".stripMargin)(
      s"""SELECT ${R("AVG(close)", 2)} AS avg_close,
         |       ${R("AVG(volume)", 2)} AS avg_volume,
         |       ${R("AVG(daily_change_percent)", 2)} AS avg_daily_change_percent
         |FROM dcp""".stripMargin),

    "a13_corr" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol,
         |  ${R("corr(close, volume)", 6)} AS corr_cv,
         |  ${R("covar_samp(close, volume)", 2)} AS covar_cv,
         |  ${R("regr_slope(close, volume)", 2)} AS slope,
         |  ${R("regr_intercept(close, volume)", 2)} AS intercept
         |FROM dedup GROUP BY symbol ORDER BY symbol""".stripMargin),

    // KMV sketch twin: the bounded aggregate's (n_kept, kth) is a pure
    // function of the distinct-hash SET, so DISTINCT + a window rank over
    // the same md5-prefix hash reproduces it exactly; the estimator is one
    // exact-int division on both engines. n_kept caps at k=64.
    "a14_kmv_distinct" -> withCtes(
      """hs AS (
        |  SELECT DISTINCT l_returnflag AS flag,
        |         CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM lineitem)""".stripMargin,
      """rk AS (
        |  SELECT flag, h,
        |         ROW_NUMBER() OVER (PARTITION BY flag ORDER BY h) AS rn,
        |         COUNT(*) OVER (PARTITION BY flag) AS nd
        |  FROM hs)""".stripMargin,
      """sk AS (
        |  SELECT flag, CAST(LEAST(nd, 64) AS INTEGER) AS n_kept,
        |         MAX(h) FILTER (WHERE rn <= 64) AS kth
        |  FROM rk GROUP BY flag, nd)""".stripMargin,
      """ex AS (
        |  SELECT l_returnflag AS flag, COUNT(DISTINCT l_partkey) AS exact_distinct
        |  FROM lineitem GROUP BY 1)""".stripMargin)(
      s"""SELECT sk.flag, n_kept, kth AS kth_hash,
         |  ${R("CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE) ELSE 63.0 * 4294967296.0 / kth END", 6)} AS est_distinct,
         |  CAST(exact_distinct AS BIGINT) AS exact_distinct
         |FROM sk JOIN ex ON sk.flag = ex.flag ORDER BY sk.flag""".stripMargin),

    // Histogram-quantile twin: bin width (hi-lo)/128 and ranks ceil(q*n)
    // are exact dyadic arithmetic in both engines; the interpolation
    // evaluates the same IEEE ops in the same order. DuckDB's SUM window
    // widens to HUGEINT and CEIL to DOUBLE — both exact at these
    // magnitudes, so the mixed-type arithmetic equals Spark's pure-long
    // form bit-for-bit.
    "a15_binned_quantiles" -> {
      // cumPrev < r <= cum picks exactly one bin, mirroring the Spark side
      def estQ(q: String, name: String): String =
        R(s"MIN(CASE WHEN cum >= CEIL($q * n) AND cum - cnt < CEIL($q * n) " +
          s"THEN lo + (hi - lo) / 128 * " +
          s"(bin + CAST(CEIL($q * n) - cum + cnt AS DOUBLE) / cnt) END)", 6) +
          s" AS $name"
      withCtes(stockCte, cleanCte, dedupCte,
        """v AS (SELECT symbol, close AS val FROM dedup WHERE close IS NOT NULL)""",
        """mm AS (SELECT symbol, MIN(val) AS lo, MAX(val) AS hi, COUNT(*) AS n
          |  FROM v GROUP BY 1)""".stripMargin,
        """b AS (
          |  SELECT v.symbol,
          |         CASE WHEN hi = lo THEN 0
          |              ELSE CAST(LEAST(127, FLOOR((val - lo) / ((hi - lo) / 128))) AS INTEGER) END AS bin
          |  FROM v JOIN mm USING (symbol))""".stripMargin,
        """c AS (SELECT symbol, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2)""",
        """u AS (
          |  SELECT c.symbol, bin, cnt,
          |         SUM(cnt) OVER (PARTITION BY c.symbol ORDER BY bin) AS cum,
          |         lo, hi, n
          |  FROM c JOIN mm ON c.symbol = mm.symbol)""".stripMargin)(
        s"""SELECT symbol, CAST(n AS BIGINT) AS n,
           |  ${estQ("0.25", "est_q25")},
           |  ${estQ("0.5", "est_q50")},
           |  ${estQ("0.75", "est_q75")}
           |FROM u GROUP BY symbol, n ORDER BY symbol""".stripMargin)
    },

    "a5_quantiles" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol,
         |  ${R("quantile_cont(volume, 0.25)", 6)} AS vol_q1,
         |  ${R("quantile_cont(volume, 0.50)", 6)} AS vol_q2,
         |  ${R("quantile_cont(volume, 0.75)", 6)} AS vol_q3
         |FROM dedup GROUP BY symbol ORDER BY symbol""".stripMargin),

    "a7_stddev" -> withCtes(stockCte, cleanCte, dedupCte,
      """dcp AS (
        |  SELECT symbol,
        |    (close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1) * 100 AS dcp
        |  FROM dedup)""".stripMargin)(
      s"""SELECT symbol, ${R("STDDEV_SAMP(dcp)", 2)} AS stddev_dcp
         |FROM dcp GROUP BY symbol ORDER BY symbol""".stripMargin)
  ) ++ analyticsSql ++ scalarSql ++ joinSql ++ extSql ++ smallOpsSql ++
    recallSql

  /** The brute-force truth and three approximate-tier statements,
    * parameterized by (top-k retrieval depth, query-batch cap): the
    * registered sim1/sim2/sim6/sim3 queries run their production defaults
    * (k=5 truth, k=3 tiers, uncapped corpus-growing query sample), while
    * the recall reports re-run them at matched depth — sim20 at k=5
    * uncapped (a recall@5 against k=3 retrieval would cap at 0.6 under
    * perfect recall, round-12 ADVICE), sim22 at k=5 with the FIXED
    * vec_id < 2000 batch (the sim17/e4 production shape). Only the final
    * rank bound and the query-set predicate vary; every other CTE is
    * shared verbatim across depths and caps. */
  private def capSql(cap: Long, qual: String = ""): String =
    if (cap == Long.MaxValue) "" else s" AND ${qual}vec_id < $cap"

  private def sim1BruteSqlAtCap(cap: Long): String = withCtes(
    embUnnestCte(""), normCte,
    s"""qd AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
       |  FROM u q JOIN u c ON q.i = c.i AND q.vec_id % 100 = 0${capSql(cap, "q.")} AND c.vec_id <> q.vec_id
       |  GROUP BY 1, 2)""".stripMargin,
    s"""sc AS (
       |  SELECT query_id, qd.vec_id,
       |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
       |  FROM qd JOIN nrm nq ON nq.vec_id = query_id
       |           JOIN nrm nc ON nc.vec_id = qd.vec_id)""".stripMargin)(
    """SELECT query_id, rank, vec_id, cosine FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM sc)
      |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)

  private def sim2LshSqlAtK(k: Int, cap: Long = Long.MaxValue): String = withCtes(
    embUnnestCte(""), normCte,
    """pl AS (
      |  SELECT p, d,
      |    (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
      |     % 2001 - 1000) / 1000.0 AS w
      |  FROM range(0, 8) t1(p), range(1, 65) t2(d))""".stripMargin,
    """pd AS (
      |  SELECT u.vec_id, pl.p, SUM(CAST(u.v AS DOUBLE) * pl.w) AS pdot
      |  FROM u JOIN pl ON pl.d = u.i GROUP BY 1, 2)""".stripMargin,
    """bu AS (
      |  SELECT vec_id,
      |         CAST(SUM(CASE WHEN pdot > 0 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM pd GROUP BY 1)""".stripMargin,
    s"qs AS (SELECT vec_id AS query_id, bucket FROM bu WHERE vec_id % 100 = 0${capSql(cap)})",
    """cand AS (
      |  SELECT qs.query_id, bu.vec_id, qs.bucket
      |  FROM qs JOIN bu ON bu.bucket = qs.bucket AND bu.vec_id <> qs.query_id)""".stripMargin,
    """cd AS (
      |  SELECT c.query_id, c.vec_id, c.bucket,
      |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
      |  FROM cand c JOIN u a ON a.vec_id = c.query_id
      |              JOIN u b ON b.vec_id = c.vec_id AND b.i = a.i
      |  GROUP BY 1, 2, 3)""".stripMargin,
    s"""sc AS (
       |  SELECT query_id, cd.vec_id, bucket,
       |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
       |  FROM cd JOIN nrm nq ON nq.vec_id = query_id
       |           JOIN nrm nc ON nc.vec_id = cd.vec_id)""".stripMargin)(
    s"""SELECT query_id, rank, vec_id, bucket, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin)

  private def sim6MultiProbeSqlAtK(k: Int, cap: Long = Long.MaxValue): String = withCtes(
    embUnnestCte(""), normCte,
    """pl AS (
      |  SELECT p, d,
      |    (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
      |     % 2001 - 1000) / 1000.0 AS w
      |  FROM range(0, 8) t1(p), range(1, 65) t2(d))""".stripMargin,
    """pd AS (
      |  SELECT u.vec_id, pl.p, SUM(CAST(u.v AS DOUBLE) * pl.w) AS pdot
      |  FROM u JOIN pl ON pl.d = u.i GROUP BY 1, 2)""".stripMargin,
    """bu AS (
      |  SELECT vec_id,
      |         CAST(SUM(CASE WHEN pdot > 0 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
      |  FROM pd GROUP BY 1)""".stripMargin,
    s"""qf AS (
       |  SELECT vec_id, p FROM (
       |    SELECT vec_id, p,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY ${R("ABS(pdot)", 6)}, p) AS rnk
       |    FROM pd WHERE vec_id % 100 = 0${capSql(cap)})
       |  WHERE rnk <= 2)""".stripMargin,
    s"""qs AS (
       |  SELECT vec_id AS query_id, bucket FROM bu WHERE vec_id % 100 = 0${capSql(cap)}
       |  UNION ALL
       |  SELECT f.vec_id AS query_id,
       |         xor(b.bucket, CAST(POWER(2, f.p) AS BIGINT)) AS bucket
       |  FROM qf f JOIN bu b ON b.vec_id = f.vec_id)""".stripMargin,
    """cand AS (
      |  SELECT qs.query_id, bu.vec_id, qs.bucket
      |  FROM qs JOIN bu ON bu.bucket = qs.bucket AND bu.vec_id <> qs.query_id)""".stripMargin,
    """cd AS (
      |  SELECT c.query_id, c.vec_id, c.bucket,
      |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
      |  FROM cand c JOIN u a ON a.vec_id = c.query_id
      |              JOIN u b ON b.vec_id = c.vec_id AND b.i = a.i
      |  GROUP BY 1, 2, 3)""".stripMargin,
    s"""sc AS (
       |  SELECT query_id, cd.vec_id, bucket,
       |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
       |  FROM cd JOIN nrm nq ON nq.vec_id = query_id
       |           JOIN nrm nc ON nc.vec_id = cd.vec_id)""".stripMargin)(
    s"""SELECT query_id, rank, vec_id, bucket, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin)

  private def sim3IvfSqlAtK(k: Int, cap: Long = Long.MaxValue): String = withCtes(
    embUnnestCte(""), normCte,
    """an AS (
      |  SELECT c, d,
      |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
      |     % 2001 - 1000) / 1000.0 AS w
      |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
    "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
    """sc0 AS (
      |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
      |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
    """scr AS (
      |  SELECT vec_id, c, adot / anorm AS score,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
      |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
    "assigned AS (SELECT vec_id, c AS list_id FROM scr WHERE rnk = 1)",
    s"""probes AS (
       |  SELECT vec_id AS query_id, c AS list_id FROM scr
       |  WHERE vec_id % 100 = 0${capSql(cap)} AND rnk <= 2)""".stripMargin,
    """cand AS (
      |  SELECT p.query_id, a.vec_id, a.list_id
      |  FROM probes p JOIN assigned a ON a.list_id = p.list_id AND a.vec_id <> p.query_id)""".stripMargin,
    """cd AS (
      |  SELECT c.query_id, c.vec_id, c.list_id,
      |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
      |  FROM cand c JOIN u a ON a.vec_id = c.query_id
      |              JOIN u b ON b.vec_id = c.vec_id AND b.i = a.i
      |  GROUP BY 1, 2, 3)""".stripMargin,
    s"""sc AS (
       |  SELECT query_id, cd.vec_id, list_id,
       |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
       |  FROM cd JOIN nrm nq ON nq.vec_id = query_id
       |           JOIN nrm nc ON nc.vec_id = cd.vec_id)""".stripMargin)(
    s"""SELECT query_id, rank, vec_id, list_id, cosine FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
       |  FROM sc)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin)

  /** sim20's oracle composes the already-verified sim1 statement and the
    * three tier statements above AT k=5 (matching the Spark side's k=5
    * retrieval against top-5 truth) — the recall report is pure membership
    * over their exact outputs, so this entry inherits their cross-engine
    * contracts wholesale (the k=5 bodies differ from the gated k=3 ones
    * only in the final rank bound). */
  private def recallReportSql(cap: Long): String = {
    def sub(sql: String) = s"SELECT query_id, vec_id FROM ($sql)"
    s"""WITH truth AS (${sub(sim1BruteSqlAtCap(cap))}),
       |l2 AS (${sub(sim2LshSqlAtK(5, cap))}),
       |l6 AS (${sub(sim6MultiProbeSqlAtK(5, cap))}),
       |l3 AS (${sub(sim3IvfSqlAtK(5, cap))}),
       |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
       |h AS (
       |  SELECT 'lsh' AS method, COUNT(*) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM l2 a
       |                WHERE a.query_id = t.query_id AND a.vec_id = t.vec_id)
       |  UNION ALL
       |  SELECT 'lsh_multiprobe', COUNT(*) FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM l6 a
       |                WHERE a.query_id = t.query_id AND a.vec_id = t.vec_id)
       |  UNION ALL
       |  SELECT 'ivf', COUNT(*) FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM l3 a
       |                WHERE a.query_id = t.query_id AND a.vec_id = t.vec_id))
       |SELECT method, CAST(hits AS BIGINT) AS hits,
       |  CAST(n_truth AS BIGINT) AS n_truth,
       |  ${R("CAST(hits AS DOUBLE) / n_truth", 6)} AS recall_at_5
       |FROM h CROSS JOIN nt ORDER BY method""".stripMargin
  }

  // ---- sim21: the PQ codebook-configuration scorecard -------------------
  //
  // Each candidate configuration is a FULL self-contained statement (the
  // sim20 composition pattern); the selector is pure membership + a
  // 3-row winner window over their outputs. The learned/residual
  // candidates embed the engine's 3-iteration Lloyd's k-means as unrolled
  // CTEs — argmin on the tie-safe-rounded subspace distance with centroid
  // tiebreak, centroid means ROUND(..., 9), empty cells keep the previous
  // centroid — exactly graft.ext.Similarity.lloyd's discipline.

  /** One Lloyd's iteration chain over population CTE `pop` (columns
    * vec_id, s, d, v), seeded from codebook CTE `seed`; returns the CTEs
    * and the final codebook CTE name. */
  private def lloydCtes(pop: String, seed: String, prefix: String,
                        iters: Int = 3): (Seq[String], String) = {
    val ctes = (1 to iters).flatMap { i =>
      val prev = if (i == 1) seed else s"${prefix}cb${i - 1}"
      Seq(
        s"""${prefix}a${i}0 AS (
           |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
           |  FROM $pop e JOIN $prev cb ON cb.s = e.s AND cb.d = e.d
           |  GROUP BY 1, 2, 3)""".stripMargin,
        s"""${prefix}a$i AS (
           |  SELECT vec_id, s, c FROM (
           |    SELECT *, ROW_NUMBER() OVER (
           |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
           |    FROM ${prefix}a${i}0) WHERE rn = 1)""".stripMargin,
        s"""${prefix}u$i AS (
           |  SELECT a.s, a.c, e.d, ROUND(AVG(e.v), 9) AS w
           |  FROM $pop e JOIN ${prefix}a$i a ON a.vec_id = e.vec_id AND a.s = e.s
           |  GROUP BY 1, 2, 3)""".stripMargin,
        s"""${prefix}cb$i AS (
           |  SELECT p.s, p.c, p.d, COALESCE(n.w, p.w) AS w
           |  FROM $prev p LEFT JOIN ${prefix}u$i n
           |    ON n.s = p.s AND n.c = p.c AND n.d = p.d)""".stripMargin)
    }
    (ctes, s"${prefix}cb$iters")
  }

  private lazy val fixedCbCte: String =
    """cb0 AS (
      |  SELECT s, c, d,
      |    (CAST(('0x' || substr(md5('pq_' || CAST(s AS VARCHAR) || '_' || CAST(c AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
      |     % 2001 - 1000) / 1000.0 AS w
      |  FROM range(0, 8) t1(s), range(0, 16) t2(c), range(1, 9) t3(d))""".stripMargin

  /** The IVF coarse-routing CTEs shared by every sim21 candidate (sim18's
    * an/anorm/sc0/scr/assigned/probes, query batch fixed below 2000). */
  private lazy val ivfRoutingCtes: Seq[String] = Seq(
    """an AS (
      |  SELECT c, d,
      |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
      |     % 2001 - 1000) / 1000.0 AS w
      |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
    "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
    """sc0 AS (
      |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
      |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
    """scr AS (
      |  SELECT vec_id, c,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
      |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
    "assigned AS (SELECT vec_id, c AS list_id FROM scr WHERE rnk = 1)",
    """probes AS (
      |  SELECT vec_id AS query_id, c AS list_id FROM scr
      |  WHERE vec_id % 100 = 0 AND vec_id < 2000 AND rnk <= 2)""".stripMargin)

  /** IVF-PQ + exact-rerank top-5 over the fixed query batch with the
    * LEARNED codebook (3 Lloyd iterations over the raw subvectors, seeded
    * from the fixed md5 codebook) — sim18's chain with cb -> the trained
    * codebook. Emits (query_id, vec_id) only. */
  private def sim21LearnedSql: String = {
    val (lloyd, cbName) = lloydCtes("el", "cb0", "l")
    withCtes(
      (Seq(embUnnestCte(""), normCte) ++ ivfRoutingCtes ++ Seq(
        "el AS (SELECT vec_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, CAST(v AS DOUBLE) AS v FROM u)",
        fixedCbCte) ++ lloyd ++ Seq(
        s"""enc0 AS (
           |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
           |  FROM el e JOIN $cbName cb ON cb.s = e.s AND cb.d = e.d
           |  GROUP BY 1, 2, 3)""".stripMargin,
        s"""enc AS (
           |  SELECT vec_id, s, c AS code FROM (
           |    SELECT *, ROW_NUMBER() OVER (
           |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
           |    FROM enc0) WHERE rn = 1)""".stripMargin,
        s"""adc AS (
           |  SELECT q.vec_id AS query_id, q.s, cb.c, SUM((q.v - cb.w) * (q.v - cb.w)) AS qd
           |  FROM el q JOIN $cbName cb ON cb.s = q.s AND cb.d = q.d
           |  WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000
           |  GROUP BY 1, 2, 3)""".stripMargin,
        s"""dd AS (
           |  SELECT p.query_id, e.vec_id, ${R("SUM(a.qd)", 6)} AS adc_dist2
           |  FROM probes p
           |  JOIN assigned a2 ON a2.list_id = p.list_id AND a2.vec_id <> p.query_id
           |  JOIN enc e ON e.vec_id = a2.vec_id
           |  JOIN adc a ON a.query_id = p.query_id AND a.s = e.s AND a.c = e.code
           |  GROUP BY 1, 2)""".stripMargin,
        """sl AS (
          |  SELECT query_id, vec_id, adc_dist2 FROM (
          |    SELECT *, ROW_NUMBER() OVER (
          |        PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rn
          |    FROM dd) WHERE rn <= 50)""".stripMargin,
        """dpp AS (
          |  SELECT s.query_id, s.vec_id,
          |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
          |  FROM sl s JOIN u q ON q.vec_id = s.query_id
          |            JOIN u c ON c.vec_id = s.vec_id AND c.i = q.i
          |  GROUP BY 1, 2)""".stripMargin,
        s"""scf AS (
           |  SELECT query_id, dpp.vec_id,
           |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
           |  FROM dpp JOIN nrm nq ON nq.vec_id = query_id
           |           JOIN nrm nc ON nc.vec_id = dpp.vec_id)""".stripMargin)): _*)(
      """SELECT query_id, vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scf)
        |WHERE rank <= 5""".stripMargin)
  }

  /** Residual IVFADC + exact-rerank top-5 over the fixed query batch (the
    * FAISS IVFADC form): residual population v - anchor, learned residual
    * codebook (3 Lloyd iterations, fixed seed), per-(query, probed list)
    * residual ADC tables. Emits (query_id, vec_id) only. */
  private def sim21ResidualSql: String = {
    val (lloyd, cbName) = lloydCtes("rel", "cb0", "r")
    withCtes(
      (Seq(embUnnestCte(""), normCte) ++ ivfRoutingCtes ++ Seq(
        """rel0 AS (
          |  SELECT u.vec_id, a.list_id, u.i, CAST(u.v AS DOUBLE) - an.w AS v
          |  FROM u JOIN assigned a ON a.vec_id = u.vec_id
          |         JOIN an ON an.c = a.list_id AND an.d = u.i)""".stripMargin,
        "rel AS (SELECT vec_id, list_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, v FROM rel0)",
        fixedCbCte) ++ lloyd ++ Seq(
        s"""renc0 AS (
           |  SELECT e.vec_id, e.list_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
           |  FROM rel e JOIN $cbName cb ON cb.s = e.s AND cb.d = e.d
           |  GROUP BY 1, 2, 3, 4)""".stripMargin,
        s"""renc AS (
           |  SELECT vec_id, list_id, s, c AS code FROM (
           |    SELECT *, ROW_NUMBER() OVER (
           |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
           |    FROM renc0) WHERE rn = 1)""".stripMargin,
        """qres AS (
          |  SELECT u.vec_id AS query_id, p.list_id,
          |         (u.i - 1) // 8 AS s, (u.i - 1) % 8 + 1 AS d,
          |         CAST(u.v AS DOUBLE) - an.w AS v
          |  FROM u JOIN probes p ON p.query_id = u.vec_id
          |         JOIN an ON an.c = p.list_id AND an.d = u.i)""".stripMargin,
        s"""radc AS (
           |  SELECT q.query_id, q.list_id, q.s, cb.c,
           |         SUM((q.v - cb.w) * (q.v - cb.w)) AS qd
           |  FROM qres q JOIN $cbName cb ON cb.s = q.s AND cb.d = q.d
           |  GROUP BY 1, 2, 3, 4)""".stripMargin,
        s"""rdd AS (
           |  SELECT p.query_id, e.vec_id, ${R("SUM(a.qd)", 6)} AS adc_dist2
           |  FROM probes p
           |  JOIN renc e ON e.list_id = p.list_id AND e.vec_id <> p.query_id
           |  JOIN radc a ON a.query_id = p.query_id AND a.list_id = p.list_id
           |             AND a.s = e.s AND a.c = e.code
           |  GROUP BY 1, 2)""".stripMargin,
        """rsl AS (
          |  SELECT query_id, vec_id, adc_dist2 FROM (
          |    SELECT *, ROW_NUMBER() OVER (
          |        PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rn
          |    FROM rdd) WHERE rn <= 50)""".stripMargin,
        """rdpp AS (
          |  SELECT s.query_id, s.vec_id,
          |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
          |  FROM rsl s JOIN u q ON q.vec_id = s.query_id
          |             JOIN u c ON c.vec_id = s.vec_id AND c.i = q.i
          |  GROUP BY 1, 2)""".stripMargin,
        s"""rscf AS (
           |  SELECT query_id, rdpp.vec_id,
           |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
           |  FROM rdpp JOIN nrm nq ON nq.vec_id = query_id
           |            JOIN nrm nc ON nc.vec_id = rdpp.vec_id)""".stripMargin)): _*)(
      """SELECT query_id, vec_id FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM rscf)
        |WHERE rank <= 5""".stripMargin)
  }

  /** The selector report: membership of each candidate's top-5 in the
    * brute-force truth at the same fixed batch; winner = best recall with
    * ties toward the CHEAPER config (build-cost order fixed < learned <
    * residual), and no winner without a measured recall. The OPQ candidate appears as the documented-exclusion
    * literal row — its rotation training is a driver-side
    * eigendecomposition no SQL engine can express, so its `gate` names
    * the ScalaTest suite that measures it (see the Spark-side scaladoc). */
  private def sim21SelectorSql: String = {
    def sub(sql: String) = s"SELECT query_id, vec_id FROM ($sql)"
    s"""WITH truth AS (${sub(sim1BruteSqlAtCap(2000L))}),
       |ffull AS (${sub(extSql("sim18_ivfpq_rerank_batch"))}),
       |lfull AS (${sub(sim21LearnedSql)}),
       |rfull AS (${sub(sim21ResidualSql)}),
       |nt AS (SELECT COUNT(*) AS n_truth FROM truth),
       |h AS (
       |  SELECT 'fixed' AS config, 0 AS build_cost, COUNT(*) AS hits FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM ffull a
       |                WHERE a.query_id = t.query_id AND a.vec_id = t.vec_id)
       |  UNION ALL
       |  SELECT 'learned', 1, COUNT(*) FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM lfull a
       |                WHERE a.query_id = t.query_id AND a.vec_id = t.vec_id)
       |  UNION ALL
       |  SELECT 'residual', 2, COUNT(*) FROM truth t
       |  WHERE EXISTS (SELECT 1 FROM rfull a
       |                WHERE a.query_id = t.query_id AND a.vec_id = t.vec_id)),
       |rep AS (
       |  SELECT config, CAST(build_cost AS INTEGER) AS build_cost,
       |    CAST(hits AS BIGINT) AS hits, CAST(n_truth AS BIGINT) AS n_truth,
       |    ${R("CAST(hits AS DOUBLE) / n_truth", 6)} AS recall_at_5
       |  FROM h CROSS JOIN nt)
       |SELECT config, build_cost, hits, n_truth, recall_at_5,
       |  (ROW_NUMBER() OVER (ORDER BY recall_at_5 DESC, build_cost) = 1
       |    AND recall_at_5 IS NOT NULL) AS is_winner,
       |  'oracle' AS gate
       |FROM rep
       |UNION ALL
       |SELECT 'opq', CAST(3 AS INTEGER), CAST(NULL AS BIGINT),
       |  CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), FALSE,
       |  'ExtSpec: opq rotation trains driver-side (eigendecomposition), no SQL oracle'
       |ORDER BY config""".stripMargin
  }

  /** sim23's oracle: the k-NN-graph build (sim2's LSH buckets -> capped
    * co-occupant seed pairs -> top-8 by exact cosine -> one NN-descent
    * neighbors-of-neighbors refinement) and the 3-hop beam-10 greedy from
    * each query's own node, every ranking on the tie-safe-rounded cosine
    * with dst/vec_id tiebreak — the graft.ext.Similarity.knnGraph /
    * graphAnnTopK contract. UNION (distinct) mirrors the engine's
    * .distinct() beam merges; hop CTEs unroll like the sim21 k-means. */
  private def sim23GraphAnnSql(hops: Int = 3, m: Int = 8, beam: Int = 10,
                               k: Int = 5): String = {
    // Pair scoring via list_dot_product over DOUBLE[] (index-order double
    // accumulation, same contract as the engine's fused cosine loop; the
    // tie-safe round-6 absorbs residual ulps as everywhere). The
    // unnest-join SUM formulation the other sim oracles use held ~70 M
    // intermediate rows for this statement's 1M+ seed pairs and OOM'd
    // DuckDB at the synthesized sf1.0 — per-pair vector access is the
    // memory-bounded spelling of the same dot product.
    def pairScore(pairs: String, a: String, b: String,
                  dName: String, sName: String): Seq[String] = Seq(
      s"""$sName AS (
         |  SELECT p.$a, p.$b,
         |         ${R("list_dot_product(ea.emb, eb.emb) / (na.nv * nb.nv)", 6)} AS cosine
         |  FROM $pairs p JOIN edv ea ON ea.vec_id = p.$a
         |                JOIN edv eb ON eb.vec_id = p.$b
         |                JOIN nrm na ON na.vec_id = p.$a
         |                JOIN nrm nb ON nb.vec_id = p.$b)""".stripMargin)
    def topM(src: String, name: String): String =
      s"""$name AS (
         |  SELECT src, dst, cosine FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY src ORDER BY cosine DESC, dst) AS rn
         |    FROM $src) WHERE rn <= $m)""".stripMargin
    val hopCtes = (1 to hops).flatMap { i =>
      val prev = s"b${i - 1}"
      Seq(
        s"""e$i AS (
           |  SELECT DISTINCT b.query_id, g.dst AS vec_id
           |  FROM $prev b JOIN g ON g.src = b.vec_id
           |  WHERE g.dst <> b.query_id)""".stripMargin) ++
        pairScore(s"e$i", "query_id", "vec_id", s"ed$i", s"es$i") ++ Seq(
        s"""b$i AS (
           |  SELECT query_id, vec_id, cosine FROM (
           |    SELECT *, ROW_NUMBER() OVER (
           |        PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
           |    FROM (SELECT * FROM $prev UNION SELECT * FROM es$i))
           |  WHERE rn <= $beam)""".stripMargin)
    }
    withCtes(
      (Seq(embUnnestCte(""), normCte,
        "edv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)",
        """pl AS (
          |  SELECT p, d,
          |    (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
          |     % 2001 - 1000) / 1000.0 AS w
          |  FROM range(0, 8) t1(p), range(1, 65) t2(d))""".stripMargin,
        """pd AS (
          |  SELECT u.vec_id, pl.p, SUM(CAST(u.v AS DOUBLE) * pl.w) AS pdot
          |  FROM u JOIN pl ON pl.d = u.i GROUP BY 1, 2)""".stripMargin,
        """bu AS (
          |  SELECT vec_id,
          |         CAST(SUM(CASE WHEN pdot > 0 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
          |  FROM pd GROUP BY 1)""".stripMargin,
        """cap AS (
          |  SELECT vec_id, bucket FROM (
          |    SELECT vec_id, bucket, ROW_NUMBER() OVER (
          |        PARTITION BY bucket ORDER BY vec_id) AS rn
          |    FROM bu) WHERE rn <= 64)""".stripMargin) ++
      ivfRoutingCtes ++ Seq(
        """lcap AS (
          |  SELECT vec_id, list_id FROM (
          |    SELECT vec_id, list_id, ROW_NUMBER() OVER (
          |        PARTITION BY list_id ORDER BY vec_id) AS rn
          |    FROM assigned) WHERE rn <= 64)""".stripMargin,
        """sp AS (
          |  SELECT a.vec_id AS src, b.vec_id AS dst
          |  FROM cap a JOIN cap b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
          |  UNION
          |  SELECT a.vec_id, b.vec_id
          |  FROM lcap a JOIN lcap b ON a.list_id = b.list_id AND a.vec_id <> b.vec_id)""".stripMargin) ++
        pairScore("sp", "src", "dst", "spd", "sps") ++ Seq(
        topM("sps", "g0"),
        """th AS (
          |  SELECT DISTINCT a.src, b.dst
          |  FROM g0 a JOIN g0 b ON b.src = a.dst WHERE a.src <> b.dst)""".stripMargin,
        "gc AS (SELECT src, dst FROM g0 UNION SELECT src, dst FROM th)") ++
        pairScore("gc", "src", "dst", "gcd", "gcs") ++ Seq(
        topM("gcs", "g"),
        s"""b0 AS (
           |  SELECT src AS query_id, dst AS vec_id, cosine FROM (
           |    SELECT *, ROW_NUMBER() OVER (
           |        PARTITION BY src ORDER BY cosine DESC, dst) AS rn
           |    FROM g WHERE src % 100 = 0) WHERE rn <= $beam)""".stripMargin) ++
        hopCtes): _*)(
      s"""SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
         |  FROM b$hops)
         |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin)
  }

  private lazy val recallSql: Map[String, String] = Map(
    "sim20_recall" -> recallReportSql(Long.MaxValue),
    "sim22_recall_batch" -> recallReportSql(2000L),
    "sim21_codebook_selector" -> sim21SelectorSql,
    "sim23_graph_ann" -> sim23GraphAnnSql(),
    // the incremental-ingest gate IS batch equivalence: sim24's oracle is
    // deliberately the same batch build+search unroll — a green row proves
    // the three-fold ingest reproduces the batch index bit-exactly
    "sim24_incremental_ann" -> sim23GraphAnnSql())

  // ===== projections, small filters, remaining scalars/sorts ===============

  private lazy val smallOpsSql: Map[String, String] = Map(
    "p1_rename" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${R("l_extendedprice", 6)} AS open, ${R("l_quantity", 6)} AS volume
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "p2_cast" ->
      """SELECT p_partkey,
        |  TRY_CAST(p_brand AS DOUBLE) AS brand_as_double,
        |  TRY_CAST(CAST(p_size AS VARCHAR) AS DOUBLE) AS size_as_double
        |FROM part ORDER BY p_partkey""".stripMargin,

    "p3_literals" ->
      """SELECT o_orderkey,
        |  'Alpha Vantage' AS data_source,
        |  1 AS schema_version,
        |  '2026-01-01 00:00:00' AS extracted_at
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "p4_reorder" ->
      """SELECT c_mktsegment, c_custkey, c_name, c_nationkey, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "f5_isin" -> withCtes(stockCte)(
      s"""SELECT rid, symbol, ${R("close", 6)} AS close
         |FROM stock WHERE symbol IN ('1', '10', '100', '42', '7')
         |ORDER BY rid""".stripMargin),

    "f6_date_range" -> withCtes(stockCte)(
      s"""SELECT rid, "date", ${R("close", 6)} AS close
         |FROM stock
         |WHERE "date" BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
         |ORDER BY rid""".stripMargin),

    "f7_symbol_eq" -> withCtes(stockCte)(
      s"""SELECT rid, symbol, ${R("close", 6)} AS close
         |FROM stock WHERE symbol = '42' ORDER BY rid""".stripMargin),

    "f8_null_envelope" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 10 = 3 THEN NULL ELSE o_orderstatus END AS payload
        |FROM orders
        |WHERE CASE WHEN o_orderkey % 10 = 3 THEN NULL ELSE o_orderstatus END IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "x1_arithmetic" -> withCtes(stockCte)(
      s"""SELECT rid,
         |  ${R("high - low", 6)} AS price_range,
         |  ${R("(high - low) / close * 100", 6)} AS price_range_percent,
         |  ${R("(close - open) / open * 100", 6)} AS intraday_percent
         |FROM stock ORDER BY rid""".stripMargin),

    "x4_updown_flags" -> withCtes(stockCte, cleanCte, dedupCte)(
      """SELECT symbol, "date",
        |  COALESCE(close - LAG(close) OVER w > 0, FALSE) AS is_positive_day,
        |  COALESCE(close - LAG(close) OVER w < 0, FALSE) AS is_negative_day
        |FROM dedup WINDOW w AS (PARTITION BY symbol ORDER BY "date")
        |ORDER BY symbol, "date"""".stripMargin),

    "x5_vol_category" -> withCtes(stockCte,
      """vp AS (
        |  SELECT rid,
        |    CASE WHEN rid % 11 = 0 THEN NULL ELSE (high - low) / close * 10 END AS vol_pct
        |  FROM stock)""".stripMargin)(
      """SELECT rid,
        |  CASE WHEN vol_pct IS NULL THEN 'Unknown'
        |       WHEN vol_pct < 1.0 THEN 'Very Low'
        |       WHEN vol_pct < 2.0 THEN 'Low'
        |       WHEN vol_pct < 3.5 THEN 'Medium'
        |       WHEN vol_pct < 5.0 THEN 'High'
        |       ELSE 'Very High' END AS volatility_category
        |FROM vp ORDER BY rid""".stripMargin),

    "a8_window_mean" -> withCtes(stockCte, cleanCte, dedupCte,
      """dcp AS (
        |  SELECT symbol, "date",
        |    (close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1) * 100 AS dcp
        |  FROM dedup)""".stripMargin)(
      s"""SELECT symbol, "date",
         |  ${R("AVG(dcp) OVER (PARTITION BY symbol ORDER BY \"date\" ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)", 2)}
         |    AS recent_avg_change
         |FROM dcp ORDER BY symbol, "date"""".stripMargin),

    "w7_latest_row" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", ${R("close", 6)} AS close FROM (
         |  SELECT symbol, "date", close,
         |         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY "date" DESC) AS rn
         |  FROM dedup)
         |WHERE rn = 1 ORDER BY symbol""".stripMargin),

    "w8_trailing_k" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", CAST(rn AS INTEGER) AS rn, ${R("close", 6)} AS close FROM (
         |  SELECT symbol, "date", close,
         |         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY "date" DESC) AS rn
         |  FROM dedup)
         |WHERE rn <= 5 ORDER BY symbol, "date"""".stripMargin),

    "w10_drawdown" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", ${R("close", 6)} AS close,
         |       ${R("cummax", 6)} AS cummax,
         |       ${R("close / cummax - 1", 6)} AS drawdown
         |FROM (
         |  SELECT symbol, "date", close,
         |         MAX(close) OVER (PARTITION BY symbol ORDER BY "date"
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cummax
         |  FROM dedup)
         |ORDER BY symbol, "date"""".stripMargin),

    // engine-agnostic UNION ALL rendering of the melt (DuckDB's UNPIVOT
    // keyword would work too; the union form is self-evidently the same
    // relation as Spark's unpivot)
    "u3_unpivot" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", 'open' AS field, ${R("open", 6)} AS value FROM dedup
         |UNION ALL SELECT symbol, "date", 'high', ${R("high", 6)} FROM dedup
         |UNION ALL SELECT symbol, "date", 'low', ${R("low", 6)} FROM dedup
         |UNION ALL SELECT symbol, "date", 'close', ${R("close", 6)} FROM dedup
         |ORDER BY symbol, "date", field""".stripMargin),

    "o1_sort_date" -> withCtes(stockCte)(
      s"""SELECT "date", rid, ${R("close", 6)} AS close
         |FROM stock ORDER BY "date", rid LIMIT 500""".stripMargin),

    "o2_composite_sort" -> withCtes(stockCte)(
      s"""SELECT symbol, "date", rid, ${R("close", 6)} AS close
         |FROM stock ORDER BY symbol, "date", rid LIMIT 500""".stripMargin),

    "o5_sort_measure_desc" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin
  )

  // ===== analytics / limits / quality =====================================

  private lazy val feat1Ctes = Seq(stockCte, cleanCte, dedupCte, feat1Cte)
  private lazy val feat2Ctes = feat1Ctes :+ feat2Cte

  /** Per-symbol performance aggregate (rounded; mirrored by
    * Performance.performanceTable + Queries.rounded). */
  private lazy val perfCte: String =
    s"""perf AS (
       |  SELECT symbol,
       |    ${R("arg_max(close, \"date\")", 2)} AS latest_close,
       |    ${R("arg_min(close, \"date\")", 2)} AS first_close,
       |    ${R("MIN(close)", 2)} AS min_close,
       |    ${R("MAX(close)", 2)} AS max_close,
       |    ${R("AVG(close)", 2)} AS avg_close,
       |    ${R("AVG(daily_change_percent)", 2)} AS avg_daily_change_percent,
       |    CAST(SUM(volume) AS BIGINT) AS total_volume,
       |    ${R("(arg_max(close, \"date\") / arg_min(close, \"date\") - 1) * 100", 2)}
       |      AS overall_change_percent
       |  FROM feat1 GROUP BY symbol)""".stripMargin

  private lazy val analyticsSql: Map[String, String] = Map(
    "a6_performance" -> withCtes(feat1Ctes :+ perfCte: _*)(
      "SELECT * FROM perf ORDER BY symbol"),

    "o4_top_k" -> withCtes(feat1Ctes :+ perfCte: _*)(
      "SELECT * FROM perf ORDER BY overall_change_percent DESC, symbol LIMIT 5"),

    "a9_up_days" -> withCtes(feat2Ctes: _*)(
      s"""SELECT CAST(SUM(CASE WHEN is_positive_day THEN 1 ELSE 0 END) AS BIGINT) AS positive_days,
         |       ${R("AVG(CASE WHEN is_positive_day THEN 1 ELSE 0 END)", 6)} AS positive_day_ratio
         |FROM feat2""".stripMargin),

    "a10_value_counts" -> withCtes(feat2Ctes: _*)(
      s"""SELECT $volatilityCategoryCase AS volatility_category, COUNT(*) AS "count"
         |FROM feat2 GROUP BY 1
         |ORDER BY "count" DESC, volatility_category""".stripMargin),

    "a11_quality_report" -> withCtes(feat2Ctes :+
      """qagg AS (
        |  SELECT
        |    AVG(CASE WHEN symbol IS NOT NULL THEN 1.0 ELSE 0.0 END) AS r_nn_symbol,
        |    AVG(CASE WHEN "date" IS NOT NULL THEN 1.0 ELSE 0.0 END) AS r_nn_date,
        |    AVG(CASE WHEN close IS NOT NULL THEN 1.0 ELSE 0.0 END) AS r_nn_close,
        |    AVG(CASE WHEN open IS NULL THEN NULL WHEN open >= 0 AND open <= 10000 THEN 1.0 ELSE 0.0 END) AS r_bt_open,
        |    AVG(CASE WHEN high IS NULL THEN NULL WHEN high >= 0 AND high <= 10000 THEN 1.0 ELSE 0.0 END) AS r_bt_high,
        |    AVG(CASE WHEN low IS NULL THEN NULL WHEN low >= 0 AND low <= 10000 THEN 1.0 ELSE 0.0 END) AS r_bt_low,
        |    AVG(CASE WHEN close IS NULL THEN NULL WHEN close >= 0 AND close <= 10000 THEN 1.0 ELSE 0.0 END) AS r_bt_close,
        |    AVG(CASE WHEN volume IS NULL THEN NULL WHEN volume >= 0 THEN 1.0 ELSE 0.0 END) AS r_bt_volume,
        |    AVG(CASE WHEN daily_change_percent IS NULL THEN NULL WHEN daily_change_percent >= -50 AND daily_change_percent <= 50 THEN 1.0 ELSE 0.0 END) AS r_bt_dcp,
        |    AVG(CASE WHEN high IS NULL OR low IS NULL THEN NULL WHEN high > low THEN 1.0 ELSE 0.0 END) AS r_pair,
        |    CAST(COUNT(DISTINCT (symbol, "date")) AS DOUBLE) / COUNT(*) AS r_unique
        |  FROM feat2)""".stripMargin: _*)(
      s"""SELECT check_name, ${R("observed_ratio", 6)} AS observed_ratio, threshold,
         |       observed_ratio >= threshold AS passed
         |FROM (
         |  SELECT 'exists:symbol' AS check_name, 1.0 AS observed_ratio, 1.0 AS threshold FROM qagg
         |  UNION ALL SELECT 'exists:date', 1.0, 1.0 FROM qagg
         |  UNION ALL SELECT 'exists:close', 1.0, 1.0 FROM qagg
         |  UNION ALL SELECT 'exists:volume', 1.0, 1.0 FROM qagg
         |  UNION ALL SELECT 'not_null:symbol', r_nn_symbol, 1.0 FROM qagg
         |  UNION ALL SELECT 'not_null:date', r_nn_date, 1.0 FROM qagg
         |  UNION ALL SELECT 'not_null:close', r_nn_close, 1.0 FROM qagg
         |  UNION ALL SELECT 'between:open:0:10000', r_bt_open, 1.0 FROM qagg
         |  UNION ALL SELECT 'between:high:0:10000', r_bt_high, 1.0 FROM qagg
         |  UNION ALL SELECT 'between:low:0:10000', r_bt_low, 1.0 FROM qagg
         |  UNION ALL SELECT 'between:close:0:10000', r_bt_close, 1.0 FROM qagg
         |  UNION ALL SELECT 'between:volume:0:inf', r_bt_volume, 1.0 FROM qagg
         |  UNION ALL SELECT 'between:daily_change_percent:-50:50', r_bt_dcp, 0.95 FROM qagg
         |  UNION ALL SELECT 'pair:high_gt_low', r_pair, 1.0 FROM qagg
         |  UNION ALL SELECT 'compound_unique:symbol_date', r_unique, 1.0 FROM qagg)
         |ORDER BY check_name""".stripMargin),

    "x7_predictions" -> withCtes(feat1Ctes ++ Seq(
      """ranked AS (
        |  SELECT symbol, "date", close, ma_5, ma_20, daily_change_percent,
        |         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY "date" DESC) AS rn
        |  FROM feat1)""".stripMargin,
      """per AS (
        |  SELECT symbol,
        |         COUNT(*) AS n_days,
        |         arg_max(close, "date") AS ma_current_price,
        |         arg_max(ma_5, "date") AS ma5,
        |         arg_max(ma_20, "date") AS ma20,
        |         MAX("date") AS cur_date,
        |         STDDEV_SAMP(CASE WHEN rn <= 5 THEN daily_change_percent END) AS recent_volatility,
        |         AVG(CASE WHEN rn <= 5 THEN daily_change_percent END) AS avg_daily_change
        |  FROM ranked GROUP BY symbol)""".stripMargin,
      """pred AS (
        |  SELECT *,
        |    CASE WHEN ma5 > ma20 THEN 'BULLISH' ELSE 'BEARISH' END AS trend,
        |    CASE WHEN ma5 > ma20 THEN (ma5 - ma20) / ma20 * 100
        |         ELSE (ma20 - ma5) / ma20 * 100 END AS ts_raw
        |  FROM per WHERE n_days >= 20)""".stripMargin,
      """pred2 AS (
        |  SELECT *,
        |    CASE WHEN trend = 'BULLISH' THEN LEAST(ts_raw * 0.3 + avg_daily_change * 0.7, 5.0)
        |         ELSE GREATEST(-ts_raw * 0.3 + avg_daily_change * 0.7, -5.0) END AS pcp_raw
        |  FROM pred)""".stripMargin): _*)(
      s"""SELECT symbol,
         |  ${R("ma_current_price", 2)} AS current_price,
         |  ${R("ma_current_price * (pcp_raw / 100 + 1)", 2)} AS predicted_price,
         |  ${R("ma_current_price * (pcp_raw / 100 + 1) - ma_current_price", 2)} AS predicted_change,
         |  ${R("pcp_raw", 2)} AS predicted_change_percent,
         |  trend,
         |  ${R("ts_raw", 2)} AS trend_strength,
         |  CASE WHEN ts_raw > 5 AND recent_volatility < 2 THEN 'HIGH'
         |       WHEN ts_raw > 2 AND recent_volatility < 4 THEN 'MEDIUM'
         |       ELSE 'LOW' END AS confidence,
         |  ${R("ma5", 2)} AS ma_5,
         |  ${R("ma20", 2)} AS ma_20,
         |  ${R("recent_volatility", 2)} AS recent_volatility,
         |  strftime(cur_date + INTERVAL 1 DAY, '%Y-%m-%d') AS prediction_date,
         |  strftime(cur_date, '%Y-%m-%d') AS "current_date"
         |FROM pred2
         |ORDER BY predicted_change_percent DESC, symbol""".stripMargin),

    "w6_signals" -> withCtes(feat1Ctes ++ Seq(
      """last10 AS (
        |  SELECT * FROM (
        |    SELECT symbol, "date", close, ma_5, ma_20,
        |           ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY "date" DESC) AS rn
        |    FROM feat1) WHERE rn <= 10)""".stripMargin,
      """lagged AS (
        |  SELECT *, LAG(ma_5) OVER w AS prev5, LAG(ma_20) OVER w AS prev20
        |  FROM last10 WINDOW w AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin,
      """sig AS (
        |  SELECT *, CASE WHEN prev5 <= prev20 AND ma_5 > ma_20 THEN 'BUY'
        |                 WHEN prev5 >= prev20 AND ma_5 < ma_20 THEN 'SELL' END AS signal
        |  FROM lagged WHERE prev5 IS NOT NULL)""".stripMargin,
      """maxd AS (SELECT MAX("date") AS md FROM feat1)""") : _*)(
      s"""SELECT symbol, signal,
         |  CASE WHEN signal = 'BUY' THEN 'Golden Cross' ELSE 'Death Cross' END AS signal_type,
         |  "date", ${R("close", 6)} AS price, ${R("ma_5", 2)} AS ma_5, ${R("ma_20", 2)} AS ma_20,
         |  CAST(datediff('day', "date", md) AS INTEGER) AS days_ago
         |FROM sig, maxd WHERE signal IS NOT NULL
         |ORDER BY "date" DESC, symbol""".stripMargin),

    "o3_sort_limit" -> withCtes(stockCte)(
      s"""SELECT symbol, "date", rid, ${R("close", 6)} AS close
         |FROM stock ORDER BY "date" DESC, rid LIMIT 2000""".stripMargin),

    "o6_stride_sample" -> withCtes(stockCte)(
      s"""SELECT rid, symbol, ${R("close", 6)} AS close
         |FROM stock WHERE rid % 13 = 0 ORDER BY rid""".stripMargin),

    "s4_scan_limit" -> withCtes(feat1Ctes: _*)(
      s"""SELECT symbol, "date", ${R("close", 6)} AS close,
         |       ${R("ma_5", 2)} AS ma_5, ${R("ma_20", 2)} AS ma_20
         |FROM feat1 ORDER BY "date" DESC, symbol LIMIT 2000""".stripMargin),

    "st2_sessionize" -> withCtes(
      """ev AS (
        |  SELECT user_id, event_id, ts, value,
        |         CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR CAST(FLOOR(epoch(ts)) AS BIGINT)
        |                   - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,
      """sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM ev)""".stripMargin)(
      s"""SELECT user_id, session_seq,
         |  COUNT(*) AS n_events,
         |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  CAST(MAX(tsec) - MIN(tsec) AS BIGINT) AS duration_sec,
         |  ${R("SUM(value)", 2)} AS total_value
         |FROM sess GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin),

    "j4_rollup" ->
      s"""SELECT COALESCE(r_name, 'ALL') AS r_name,
         |       COALESCE(c_mktsegment, 'ALL') AS c_mktsegment,
         |       COUNT(*) AS n_orders, ${R("SUM(o_totalprice)", 2)} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, c_mktsegment)
         |ORDER BY r_name, c_mktsegment""".stripMargin,

    "j7_cube" ->
      s"""SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
         |       COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
         |       COUNT(*) AS n_orders, ${R("SUM(o_totalprice)", 2)} AS revenue
         |FROM orders
         |GROUP BY CUBE (o_orderstatus, o_orderpriority)
         |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "j8_full_outer" ->
      s"""WITH a AS (
         |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         |         ${R("SUM(o_totalprice)", 2)} AS order_revenue
         |  FROM orders
         |  WHERE o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1995-08-31'
         |  GROUP BY 1),
         |b AS (
         |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         |         ${R("SUM(l_extendedprice)", 2)} AS shipped_value
         |  FROM lineitem
         |  WHERE l_shipdate BETWEEN DATE '1995-05-01' AND DATE '1996-02-28'
         |  GROUP BY 1)
         |SELECT month, order_revenue, shipped_value
         |FROM a FULL JOIN b USING (month)
         |ORDER BY month""".stripMargin,

    "w11_range_mean" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", ${R("rm", 2)} AS range_ma7 FROM (
         |  SELECT symbol, "date",
         |         AVG(close) OVER (PARTITION BY symbol ORDER BY "date"
         |           RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS rm
         |  FROM dedup)
         |ORDER BY symbol, "date"""".stripMargin),

    // RSI twin: greatest() maps the first row's NULL diff to 0 in both
    // engines; the flat-window 0/0 case is explicitly NULL on both sides
    // (Spark's double 0/0 is NaN, DuckDB's is NULL).
    "w12_rsi" -> withCtes(stockCte, cleanCte, dedupCte,
      """gl AS (
        |  SELECT symbol, "date",
        |    GREATEST(close - LAG(close) OVER sw, 0) AS gain,
        |    GREATEST(LAG(close) OVER sw - close, 0) AS loss
        |  FROM dedup WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin)(
      s"""SELECT symbol, "date",
         |  ${R("CASE WHEN AVG(gain) OVER w14 + AVG(loss) OVER w14 = 0 THEN NULL ELSE 100.0 * AVG(gain) OVER w14 / (AVG(gain) OVER w14 + AVG(loss) OVER w14) END", 2)} AS rsi_14
         |FROM gl WINDOW w14 AS (PARTITION BY symbol ORDER BY "date" ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
         |ORDER BY symbol, "date"""".stripMargin),

    // Robust-outlier twin: both medians are quantile_cont (the proven
    // percentile twin); the |z| > 3 filter compares the tie-safe-ROUNDED
    // value on both sides, and MAD = 0 groups are excluded before any
    // division (Spark 0/0 = NaN vs DuckDB NULL would diverge).
    "w13_robust_outliers" -> withCtes(stockCte, cleanCte, dedupCte,
      """med AS (
        |  SELECT *, quantile_cont(close, 0.5) OVER (PARTITION BY symbol) AS med
        |  FROM dedup)""".stripMargin,
      """madt AS (
        |  SELECT *, quantile_cont(ABS(close - med), 0.5) OVER (PARTITION BY symbol) AS madv
        |  FROM med)""".stripMargin)(
      s"""SELECT symbol, "date", close,
         |       ${R("(close - med) / (1.4826 * madv)", 2)} AS robust_z
         |FROM madt
         |WHERE madv > 0 AND ${R("ABS((close - med) / (1.4826 * madv))", 6)} > 3
         |ORDER BY symbol, "date"""".stripMargin),

    // MACD twin: the FIR weight literals come from the same JVM call the
    // engine uses (Num.emaKernel; Double.toString round-trips exactly), so
    // the cross-engine surface is one identically-left-associated weighted
    // sum per kernel — multi-term sums round at 2. Warm-up rows NULL on
    // both sides (rn guards), macd_hist built from the UNROUNDED pair.
    "w14_macd" -> withCtes(stockCte, cleanCte, dedupCte,
      """base AS (
        |  SELECT symbol, "date", close, ROW_NUMBER() OVER sw AS rn
        |  FROM dedup WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin,
      s"""m AS (
         |  SELECT symbol, "date", rn,
         |         ${firSql("close", 12, 12)} - ${firSql("close", 26, 26)} AS macd_raw
         |  FROM base WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin,
      s"""sg AS (
         |  SELECT symbol, "date", macd_raw, ${firSql("macd_raw", 9, 34)} AS sig
         |  FROM m WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin)(
      s"""SELECT symbol, "date", ${R("macd_raw", 2)} AS macd,
         |       ${R("sig", 2)} AS macd_signal,
         |       ${R("macd_raw - sig", 2)} AS macd_hist
         |FROM sg ORDER BY symbol, "date"""".stripMargin),

    // Bollinger twin: the w3/w5-proven frame aggregates; %B's sd = 0 and
    // one-row-window (NULL sample stddev) branches are explicit NULLs on
    // both engines so 0/0 NaN-vs-NULL can never diverge.
    "w15_bollinger" -> withCtes(stockCte, cleanCte, dedupCte,
      """bb AS (
        |  SELECT symbol, "date", close,
        |    AVG(close) OVER w20 AS mid,
        |    STDDEV_SAMP(close) OVER w20 AS sd
        |  FROM dedup WINDOW w20 AS (PARTITION BY symbol ORDER BY "date" ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))""".stripMargin)(
      s"""SELECT symbol, "date",
         |  ${R("mid", 2)} AS bb_mid,
         |  ${R("mid + 2 * sd", 2)} AS bb_up,
         |  ${R("mid - 2 * sd", 2)} AS bb_dn,
         |  CASE WHEN sd IS NULL OR sd = 0 THEN NULL
         |       ELSE ${R("(close - (mid - 2 * sd)) / (4 * sd)", 4)} END AS pct_b
         |FROM bb ORDER BY symbol, "date"""".stripMargin),

    // Beta twin: the same in-query equal-weight market index, the same
    // per-symbol co-moment regression; ratios round tie-safe at 6.
    "w16_beta" -> withCtes(stockCte, cleanCte, dedupCte,
      """r AS (
        |  SELECT symbol, "date",
        |         close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1 AS r
        |  FROM dedup)""".stripMargin,
      """rn AS (SELECT * FROM r WHERE r IS NOT NULL)""",
      """mkt AS (SELECT "date", AVG(r) AS mr FROM rn GROUP BY 1)""")(
      s"""SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  ${R("covar_samp(r, mr) / var_samp(mr)", 6)} AS beta,
         |  ${R("corr(r, mr)", 6)} AS corr_rm,
         |  ${R("AVG(r) - covar_samp(r, mr) / var_samp(mr) * AVG(mr)", 6)} AS alpha_daily
         |FROM rn JOIN mkt USING ("date")
         |GROUP BY symbol ORDER BY symbol""".stripMargin),

    // Sharpe twin: same return CTE as w16; sqrt(252) is the same IEEE
    // double in both engines; zero-variance exclusion mirrors the Spark
    // side's NaN-vs-NULL guard.
    "w17_sharpe" -> withCtes(stockCte, cleanCte, dedupCte,
      """r AS (
        |  SELECT symbol,
        |         close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1 AS r
        |  FROM dedup)""".stripMargin,
      """rn AS (SELECT * FROM r WHERE r IS NOT NULL)""")(
      s"""SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  ${R("AVG(r)", 6)} AS mean_r,
         |  ${R("STDDEV_SAMP(r)", 6)} AS sd_r,
         |  ${R("CASE WHEN STDDEV_SAMP(r) IS NULL OR STDDEV_SAMP(r) = 0 THEN NULL ELSE AVG(r) / STDDEV_SAMP(r) * sqrt(252) END", 6)} AS sharpe_ann
         |FROM rn GROUP BY symbol ORDER BY symbol""".stripMargin),

    // VWAP twin: date_trunc('week') is the ISO Monday in both engines;
    // BIGINT volume sum cast back from DuckDB's HUGEINT; 0/0 guarded.
    "w18_vwap" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, CAST(date_trunc('week', "date") AS DATE) AS wk,
         |  ${R("CASE WHEN SUM(volume) = 0 THEN NULL ELSE SUM(close * volume) / SUM(volume) END", 2)} AS vwap,
         |  CAST(SUM(volume) AS BIGINT) AS wk_volume,
         |  CAST(COUNT(*) AS BIGINT) AS n_days
         |FROM dedup GROUP BY 1, 2 ORDER BY symbol, wk""".stripMargin),

    // Streak twin: identical gaps-and-islands formulation — the grp
    // difference is constant within each unbroken up-run.
    "w19_streaks" -> withCtes(stockCte, cleanCte, dedupCte,
      """f AS (
        |  SELECT symbol, "date",
        |         CASE WHEN close > LAG(close) OVER sw THEN 1 ELSE 0 END AS up,
        |         ROW_NUMBER() OVER sw AS rn
        |  FROM dedup WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin,
      """u AS (
        |  SELECT symbol,
        |         rn - ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY "date") AS grp
        |  FROM f WHERE up = 1)""".stripMargin,
      """st AS (SELECT symbol, grp, COUNT(*) AS len FROM u GROUP BY 1, 2)""")(
      """SELECT symbol, CAST(MAX(len) AS INTEGER) AS longest_up_streak,
        |       CAST(COUNT(*) AS INTEGER) AS n_up_streaks,
        |       CAST(SUM(len) AS BIGINT) AS total_up_days
        |FROM st GROUP BY symbol ORDER BY symbol""".stripMargin),

    // Raw-moment twin: the formula renders with IDENTICAL parenthesization
    // to the Spark side (same IEEE arithmetic); GREATEST(var, 0) inside
    // sqrt because DuckDB's sqrt throws on negatives even under the CASE.
    "a16_moments" -> withCtes(stockCte, cleanCte, dedupCte,
      """r AS (
        |  SELECT symbol,
        |         close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1 AS r
        |  FROM dedup)""".stripMargin,
      """mo AS (
        |  SELECT symbol, COUNT(*) AS n_days,
        |         AVG(r) AS m1, AVG(r * r) AS m2,
        |         AVG(r * r * r) AS m3, AVG(r * r * r * r) AS m4
        |  FROM r WHERE r IS NOT NULL GROUP BY symbol)""".stripMargin)(
      s"""SELECT symbol, CAST(n_days AS BIGINT) AS n_days,
         |  ${R("CASE WHEN m2 - m1 * m1 <= 0 THEN NULL ELSE (m3 - 3.0 * m1 * m2 + 2.0 * m1 * m1 * m1) / ((m2 - m1 * m1) * sqrt(GREATEST(m2 - m1 * m1, 0.0))) END", 6)} AS skew_r,
         |  ${R("CASE WHEN m2 - m1 * m1 <= 0 THEN NULL ELSE (m4 - 4.0 * m1 * m3 + 6.0 * m1 * m1 * m2 - 3.0 * m1 * m1 * m1 * m1) / ((m2 - m1 * m1) * (m2 - m1 * m1)) - 3.0 END", 6)} AS kurt_r
         |FROM mo ORDER BY symbol""".stripMargin),

    // Autocorrelation twin: same return CTE as w16/w17, second lag for
    // the pair, DuckDB corr (the w16-proven contract).
    "w20_autocorr" -> withCtes(stockCte, cleanCte, dedupCte,
      """r AS (
        |  SELECT symbol, "date",
        |         close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1 AS r
        |  FROM dedup)""".stripMargin,
      """rp AS (
        |  SELECT symbol, r,
        |         LAG(r) OVER (PARTITION BY symbol ORDER BY "date") AS prev_r
        |  FROM r)""".stripMargin)(
      s"""SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ${R("corr(r, prev_r)", 6)} AS autocorr_1
         |FROM rp WHERE r IS NOT NULL AND prev_r IS NOT NULL
         |GROUP BY symbol ORDER BY symbol""".stripMargin),

    // Ranking-family twin: rank/dense_rank/percent_rank/cume_dist are
    // tie-deterministic under the bare (volume DESC) order; only ntile
    // needs the fully tie-broken order. INTEGER casts match Spark's ints.
    "x13_ranks" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, "date", volume,
         |  CAST(RANK() OVER wv AS INTEGER) AS rnk,
         |  CAST(DENSE_RANK() OVER wv AS INTEGER) AS drnk,
         |  ${R("PERCENT_RANK() OVER wv", 6)} AS pct_rank,
         |  ${R("CUME_DIST() OVER wv", 6)} AS cume,
         |  CAST(NTILE(4) OVER (PARTITION BY symbol ORDER BY volume DESC, "date") AS INTEGER) AS quartile
         |FROM dedup
         |WINDOW wv AS (PARTITION BY symbol ORDER BY volume DESC)
         |ORDER BY symbol, "date"""".stripMargin),

    // Containment twin: d8's candidate/shingle/intersect CTEs verbatim,
    // asymmetric |A∩B|/|A| and /|B| outputs; the keep filter compares the
    // tie-safe-ROUNDED ratios on both sides (Spark filters rounded too).
    "d12_containment" -> withCtes(toksCte, shCte, shxCte, sigCte, bandsCte,
      cappedCte,
      """cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.band_value = b.band_value AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)""".stripMargin,
      "dsh AS (SELECT DISTINCT doc_id, shingle FROM shx)",
      "sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)",
      """iv AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |  FROM cand c JOIN dsh a ON a.doc_id = c.doc_a
        |               JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)""".stripMargin,
      s"""ct AS (
         |  SELECT c.doc_a, c.doc_b,
         |    ${R("CAST(coalesce(iv.n_common, 0) AS DOUBLE) / za.n", 6)} AS containment_a,
         |    ${R("CAST(coalesce(iv.n_common, 0) AS DOUBLE) / zb.n", 6)} AS containment_b
         |  FROM cand c
         |  LEFT JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
         |  JOIN sz za ON za.doc_id = c.doc_a
         |  JOIN sz zb ON zb.doc_id = c.doc_b)""".stripMargin)(
      """SELECT doc_a, doc_b, containment_a, containment_b
        |FROM ct
        |WHERE containment_a >= 0.3 OR containment_b >= 0.3
        |ORDER BY 1, 2""".stripMargin),

    // Calibration twin: d8's candidate/shingle/intersect CTEs plus a
    // 16-component signature-agreement count per candidate pair; exact
    // Jaccard stays RAW per pair (the Spark side averages unrounded).
    "d13_minhash_calibration" -> withCtes(toksCte, shCte, shxCte, sigCte,
      bandsCte, cappedCte,
      """cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.band_value = b.band_value AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)""".stripMargin,
      "dsh AS (SELECT DISTINCT doc_id, shingle FROM shx)",
      "sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)",
      """iv AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |  FROM cand c JOIN dsh a ON a.doc_id = c.doc_a
        |               JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)""".stripMargin,
      s"""est AS (
         |  SELECT c.doc_a, c.doc_b,
         |    ${(0 until 16).map(b => s"CASE WHEN a.mh_$b = b.mh_$b THEN 1 ELSE 0 END")
               .mkString(" + ")} AS n_match
         |  FROM cand c JOIN sig a ON a.doc_id = c.doc_a
         |               JOIN sig b ON b.doc_id = c.doc_b)""".stripMargin,
      """ex AS (
        |  SELECT c.doc_a, c.doc_b,
        |    CAST(coalesce(iv.n_common, 0) AS DOUBLE)
        |      / (za.n + zb.n - coalesce(iv.n_common, 0)) AS jaccard
        |  FROM cand c
        |  LEFT JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
        |  JOIN sz za ON za.doc_id = c.doc_a
        |  JOIN sz zb ON zb.doc_id = c.doc_b)""".stripMargin)(
      s"""SELECT CAST(n_match AS INTEGER) AS n_match,
         |  ${R("CAST(n_match AS DOUBLE) / 16.0", 6)} AS est_jaccard,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ${R("AVG(jaccard)", 2)} AS avg_exact_jaccard
         |FROM est JOIN ex ON est.doc_a = ex.doc_a AND est.doc_b = ex.doc_b
         |GROUP BY n_match ORDER BY n_match""".stripMargin),

    // Collocation twin: bigrams via list_zip over offset slices; the PMI
    // formula renders with identical parenthesization to the Spark side
    // (counts are exact integers; ln agrees to 1 ulp — t22/t25 precedent).
    "t27_collocations" -> (
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, bt AS bigram
         |  FROM (SELECT doc_id,
         |          list_transform(list_zip(w[1:-2], w[2:-1]),
         |                         x -> x[1] || ' ' || x[2]) AS bgs
         |        FROM tok)
         |  CROSS JOIN UNNEST(bgs) AS u(bt)),
         |bc AS (SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         |              CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
         |       FROM bg GROUP BY 1),
         |un AS (SELECT t AS tok, CAST(COUNT(*) AS DOUBLE) AS uc
         |       FROM tok CROSS JOIN UNNEST(w) AS v(t) GROUP BY 1),
         |nb AS (SELECT CAST(SUM(n_occurrences) AS DOUBLE) AS n_bigrams FROM bc),
         |nu AS (SELECT SUM(uc) AS n_unigrams FROM un),
         |top AS (SELECT bigram, n_occurrences, doc_freq,
         |               ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, bigram) AS rank
         |        FROM bc ORDER BY n_occurrences DESC, bigram LIMIT 20)
         |SELECT bigram, n_occurrences, doc_freq, CAST(rank AS INTEGER) AS rank,
         |  ${R("ln((CAST(n_occurrences AS DOUBLE) / n_bigrams) / ((u1.uc / n_unigrams) * (u2.uc / n_unigrams)))", 6)} AS pmi
         |FROM top
         |JOIN un u1 ON u1.tok = split_part(bigram, ' ', 1)
         |JOIN un u2 ON u2.tok = split_part(bigram, ' ', 2)
         |CROSS JOIN nb CROSS JOIN nu
         |ORDER BY rank""".stripMargin),

    // Stickiness twin: one (user, day) distinct, DAU/WAU both off the
    // deduplicated pairs; avg_dau and the ratio are exact-integer
    // divisions — identical IEEE results, rounded tie-safe anyway.
    "ev14_stickiness" -> (
      s"""WITH du AS (
         |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS "day"
         |  FROM events),
         |dau AS (SELECT "day", COUNT(*) AS dau FROM du GROUP BY 1),
         |wd AS (SELECT CAST(date_trunc('week', "day") AS DATE) AS wk,
         |              CAST(COUNT(*) AS BIGINT) AS n_days, AVG(dau) AS avg_dau
         |       FROM dau GROUP BY 1),
         |wau AS (SELECT CAST(date_trunc('week', "day") AS DATE) AS wk,
         |               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
         |        FROM du GROUP BY 1)
         |SELECT wd.wk, n_days, wau,
         |  ${R("avg_dau", 2)} AS avg_dau,
         |  ${R("avg_dau / wau", 6)} AS stickiness
         |FROM wd JOIN wau ON wd.wk = wau.wk
         |ORDER BY wd.wk""".stripMargin),

    // Winsorize twin: quantile_cont == Spark percentile bit-exact (a5), so
    // LEAST/GREATEST take identical branches on identical doubles.
    "f9_winsorize" -> withCtes(stockCte, cleanCte, dedupCte,
      """q AS (
        |  SELECT *,
        |         quantile_cont(close, 0.05) OVER (PARTITION BY symbol) AS q05,
        |         quantile_cont(close, 0.95) OVER (PARTITION BY symbol) AS q95
        |  FROM dedup)""".stripMargin)(
      s"""SELECT symbol, "date", ${R("close", 6)} AS close,
         |       ${R("LEAST(GREATEST(close, q05), q95)", 6)} AS w_close,
         |       (close < q05 OR close > q95) AS is_clipped
         |FROM q ORDER BY symbol, "date"""".stripMargin),

    "st1_tumbling_window" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
         |       event_type, COUNT(*) AS n_events,
         |       ${R("AVG(value)", 2)} AS avg_value,
         |       ${R("SUM(value)", 2)} AS sum_value
         |FROM events GROUP BY 1, 2
         |ORDER BY window_start, event_type""".stripMargin,

    // Sliding-window twin: Spark's epoch-aligned window(1h, 15m) puts
    // every event in exactly length/slide = 4 windows — replayed as a
    // range(0,4) explode off the integer-floored epoch micros (exact
    // integer arithmetic, the funnel epoch_us contract).
    "st4_sliding_window" ->
      s"""SELECT strftime(make_timestamp(
         |         (epoch_us(ts) // 900000000) * 900000000 - j.j * 900000000),
         |         '%Y-%m-%d %H:%M:%S') AS window_start,
         |       event_type, COUNT(*) AS n_events,
         |       ${R("AVG(value)", 2)} AS avg_value
         |FROM events, UNNEST(range(0, 4)) j(j)
         |GROUP BY 1, 2
         |ORDER BY window_start, event_type""".stripMargin
  )

  // ===== scalar functions ==================================================

  private lazy val scalarSql: Map[String, String] = Map(
    "x2_calendar" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS d,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS INTEGER) AS year,
        |  CAST(month(CAST(o_orderdate AS DATE)) AS INTEGER) AS month,
        |  CAST(quarter(CAST(o_orderdate AS DATE)) AS INTEGER) AS quarter,
        |  CAST(isodow(CAST(o_orderdate AS DATE)) - 1 AS INTEGER) AS day_of_week,
        |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS week_of_year
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "x3_date_arith" ->
      """WITH o AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS d FROM orders),
        |m AS (SELECT MAX(d) AS max_d FROM o)
        |SELECT o_orderkey,
        |  strftime(d + INTERVAL 1 DAY, '%Y-%m-%d') AS next_date,
        |  strftime(d, '%Y-%m-%d') AS formatted_date,
        |  CAST(datediff('day', d, max_d) AS INTEGER) AS days_from_max
        |FROM o, m ORDER BY o_orderkey""".stripMargin,

    "x8_round_format" ->
      s"""SELECT l_orderkey, l_linenumber,
         |  ${R("l_extendedprice", 2)} AS price_rounded,
         |  '$$' || CAST(${R("l_extendedprice", 2)} AS VARCHAR) AS price_label
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "x9_string_ops" ->
      """SELECT p_partkey,
        |  UPPER(p_brand) AS brand_upper,
        |  TRIM('  ' || p_name || '  ') AS name_trimmed,
        |  string_split(p_type, ' ')[1] AS type_first_word,
        |  CAST(len(string_split(p_type, ' ')) AS INTEGER) AS type_word_count
        |FROM part ORDER BY p_partkey""".stripMargin,

    "x10_null_handling" -> withCtes(dirtyCte)(
      s"""SELECT rid,
         |  CASE WHEN open IS NULL THEN 'N/A' ELSE CAST(${R("open", 2)} AS VARCHAR) END AS open_display,
         |  ${R("COALESCE(open, 0.0)", 6)} AS open_filled
         |FROM dirty ORDER BY rid""".stripMargin),

    "x11_json_access" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_value,
        |  event_type
        |FROM events ORDER BY event_id""".stripMargin
  )

  // ===== joins =============================================================

  private lazy val joinSql: Map[String, String] = Map(
    "j1_join_dims" ->
      s"""SELECT r_name, n_name, COUNT(*) AS n_orders,
         |       ${R("SUM(o_totalprice)", 2)} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "j2_semi_anti" ->
      """SELECT
        |  (SELECT COUNT(*) FROM customer c
        |     WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |    AS customers_with_orders,
        |  (SELECT COUNT(*) FROM customer c
        |     WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
        |    AS customers_without_orders""".stripMargin,

    // exact-decimal revenue sum (order-independent, scale-proof): a plain
    // double SUM drifts ~0.01 at sf1.0 magnitudes — see Queries.j3LeftJoinAgg
    "j3_left_join_agg" -> {
      val revSum = "SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
      s"""SELECT c_mktsegment,
         |  COUNT(DISTINCT c_custkey) AS n_customers,
         |  COUNT(o_orderkey) AS n_orders,
         |  ${R(s"COALESCE(CAST($revSum AS DOUBLE), 0)", 2)} AS total_revenue,
         |  ${R(s"CASE WHEN COUNT(o_orderkey) = 0 THEN NULL ELSE CAST($revSum AS DOUBLE) / COUNT(o_orderkey) END", 2)} AS avg_order_value
         |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin
    },

    "j5_asof_join" -> withCtes(stockCte, cleanCte, dedupCte,
      """marks AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS symbol,
        |         CAST(o_orderdate AS DATE) AS mark_date,
        |         AVG(o_totalprice) AS mark_price
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)""".stripMargin)(
      s"""SELECT d.symbol, d."date", ${R("d.close", 6)} AS close,
         |       m.mark_date, ${R("m.mark_price", 2)} AS mark_price
         |FROM dedup d ASOF LEFT JOIN marks m
         |  ON d.symbol = m.symbol AND d."date" >= m.mark_date
         |ORDER BY d.symbol, d."date"""".stripMargin),

    // Forward-asof twin: DuckDB's native ASOF with the inequality
    // reversed (l.t <= r.t picks the earliest r at-or-after l).
    "j9_asof_forward" -> withCtes(stockCte, cleanCte, dedupCte,
      """marks AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS symbol,
        |         CAST(o_orderdate AS DATE) AS mark_date,
        |         AVG(o_totalprice) AS mark_price
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)""".stripMargin)(
      s"""SELECT d.symbol, d."date", ${R("d.close", 6)} AS close,
         |       m.mark_date, ${R("m.mark_price", 2)} AS mark_price
         |FROM dedup d ASOF LEFT JOIN marks m
         |  ON d.symbol = m.symbol AND d."date" <= m.mark_date
         |ORDER BY d.symbol, d."date"""".stripMargin),

    // Nearest-asof twin: DuckDB has no native 'nearest' direction, so the
    // oracle composes BOTH native ASOF directions and picks by day
    // distance (DATE - DATE is BIGINT days), ties to the backward match,
    // 45-day tolerance — the operator's documented contract.
    "j10_asof_nearest" -> withCtes(stockCte, cleanCte, dedupCte,
      """marks AS (
        |  SELECT CAST(l_partkey AS VARCHAR) AS symbol,
        |         CAST(o_orderdate AS DATE) AS mark_date,
        |         AVG(o_totalprice) AS mark_price
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)""".stripMargin,
      """bk AS (
        |  SELECT d.symbol, d."date", d.close,
        |         m.mark_date AS bd, m.mark_price AS bp
        |  FROM dedup d ASOF LEFT JOIN marks m
        |    ON d.symbol = m.symbol AND d."date" >= m.mark_date)""".stripMargin,
      """fw AS (
        |  SELECT d.symbol, d."date",
        |         m.mark_date AS fd, m.mark_price AS fp
        |  FROM dedup d ASOF LEFT JOIN marks m
        |    ON d.symbol = m.symbol AND d."date" <= m.mark_date)""".stripMargin,
      """pick AS (
        |  SELECT bk.symbol, bk."date", bk.close, bk.bd, bk.bp, fw.fd, fw.fp,
        |         CASE WHEN bk."date" - bk.bd <= 45
        |              THEN bk."date" - bk.bd END AS db,
        |         CASE WHEN fw.fd - fw."date" <= 45
        |              THEN fw.fd - fw."date" END AS df
        |  FROM bk JOIN fw USING (symbol, "date"))""".stripMargin)(
      s"""SELECT symbol, "date", ${R("close", 6)} AS close,
         |       CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df) THEN bd
         |            WHEN df IS NOT NULL THEN fd END AS mark_date,
         |       ${R("""CASE WHEN db IS NOT NULL AND (df IS NULL OR db <= df) THEN bp
         |            WHEN df IS NOT NULL THEN fp END""", 2)} AS mark_price
         |FROM pick
         |ORDER BY symbol, "date"""".stripMargin),

    // Chi-square twin: Spark weekday() 0=Monday -> isodow()-1 (the x2
    // contract); expected-count and term formulas render with identical
    // parenthesization to the Spark side. The cell table is densified the
    // same way as the Spark side: observed wd × up levels crossed per
    // symbol, missing joint cells COALESCEd to o=0 so their (0-E)^2/E = E
    // term is counted.
    "a17_chi2" -> withCtes(stockCte, cleanCte, dedupCte,
      """lagd AS (
        |  SELECT symbol, "date",
        |         close > LAG(close) OVER (PARTITION BY symbol ORDER BY "date") AS up
        |  FROM dedup)""".stripMargin,
      """f AS (
        |  SELECT symbol, CAST(isodow("date") - 1 AS INTEGER) AS wd, up
        |  FROM lagd WHERE up IS NOT NULL)""".stripMargin,
      """obs AS (SELECT symbol, wd, up, COUNT(*) AS o FROM f GROUP BY 1, 2, 3)""",
      """cells AS (
        |  SELECT lv.symbol, lv.wd, lv.up, COALESCE(obs.o, 0) AS o
        |  FROM (SELECT wl.symbol, wl.wd, ul.up
        |        FROM (SELECT DISTINCT symbol, wd FROM obs) wl
        |        JOIN (SELECT DISTINCT symbol, up FROM obs) ul USING (symbol)) lv
        |  LEFT JOIN obs USING (symbol, wd, up))""".stripMargin,
      """mg AS (
        |  SELECT *, SUM(o) OVER (PARTITION BY symbol) AS n,
        |         SUM(o) OVER (PARTITION BY symbol, wd) AS rt,
        |         SUM(o) OVER (PARTITION BY symbol, up) AS ct
        |  FROM cells)""".stripMargin,
      """t AS (
        |  SELECT symbol, wd, up, o,
        |    (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
        |      * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * ct / n)
        |      / (CAST(rt AS DOUBLE) * ct / n) AS term
        |  FROM mg)""".stripMargin)(
      s"""SELECT symbol, CAST(SUM(o) AS BIGINT) AS n_days,
         |  CAST((COUNT(DISTINCT wd) - 1) * (COUNT(DISTINCT up) - 1) AS INTEGER) AS dof,
         |  ${R("SUM(term)", 6)} AS chi2
         |FROM t GROUP BY symbol ORDER BY symbol""".stripMargin),

    // KS twin: identical return/split/ECDF formulas; the ECDF windows use
    // DuckDB's default RANGE frame (peers included — the tie treatment the
    // Spark side pins with an explicit rangeBetween), and the half-split is
    // the same integer rn*2 <= n comparison.
    "a18_ks_test" -> withCtes(stockCte, cleanCte, dedupCte,
      s"""r0 AS (
         |  SELECT symbol, "date", ${R("""(close - LAG(close) OVER (PARTITION BY symbol ORDER BY "date")) / LAG(close) OVER (PARTITION BY symbol ORDER BY "date")""", 6)} AS ret
         |  FROM dedup)""".stripMargin,
      """r1 AS (
        |  SELECT symbol, ret,
        |         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY "date") AS rn,
        |         COUNT(*) OVER (PARTITION BY symbol) AS n
        |  FROM r0 WHERE ret IS NOT NULL)""".stripMargin,
      """g AS (
        |  SELECT symbol, ret,
        |         CASE WHEN rn * 2 <= n THEN 'a' ELSE 'b' END AS grp
        |  FROM r1)""".stripMargin,
      """c AS (
        |  SELECT symbol, ret, grp,
        |    SUM(CASE WHEN grp = 'a' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY symbol) AS na,
        |    SUM(CASE WHEN grp = 'b' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY symbol) AS nb,
        |    SUM(CASE WHEN grp = 'a' THEN 1.0 ELSE 0.0 END)
        |      OVER (PARTITION BY symbol ORDER BY ret) AS ca,
        |    SUM(CASE WHEN grp = 'b' THEN 1.0 ELSE 0.0 END)
        |      OVER (PARTITION BY symbol ORDER BY ret) AS cb
        |  FROM g)""".stripMargin,
      """dd AS (
        |  SELECT symbol, na, nb, ABS(ca / na - cb / nb) AS d FROM c)""".stripMargin,
      s"""ks AS (
         |  SELECT symbol, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         |         ${R("MAX(d)", 6)} AS ks
         |  FROM dd GROUP BY symbol, na, nb)""".stripMargin)(
      s"""SELECT symbol, na, nb, ks,
         |  ks > ${R("1.358 * SQRT((na + nb) / (CAST(na AS DOUBLE) * nb))", 6)} AS reject_95
         |FROM ks ORDER BY symbol""".stripMargin),

    // Spearman twin: identical avg-rank construction (RANK + (ties-1)/2 —
    // exact half-integers) and the same explicit Pearson sum formula, so
    // both engines feed identical doubles into one rounded division.
    "a19_spearman" -> withCtes(stockCte, cleanCte, dedupCte,
      """f AS (
        |  SELECT symbol, volume, close FROM dedup
        |  WHERE volume IS NOT NULL AND close IS NOT NULL)""".stripMargin,
      """rk AS (
        |  SELECT symbol,
        |    RANK() OVER (PARTITION BY symbol ORDER BY volume)
        |      + (COUNT(*) OVER (PARTITION BY symbol, volume) - 1) / 2.0 AS rx,
        |    RANK() OVER (PARTITION BY symbol ORDER BY close)
        |      + (COUNT(*) OVER (PARTITION BY symbol, close) - 1) / 2.0 AS ry
        |  FROM f)""".stripMargin,
      """sums AS (
        |  SELECT symbol, CAST(COUNT(*) AS DOUBLE) AS n,
        |         SUM(rx) AS sx, SUM(ry) AS sy, SUM(rx * ry) AS sxy,
        |         SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy
        |  FROM rk GROUP BY 1)""".stripMargin)(
      s"""SELECT symbol, CAST(n AS BIGINT) AS n_days,
         |  ${R("(n * sxy - sx * sy) / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))", 6)} AS rho
         |FROM sums ORDER BY symbol""".stripMargin),

    "a12_heavy_hitters" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "j6_range_join" ->
      s"""WITH rng AS (
         |  SELECT o_orderkey AS range_key, CAST(o_orderdate AS DATE) AS start_date
         |  FROM orders
         |  WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 300000)
         |SELECT r.range_key, r.start_date, COUNT(*) AS n_orders,
         |       ${R("SUM(p.o_totalprice)", 2)} AS window_revenue
         |FROM rng r JOIN orders p
         |  ON CAST(p.o_orderdate AS DATE) >= r.start_date
         | AND CAST(p.o_orderdate AS DATE) < r.start_date + INTERVAL 7 DAY
         |GROUP BY r.range_key, r.start_date
         |ORDER BY r.range_key""".stripMargin
  )

  // ===== training-data extensions ==========================================

  /** Tokenize + trigram-shingle the documents table (1-based lists in
    * DuckDB vs 0-based arrays in Spark — same trigram content). */
  private lazy val toksCte =
    "toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tok FROM documents)"
  private lazy val shCte =
    """sh AS (
      |  SELECT doc_id, text,
      |    list_transform(range(1, greatest(len(tok) - 1, 1)),
      |                   i -> tok[i] || ' ' || tok[i+1] || ' ' || tok[i+2]) AS shingles
      |  FROM toks)""".stripMargin
  private lazy val shxCte =
    "shx AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh)"

  /** 16 per-component XOR-mask minhash mins (one md5-derived 60-bit hash
    * per shingle; component b takes argmin over h XOR R_b) as in
    * Dedup.minhashSignatures — masks sourced from Dedup.minhashXorMasks. */
  private lazy val sigCte: String = {
    // Per-component XOR-mask minhash — the R_b literals come from
    // Dedup.minhashXorMasks, the SAME JVM values the engine embeds (see
    // the defect note there: additive/affine component families correlate
    // orderings through Pareto dominance; independent XOR masks elect
    // independent argmins). Both operands are < 2^60, so BIGINT xor() is
    // exact and non-negative in both engines.
    val mins = graft.ext.Dedup.minhashXorMasks(16).zipWithIndex.map {
      case (r, b) =>
        s"list_min(list_transform(hs, h -> xor(h, $r))) AS mh_$b"
    }.mkString(",\n         ")
    s"""hsh AS (
       |  SELECT doc_id,
       |    list_transform(shingles, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
       |  FROM sh),
       |sig AS (
       |  SELECT doc_id,
       |         $mins
       |  FROM hsh WHERE len(hs) > 0)""".stripMargin
  }

  private lazy val bandsCte: String = {
    val rows = (0 until 8).map(b =>
      s"SELECT doc_id, $b AS band, CAST(mh_${2 * b} AS VARCHAR) || '_' || CAST(mh_${2 * b + 1} AS VARCHAR) AS band_value FROM sig")
    "bands AS (\n  " + rows.mkString("\n  UNION ALL ") + ")"
  }

  /** Mirror of Dedup.lshCandidatePairs' hot-bucket cap (128 smallest
    * doc_ids per (band, band_value) survive the pairwise step). */
  private lazy val cappedCte: String =
    """capped AS (
      |  SELECT doc_id, band, band_value FROM (
      |    SELECT *, ROW_NUMBER() OVER (PARTITION BY band, band_value ORDER BY doc_id) AS __bn
      |    FROM bands)
      |  WHERE __bn <= 128)""".stripMargin

  /** Embedding unnest (double-cast element math mirrors Spark's
    * zip_with/aggregate fold; DuckDB's list_dot_product is float-precision
    * and would NOT hash-match). */
  /** The sim19 greedy MMR steps 2..k, UNROLLED as chained CTEs (no
    * recursive CTE: DuckDB restricts aggregates over the working table,
    * and a fixed k makes recursion pointless anyway). Step t computes each
    * remaining candidate's max sim to the selected-so-far union, scores
    * `0.7 * rel - 0.3 * maxsim` (the literal doubles the Spark side
    * multiplies — never `1 - lambda`, the t28 lesson), and takes the
    * (score DESC, vec_id) argmax. Inputs `cand.rel` / `pair.sim` arrive
    * tie-safe-rounded, so both engines branch identically. */
  private def mmrStepCtes(k: Int): Seq[String] = (2 to k).map { t =>
    val selSoFar = (1 until t)
      .map(i => s"SELECT query_id, vec_id FROM s$i").mkString(" UNION ALL ")
    s"""m$t AS (
       |  SELECT p.query_id, p.v_a AS vec_id, MAX(p.sim) AS maxsim
       |  FROM pair p JOIN ($selSoFar) s
       |    ON s.query_id = p.query_id AND s.vec_id = p.v_b
       |  GROUP BY 1, 2),
       |s$t AS (
       |  SELECT query_id, vec_id, $t AS rank, mmr_score FROM (
       |    SELECT query_id, vec_id, mmr_score,
       |           ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY mmr_score DESC, vec_id) AS rn
       |    FROM (
       |      SELECT c.query_id, c.vec_id,
       |             ${R("0.7 * c.rel - 0.3 * m.maxsim", 6)} AS mmr_score
       |      FROM cand c JOIN m$t m
       |        ON m.query_id = c.query_id AND m.vec_id = c.vec_id
       |      WHERE NOT EXISTS (SELECT 1 FROM ($selSoFar) z
       |                        WHERE z.query_id = c.query_id
       |                          AND z.vec_id = c.vec_id)))
       |  WHERE rn = 1)""".stripMargin
  }

  /** The ev20 Markov power iterations, unrolled — the pagerankIterCtes
    * shape without a teleport term (the kernel is proper on this corpus,
    * so mass is conserved; isolated states coalesce to 0). Round 12 per
    * iteration keeps the engines in lockstep. */
  private def markovIterCtes(iters: Int): Seq[String] = (1 to iters).map { t =>
    s"""pi$t AS (
       |  SELECT st.state, ${R("COALESCE(s.s, 0.0)", 12)} AS pi
       |  FROM states st
       |  LEFT JOIN (
       |    SELECT m.event_type AS state, SUM(p.pi * m.p) AS s
       |    FROM m JOIN pi${t - 1} p ON p.state = m.prev_type
       |    GROUP BY 1) s ON s.state = st.state)""".stripMargin
  }

  /** The g1 PageRank power iterations, unrolled (the mmrStepCtes trick).
    * Each iteration LEFT-joins the per-node incoming sum (<= 13 doubles —
    * tie-safe round 12 keeps the engines in lockstep across iterations)
    * back onto the node set, coalescing isolated nodes to the teleport
    * term. The 0.15 / 0.85 literals mirror the Spark side verbatim. */
  private def pagerankIterCtes(iters: Int): Seq[String] = (1 to iters).map { t =>
    s"""r$t AS (
       |  SELECT n.host,
       |    ${R(s"0.15 / nn.n + 0.85 * COALESCE(s.s, 0.0)", 12)} AS r
       |  FROM nodes n CROSS JOIN nn
       |  LEFT JOIN (
       |    SELECT e.dst AS host, SUM(p.r * e.w) AS s
       |    FROM ew e JOIN r${t - 1} p ON p.host = e.src
       |    GROUP BY 1) s ON s.host = n.host)""".stripMargin
  }

  /** The ev23 finite-horizon absorption iterations, unrolled over the
    * scenario × state grid: 1 at the absorbing state, 0 at the removed
    * state (the scenario name), else the kernel-weighted pull from the
    * previous step, rounded 12 (the markovIterCtes lockstep). */
  private def attrIterCtes(iters: Int): Seq[String] = (1 to iters).map { t =>
    s"""aa$t AS MATERIALIZED (
       |  SELECT g.scenario, g.state,
       |    CASE WHEN g.state = 'purchase' THEN 1.0
       |         WHEN g.state = g.scenario THEN 0.0
       |         ELSE ${R("COALESCE(s.v, 0.0)", 12)} END AS a
       |  FROM grid g
       |  LEFT JOIN (
       |    SELECT p.scenario, m.src AS state, SUM(m.p * p.a) AS v
       |    FROM m JOIN aa${t - 1} p ON p.state = m.dst
       |    GROUP BY 1, 2) s
       |    ON s.scenario = g.scenario AND s.state = g.state)""".stripMargin
  }

  /** The ev24 RFM Lloyd iterations, unrolled — the lloydCtes discipline
    * (argmin on tie-safe-rounded distance with centroid tiebreak, round-9
    * centroid means, empty clusters keep the previous centroid) over the
    * 3-feature behavioral frame instead of PQ subvectors. */
  // lazy: the `all` map initializes first, a strict val here would still
  // be null when the entry interpolates it (the fixedCbCte convention)
  private lazy val rfmDist2 =
    "(nr - cb.wr) * (nr - cb.wr) + (nf - cb.wf) * (nf - cb.wf) + (nm - cb.wm) * (nm - cb.wm)"
  private def rfmLloydCtes(iters: Int): Seq[String] = (1 to iters).flatMap { i =>
    Seq(
      s"""sa$i AS MATERIALIZED (
         |  SELECT user_id, nr, nf, nm, c FROM (
         |    SELECT rn.user_id, rn.nr, rn.nf, rn.nm, cb.c,
         |      ROW_NUMBER() OVER (PARTITION BY rn.user_id
         |        ORDER BY ${R(rfmDist2, 6)}, cb.c) AS rnk
         |    FROM rn CROSS JOIN scb${i - 1} cb) t WHERE rnk = 1)""".stripMargin,
      s"""sup$i AS (
         |  SELECT c, ${R("AVG(nr)", 9)} AS uwr, ${R("AVG(nf)", 9)} AS uwf,
         |         ${R("AVG(nm)", 9)} AS uwm
         |  FROM sa$i GROUP BY 1)""".stripMargin,
      s"""scb$i AS MATERIALIZED (
         |  SELECT p.c, COALESCE(u.uwr, p.wr) AS wr,
         |         COALESCE(u.uwf, p.wf) AS wf, COALESCE(u.uwm, p.wm) AS wm
         |  FROM scb${i - 1} p LEFT JOIN sup$i u ON u.c = p.c)""".stripMargin)
  }

  /** The g3 min-label propagation rounds, unrolled. Labels are strings —
    * float-free, so the engines agree structurally (binary collation on
    * ASCII hosts in both). Self-loops in `us` fold the keep-own-label
    * branch into the same MIN as the neighbor labels (the Spark side's
    * single-reference trick); MATERIALIZED because DuckDB inlines CTEs —
    * an unmaterialized chain re-plans the whole prefix per reference. */
  private def componentIterCtes(iters: Int): Seq[String] = (1 to iters).map { t =>
    s"""l$t AS MATERIALIZED (
       |  SELECT u.b AS host, MIN(p.comp) AS comp
       |  FROM us u JOIN l${t - 1} p ON p.host = u.a
       |  GROUP BY 1)""".stripMargin
  }

  /** The g4 HITS rounds, unrolled — two halves per iteration (authority
    * from hubs, hubs from authorities), each half's incoming sum rounded
    * tie-safe at 12 and then L1-normalized with the total and the ratio
    * both rounded at 12, mirroring Graph.hits in lockstep. */
  private def hitsIterCtes(iters: Int): Seq[String] = (1 to iters).flatMap { t =>
    Seq(
      s"""ar$t AS MATERIALIZED (
         |  SELECT n.host, COALESCE(s.a, 0.0) AS a
         |  FROM nodes n
         |  LEFT JOIN (
         |    SELECT e.dst AS host, ${R("SUM(p.h)", 12)} AS a
         |    FROM e JOIN h${t - 1} p ON p.host = e.src
         |    GROUP BY 1) s ON s.host = n.host)""".stripMargin,
      s"""at$t AS MATERIALIZED (
         |  SELECT host, ${R("a / tt.t", 12)} AS a
         |  FROM ar$t CROSS JOIN (SELECT ${R("SUM(a)", 12)} AS t FROM ar$t) tt)""".stripMargin,
      s"""hr$t AS MATERIALIZED (
         |  SELECT n.host, COALESCE(s.h, 0.0) AS h
         |  FROM nodes n
         |  LEFT JOIN (
         |    SELECT e.src AS host, ${R("SUM(p.a)", 12)} AS h
         |    FROM e JOIN at$t p ON p.host = e.dst
         |    GROUP BY 1) s ON s.host = n.host)""".stripMargin,
      s"""h$t AS MATERIALIZED (
         |  SELECT host, ${R("h / tt.t", 12)} AS h
         |  FROM hr$t CROSS JOIN (SELECT ${R("SUM(h)", 12)} AS t FROM hr$t) tt)""".stripMargin)
  }

  /** The t35 BPE merge-training rounds, unrolled — mirrors
    * Queries.t35BpeTrain in lockstep: per round, weighted adjacent-pair
    * counts over the marked-vocabulary frame (symbols re-split on '><'),
    * the top pair by (count DESC, left, right) as a 1-row CTE, then the
    * merge applied to every word with ONE literal replace (left-to-right
    * non-overlapping in both engines == BPE's greedy merge order).
    * MATERIALIZED per round — DuckDB inlines CTEs, and an unmaterialized
    * 8-round vocab chain re-plans the whole prefix per reference (the
    * componentIterCtes lesson). */
  private def bpeIterCtes(iters: Int): Seq[String] = (1 to iters).flatMap { t =>
    Seq(
      s"""p$t AS (
         |  SELECT sy[CAST(r.i AS INTEGER)] AS left_sym,
         |         sy[CAST(r.i AS INTEGER) + 1] AS right_sym,
         |         SUM(wc) AS pair_count
         |  FROM (SELECT string_split(substring(sw, 2, length(sw) - 2), '><') AS sy,
         |               wc
         |        FROM v${t - 1}) s,
         |       UNNEST(range(1, len(sy))) r(i)
         |  GROUP BY 1, 2)""".stripMargin,
      s"""t$t AS MATERIALIZED (
         |  SELECT $t AS round, left_sym, right_sym, pair_count
         |  FROM p$t ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1)""".stripMargin,
      s"""v$t AS MATERIALIZED (
         |  SELECT replace(sw, '<' || m.left_sym || '><' || m.right_sym || '>',
         |                 '<' || m.left_sym || m.right_sym || '>') AS sw, wc
         |  FROM v${t - 1} CROSS JOIN t$t m)""".stripMargin)
  }

  /** The e7 batch-perceptron epochs, unrolled — mirrors
    * Queries.e7PerceptronQuality in lockstep: margins on the previous
    * epoch's 9-dp weights with identical left-associated arithmetic
    * (bit-exact per row, so the miss predicate needs no rounding), the
    * corpus-mean gradients rounded 9, the weight update rounded 9. */
  private def perceptronIterCtes(epochs: Int): Seq[String] =
    Seq("w0 AS (SELECT 0.0 AS wb, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)") ++
      (1 to epochs).flatMap { t =>
        // MATERIALIZED per step — DuckDB inlines CTEs, and the chained
        // w/e/s references otherwise re-plan the whole prefix per epoch
        // (the componentIterCtes lesson: ~2^epochs plan blowup)
        Seq(
          s"""e$t AS MATERIALIZED (
             |  SELECT COUNT(*) AS n,
             |    SUM(CASE WHEN miss THEN 1 ELSE 0 END) AS n_miss,
             |    ${R("AVG(CASE WHEN miss THEN y ELSE 0.0 END)", 9)} AS gb,
             |    ${R("AVG(CASE WHEN miss THEN y * f1 ELSE 0.0 END)", 9)} AS g1,
             |    ${R("AVG(CASE WHEN miss THEN y * f2 ELSE 0.0 END)", 9)} AS g2,
             |    ${R("AVG(CASE WHEN miss THEN y * f3 ELSE 0.0 END)", 9)} AS g3
             |  FROM (
             |    SELECT f.*, (f.y * (w.wb + w.w1 * f.f1 + w.w2 * f.f2
             |      + w.w3 * f.f3) <= 0.0) AS miss
             |    FROM ft f CROSS JOIN w${t - 1} w))""".stripMargin,
          s"""s$t AS MATERIALIZED (
             |  SELECT $t AS epoch,
             |    ${R("w.wb + e.gb", 9)} AS bias,
             |    ${R("w.w1 + e.g1", 9)} AS w_len,
             |    ${R("w.w2 + e.g2", 9)} AS w_punct,
             |    ${R("w.w3 + e.g3", 9)} AS w_stop,
             |    e.n_miss, e.n
             |  FROM e$t e CROSS JOIN w${t - 1} w)""".stripMargin,
          s"""w$t AS MATERIALIZED (
             |  SELECT bias AS wb, w_len AS w1, w_punct AS w2, w_stop AS w3
             |  FROM s$t)""".stripMargin)
      }

  private def embUnnestCte(pred: String): String =
    s"""u AS (
       |  SELECT vec_id, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS i
       |  FROM embeddings$pred)""".stripMargin
  private lazy val normCte =
    """nrm AS (
      |  SELECT vec_id, SQRT(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS nv
      |  FROM u GROUP BY vec_id)""".stripMargin

  private lazy val enList = "'the', 'a', 'of', 'and', 'to', 'in', 'is'"

  /** Strict-order funnel oracle — shared by ev1 (window form) and ev2
    * (salted form): same semantics, different physical plan. */
  private lazy val funnelSql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS fv FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS fc
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.fv GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS fp
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.fc GROUP BY 1)
      |SELECT u.user_id,
      |       epoch_us(v.fv) AS first_view_us,
      |       epoch_us(c.fc) AS first_click_us,
      |       epoch_us(p.fp) AS first_purchase_us,
      |       CAST(CASE WHEN p.fp IS NOT NULL THEN 3
      |                 WHEN c.fc IS NOT NULL THEN 2
      |                 WHEN v.fv IS NOT NULL THEN 1
      |                 ELSE 0 END AS INTEGER) AS funnel_stage
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
      |LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  /** ev15: the funnel gates with a 7-day staleness bound per hop —
    * INTERVAL arithmetic on timestamps is exact in both engines. */
  private lazy val funnelWindowedSql: String =
    """WITH v AS (
      |  SELECT user_id, MIN(ts) AS fv FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, MIN(e.ts) AS fc
      |  FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.fv
      |    AND e.ts <= v.fv + INTERVAL 7 DAY GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, MIN(e.ts) AS fp
      |  FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.fc
      |    AND e.ts <= c.fc + INTERVAL 7 DAY GROUP BY 1)
      |SELECT u.user_id,
      |       epoch_us(v.fv) AS first_view_us,
      |       epoch_us(c.fc) AS first_click_us,
      |       epoch_us(p.fp) AS first_purchase_us,
      |       CAST(CASE WHEN p.fp IS NOT NULL THEN 3
      |                 WHEN c.fc IS NOT NULL THEN 2
      |                 WHEN v.fv IS NOT NULL THEN 1
      |                 ELSE 0 END AS INTEGER) AS funnel_stage
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
      |LEFT JOIN p USING (user_id)
      |ORDER BY user_id""".stripMargin

  private lazy val extSql: Map[String, String] = Map(
    "ev15_funnel_windowed" -> funnelWindowedSql,

    // Bigram-LM twin: t27's list_zip bigram build; the Jelinek-Mercer
    // interpolation renders with identical parenthesization to the Spark
    // side. The back-off weight is computed as (1.0 - 0.7), NOT the
    // literal 0.3: the Spark side evaluates lit(1.0 - lambda) =
    // 0.30000000000000004, a different double from 0.3 — both engines
    // must round the same ulp.
    "t28_bigram_lm" -> (
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bg AS (
         |  SELECT doc_id, bt AS bigram
         |  FROM (SELECT doc_id,
         |          list_transform(list_zip(w[1:-2], w[2:-1]),
         |                         x -> x[1] || ' ' || x[2]) AS bgs
         |        FROM tok)
         |  CROSS JOIN UNNEST(bgs) AS u(bt)),
         |btf AS (SELECT doc_id, bigram, COUNT(*) AS btf FROM bg GROUP BY 1, 2),
         |bocc AS (SELECT bigram, SUM(btf) AS bocc FROM btf GROUP BY 1),
         |un AS (SELECT t AS tok, COUNT(*) AS uocc
         |       FROM tok CROSS JOIN UNNEST(w) AS v(t) GROUP BY 1),
         |nu AS (SELECT CAST(SUM(uocc) AS DOUBLE) AS n_unigrams FROM un),
         |lp AS (
         |  SELECT btf.doc_id, btf.btf,
         |    ln(0.7 * (CAST(bocc.bocc AS DOUBLE) / u1.uocc) +
         |       (1.0 - 0.7) * (CAST(u2.uocc AS DOUBLE) / nu.n_unigrams)) AS lp
         |  FROM btf
         |  JOIN bocc USING (bigram)
         |  JOIN un u1 ON u1.tok = split_part(btf.bigram, ' ', 1)
         |  JOIN un u2 ON u2.tok = split_part(btf.bigram, ' ', 2)
         |  CROSS JOIN nu),
         |pd AS (
         |  SELECT doc_id, CAST(SUM(btf) AS BIGINT) AS n_bigrams,
         |         SUM(CAST(btf AS DOUBLE) * lp) AS slog
         |  FROM lp GROUP BY 1)
         |SELECT d.doc_id, pd.n_bigrams,
         |  ${R("-(pd.slog / pd.n_bigrams)", 6)} AS avg_neg_logprob2
         |FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    // Phash-cluster twin: m2's band/hamming candidate CTEs + the d6
    // recursive transitive closure with the LEAST representative.
    "m4_phash_clusters" -> ("WITH RECURSIVE " + Seq(
      s"""ph AS (
         |  SELECT doc_id, ${graft.ext.Multimodal.syntheticPhashSql(
                "//", (a, b) => s"xor($a, $b)",
                p => s"(CAST(1 AS BIGINT) << $p)")} AS phash
         |  FROM documents)""".stripMargin,
      """bd AS (
        |  SELECT doc_id, phash, t.band,
        |         CASE WHEN t.band = 4 THEN phash >> 48
        |              ELSE (phash >> (CAST(t.band AS INTEGER) * 12)) & 4095 END AS value
        |  FROM ph, range(0, 5) t(band))""".stripMargin,
      """cp AS (
        |  SELECT * FROM (
        |    SELECT bd.*, ROW_NUMBER() OVER (PARTITION BY band, value ORDER BY doc_id) AS rn
        |    FROM bd)
        |  WHERE rn <= 8)""".stripMargin,
      """pairs AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM cp a JOIN cp b
        |    ON a.band = b.band AND a.value = b.value AND a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 4)""".stripMargin,
      """edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM pairs)""".stripMargin,
      """reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin)
      .mkString(",\n") +
      """
        |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
    "d1_dedup_exact" ->
      """SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,

    "d7_keep_first" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT MIN(doc_id) FROM documents GROUP BY md5(text))
        |ORDER BY doc_id""".stripMargin,

    "d2_minhash_lsh" -> withCtes(toksCte, shCte, shxCte, sigCte, bandsCte,
      cappedCte)(
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
        |FROM capped a JOIN capped b
        |  ON a.band = b.band AND a.band_value = b.band_value AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin),

    // exact-Jaccard verification of the LSH candidates (the guard between
    // candidate generation and cluster merge): intersection of DISTINCT
    // trigram shingle sets per candidate pair, J = |I| / (|A|+|B|-|I|).
    // Joins on shingle STRINGS (the Spark side's xxhash64 is internal key
    // compression — the string join is the exact semantic oracle). The
    // >= 0.5 filter compares the RAW division: both engines divide the
    // same exact integers, so the quotient is bit-identical and cannot
    // straddle the threshold differently.
    // Dup-rate twin: d8's full candidate+verify CTE stack, reduced to the
    // distinct doc ids in surviving pairs and a per-source rate.
    "t30_dup_rate_by_source" -> withCtes(toksCte, shCte, shxCte, sigCte,
      bandsCte, cappedCte,
      """cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.band_value = b.band_value AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)""".stripMargin,
      "dsh AS (SELECT DISTINCT doc_id, shingle FROM shx)",
      "sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)",
      """iv AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |  FROM cand c JOIN dsh a ON a.doc_id = c.doc_a
        |               JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)""".stripMargin,
      """surv AS (
        |  SELECT c.doc_a, c.doc_b
        |  FROM cand c
        |  LEFT JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
        |  JOIN sz za ON za.doc_id = c.doc_a
        |  JOIN sz zb ON zb.doc_id = c.doc_b
        |  WHERE CAST(coalesce(iv.n_common, 0) AS DOUBLE)
        |        / (za.n + zb.n - coalesce(iv.n_common, 0)) >= 0.5)""".stripMargin,
      """dup AS (
        |  SELECT DISTINCT doc_id FROM (
        |    SELECT doc_a AS doc_id FROM surv
        |    UNION ALL SELECT doc_b AS doc_id FROM surv))""".stripMargin)(
      s"""SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs,
         |  ${R("SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END) / COUNT(*)", 6)} AS dup_rate
         |FROM documents d LEFT JOIN dup ON dup.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // BM25 (t31): the query fixture VALUES list renders from
    // Queries.bm25Queries — shared constant, independent formulations.
    // Arithmetic discipline: idf and the saturation term carry the
    // IDENTICAL parenthesization as the Spark side (left-assoc
    // idf * X / Y; (1.2 + 1.0) kept unfolded, the t28 ulp rule); N and
    // avgdl are exact (integer count; integer-sum/count division), so
    // both engines divide the same doubles.
    "t31_bm25" -> {
      val values = graft.Queries.bm25Queries
        .flatMap { case (qid, q) =>
          q.split(" ").distinct.map(t => s"($qid, '$t')") }
        .mkString(", ")
      val ts = "ln(1.0 + (n.nd - doc_freq + 0.5) / (doc_freq + 0.5)) * " +
        "(tf * (1.2 + 1.0)) / " +
        "(tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.dl / n.avgdl))"
      s"""WITH q(query_id, token) AS (VALUES $values),
         |tok AS (
         |  SELECT doc_id, len(w) AS dl, t AS token
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  CROSS JOIN UNNEST(w) AS u(t)),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf,
         |              FIRST(dl) AS dl
         |       FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
         |        FROM tf GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
         |             AVG(len(string_split(text, ' '))) AS avgdl
         |      FROM documents),
         |s AS (
         |  SELECT q.query_id, tf.doc_id, $ts AS term_score
         |  FROM tf JOIN q USING (token) JOIN dfq USING (token) CROSS JOIN n),
         |sc AS (SELECT query_id, doc_id, ${R("SUM(term_score)", 6)} AS bm25
         |       FROM s GROUP BY 1, 2),
         |r AS (SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
         |      FROM sc)
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, bm25
         |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
    },

    "d8_verified_pairs" -> withCtes(toksCte, shCte, shxCte, sigCte, bandsCte,
      cappedCte,
      """cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.band_value = b.band_value AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)""".stripMargin,
      "dsh AS (SELECT DISTINCT doc_id, shingle FROM shx)",
      "sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)",
      """iv AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |  FROM cand c JOIN dsh a ON a.doc_id = c.doc_a
        |               JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)""".stripMargin)(
      s"""SELECT c.doc_a, c.doc_b,
         |  ${R("CAST(coalesce(iv.n_common, 0) AS DOUBLE) / (za.n + zb.n - coalesce(iv.n_common, 0))", 6)} AS jaccard
         |FROM cand c
         |LEFT JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
         |JOIN sz za ON za.doc_id = c.doc_a
         |JOIN sz zb ON zb.doc_id = c.doc_b
         |WHERE CAST(coalesce(iv.n_common, 0) AS DOUBLE) / (za.n + zb.n - coalesce(iv.n_common, 0)) >= 0.5
         |ORDER BY 1, 2""".stripMargin),

    // connected components over the LSH candidate pairs: transitive closure
    // by recursive CTE (the oracle twin of Dedup.duplicateClusters' min-label
    // propagation); a node's representative is the min reachable doc_id.
    "d6_dup_clusters" -> ("WITH RECURSIVE " + Seq(toksCte, shCte, shxCte,
      sigCte, bandsCte, cappedCte,
      """pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.band_value = b.band_value AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)""".stripMargin,
      """edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM pairs)""".stripMargin,
      """reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin)
      .mkString(",\n") +
      """
        |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),

    // Best-of-cluster twin: the d6 recursive-CTE closure for membership,
    // then the t2 quality formula as the survivor election key — both
    // sides compare the tie-safe-ROUNDED score so an ulp can never flip
    // the argmax.
    "d11_best_of_cluster" -> {
      val punct = "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / nullif(length(text), 0)"
      val stop = s"CAST(len(list_filter(tok, t -> t IN ($enList))) AS DOUBLE) / len(tok)"
      "WITH RECURSIVE " + Seq(toksCte, shCte, shxCte, sigCte, bandsCte,
        cappedCte,
        """pairs AS (
          |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          |  FROM capped a JOIN capped b
          |    ON a.band = b.band AND a.band_value = b.band_value AND a.doc_id < b.doc_id
          |  GROUP BY 1, 2)""".stripMargin,
        """edges AS (
          |  SELECT doc_a AS src, doc_b AS dst FROM pairs
          |  UNION ALL
          |  SELECT doc_b AS src, doc_a AS dst FROM pairs)""".stripMargin,
        """reach AS (
          |  SELECT src, dst FROM edges
          |  UNION
          |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin,
        """memb AS (
          |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
          |  FROM reach GROUP BY src)""".stripMargin,
        s"""ql AS (
           |  SELECT doc_id,
           |    ${R(s"0.4 * LEAST(CAST(len(tok) AS DOUBLE) / 100, 1.0) + 0.3 * (1.0 - $punct) + 0.3 * LEAST($stop * 5, 1.0)", 6)} AS q6
           |  FROM toks)""".stripMargin,
        """sel AS (
          |  SELECT m.cluster_rep, m.doc_id, q.q6,
          |    ROW_NUMBER() OVER (PARTITION BY m.cluster_rep ORDER BY q.q6 DESC, m.doc_id) AS rn,
          |    COUNT(*) OVER (PARTITION BY m.cluster_rep) AS n_members,
          |    MAX(q.q6) OVER (PARTITION BY m.cluster_rep) AS best_quality
          |  FROM memb m JOIN ql q USING (doc_id))""".stripMargin)
        .mkString(",\n") +
        """
          |SELECT cluster_rep, CAST(n_members AS BIGINT) AS n_members,
          |       doc_id AS keep_doc_id, best_quality
          |FROM sel WHERE rn = 1 ORDER BY cluster_rep""".stripMargin
    },

    // Incremental-curation gate: like sim24, the oracle is deliberately
    // the BATCH formulation — keep-first digests over the whole corpus,
    // then the d2/d8/d6 chain (signatures, banded candidates under the
    // cap, exact-Jaccard verification, recursive-closure clusters) rooted
    // at that subset, survivors = docs that are their own cluster rep or
    // unclustered. A green row proves the three-batch ingest fold
    // reproduces batch curation's dedup front end bit-exactly.
    "d15_incremental_curation" -> ("WITH RECURSIVE " + Seq(
      """ku AS (
        |  SELECT * FROM documents WHERE doc_id IN (
        |    SELECT MIN(doc_id) FROM documents GROUP BY md5(text)))""".stripMargin,
      "toks AS (SELECT doc_id, lang, text, string_split(text, ' ') AS tok FROM ku)",
      shCte, shxCte, sigCte, bandsCte, cappedCte,
      """cand AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM capped a JOIN capped b
        |    ON a.band = b.band AND a.band_value = b.band_value AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)""".stripMargin,
      "dsh AS (SELECT DISTINCT doc_id, shingle FROM shx)",
      "sz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id)",
      """iv AS (
        |  SELECT c.doc_a, c.doc_b, count(*) AS n_common
        |  FROM cand c JOIN dsh a ON a.doc_id = c.doc_a
        |               JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        |  GROUP BY 1, 2)""".stripMargin,
      """ver AS (
        |  SELECT c.doc_a, c.doc_b
        |  FROM cand c
        |  LEFT JOIN iv ON iv.doc_a = c.doc_a AND iv.doc_b = c.doc_b
        |  JOIN sz za ON za.doc_id = c.doc_a
        |  JOIN sz zb ON zb.doc_id = c.doc_b
        |  WHERE CAST(coalesce(iv.n_common, 0) AS DOUBLE)
        |        / (za.n + zb.n - coalesce(iv.n_common, 0)) >= 0.5)""".stripMargin,
      """edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM ver
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM ver)""".stripMargin,
      """reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin,
      """memb AS (
        |  SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
        |  FROM reach GROUP BY src)""".stripMargin)
      .mkString(",\n") +
      """
        |SELECT k.doc_id, k.source, k.n_chars
        |FROM ku k LEFT JOIN memb m ON m.doc_id = k.doc_id
        |WHERE m.doc_id IS NULL OR m.cluster_rep = k.doc_id
        |ORDER BY k.doc_id""".stripMargin),

    "d3_simhash" -> {
      val votes = (0 until 16).map(i =>
        s"SUM(CASE WHEN (h // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s_$i")
        .mkString(",\n         ")
      val assembled = (0 until 16)
        .map(i => s"CASE WHEN s_$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
      withCtes(toksCte,
        "tokx AS (SELECT doc_id, unnest(tok) AS t FROM toks)",
        "hs AS (SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) AS h FROM tokx)",
        s"votes AS (\n  SELECT doc_id,\n         $votes\n  FROM hs GROUP BY doc_id)")(
        s"SELECT doc_id, CAST($assembled AS BIGINT) AS simhash FROM votes ORDER BY doc_id")
    },

    "d4_ngram_jaccard" -> withCtes(toksCte, shCte, shxCte,
      "shd AS (SELECT DISTINCT doc_id, shingle FROM shx WHERE doc_id % 4 = 0)",
      "sz AS (SELECT doc_id, COUNT(*) AS n FROM shd GROUP BY 1)",
      """it AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_common
        |  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)""".stripMargin)(
      s"""SELECT da AS doc_a, db AS doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
         |  ${R("CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common)", 6)} AS jaccard
         |FROM it JOIN sz sa ON sa.doc_id = da JOIN sz sb ON sb.doc_id = db
         |WHERE CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) >= 0.2
         |ORDER BY doc_a, doc_b""".stripMargin),

    "d5_embedding_neardup" -> withCtes(
      embUnnestCte(" WHERE vec_id % 10 = 0"), normCte,
      """dt AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
        |  FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
        |  GROUP BY 1, 2)""".stripMargin)(
      s"""SELECT va AS vec_a, vb AS vec_b,
         |  ${R("dp / (na.nv * nb.nv)", 6)} AS cosine
         |FROM dt JOIN nrm na ON na.vec_id = va JOIN nrm nb ON nb.vec_id = vb
         |WHERE dp / (na.nv * nb.nv) >= 0.3
         |ORDER BY vec_a, vec_b""".stripMargin),

    // Fuzzy-dedup twin: the same (lang, normalized-prefix) blocking, the
    // same 64-per-block cap, then DuckDB's levenshtein over the identical
    // pure-ASCII 64-char normalized prefixes (the normalization strips to
    // lowercase alnum+space, so both engines' edit distance counts the
    // same units). regexp_replace needs the 'g' flag here — Spark's is
    // global by default.
    "d10_fuzzy_dedup" -> (
      s"""WITH nm AS (
         |  SELECT doc_id, COALESCE(lang, '') AS lang,
         |         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
         |  FROM documents),
         |blocked AS (
         |  SELECT doc_id, lang, substr(norm, 1, 16) AS block_key,
         |         substr(norm, 1, 64) AS cmp
         |  FROM nm),
         |capped AS (
         |  SELECT doc_id, lang, block_key, cmp FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY lang, block_key ORDER BY doc_id) AS rn
         |    FROM blocked) WHERE rn <= 64),
         |pr AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(levenshtein(a.cmp, b.cmp) AS INTEGER) AS edit_distance,
         |         GREATEST(length(a.cmp), length(b.cmp)) AS mx
         |  FROM capped a JOIN capped b
         |    ON a.lang = b.lang AND a.block_key = b.block_key
         |   AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, edit_distance,
         |  CASE WHEN mx = 0 THEN 1.0
         |       ELSE ${R("1 - CAST(edit_distance AS DOUBLE) / mx", 6)} END AS sim_ratio
         |FROM pr WHERE edit_distance <= 8 ORDER BY doc_a, doc_b""".stripMargin),

    "sim1_cosine_topk" -> sim1BruteSqlAtCap(Long.MaxValue),

    // PQ twin: codebook rebuilt from the public md5 formula; per-subspace
    // encode argmins and the final ranking both compare tie-safe-ROUNDED
    // distances (subspace sums are 8 doubles — an unrounded argmin would
    // let a summation-order ulp flip a code cross-engine).
    // Distortion twin: sim7's cb/el/enc encode CTEs, re-joined to the
    // codeword coordinates and reduced to the per-subspace report; per-
    // vector dist2 rounds tie-safe before the avg/max like the Spark side.
    "sim16_pq_distortion" -> withCtes(
      """cb AS (
        |  SELECT s, c, d,
        |    (CAST(('0x' || substr(md5('pq_' || CAST(s AS VARCHAR) || '_' || CAST(c AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(s), range(0, 16) t2(c), range(1, 9) t3(d))""".stripMargin,
      """u AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings)""".stripMargin,
      "el AS (SELECT vec_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, v FROM u)",
      """enc0 AS (
        |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
        |  FROM el e JOIN cb ON cb.s = e.s AND cb.d = e.d
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""enc AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
         |    FROM enc0) WHERE rn = 1)""".stripMargin,
      s"""ps AS (
         |  SELECT el.vec_id, el.s,
         |         ${R("SUM((el.v - cb.w) * (el.v - cb.w))", 6)} AS dist2
         |  FROM el JOIN enc ON enc.vec_id = el.vec_id AND enc.s = el.s
         |          JOIN cb ON cb.s = el.s AND cb.d = el.d AND cb.c = enc.code
         |  GROUP BY 1, 2)""".stripMargin)(
      s"""SELECT s, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |  ${R("AVG(dist2)", 6)} AS avg_dist2,
         |  ${R("MAX(dist2)", 6)} AS max_dist2
         |FROM ps GROUP BY s ORDER BY s""".stripMargin),

    "sim7_pq_topk" -> withCtes(
      """cb AS (
        |  SELECT s, c, d,
        |    (CAST(('0x' || substr(md5('pq_' || CAST(s AS VARCHAR) || '_' || CAST(c AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(s), range(0, 16) t2(c), range(1, 9) t3(d))""".stripMargin,
      """u AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS i
        |  FROM embeddings)""".stripMargin,
      "el AS (SELECT vec_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, v FROM u)",
      """enc0 AS (
        |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
        |  FROM el e JOIN cb ON cb.s = e.s AND cb.d = e.d
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""enc AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
         |    FROM enc0) WHERE rn = 1)""".stripMargin,
      """adc AS (
        |  SELECT q.vec_id AS query_id, q.s, cb.c, SUM((q.v - cb.w) * (q.v - cb.w)) AS qd
        |  FROM el q JOIN cb ON cb.s = q.s AND cb.d = q.d
        |  WHERE q.vec_id % 100 = 0
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""dd AS (
         |  SELECT a.query_id, e.vec_id, ${R("SUM(a.qd)", 6)} AS adc_dist2
         |  FROM enc e JOIN adc a ON a.s = e.s AND a.c = e.code
         |    AND e.vec_id <> a.query_id
         |  GROUP BY 1, 2)""".stripMargin)(
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, adc_dist2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rank
        |  FROM dd)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // sim7 + exact rerank: the same ADC chain proposes a 50-deep
    // shortlist (ROW_NUMBER by rounded adc_dist2, vec_id — the engine's
    // top_k_by boundary), then only those 50 pairs get exact dot/norm
    // cosine and the final rank (rounded cosine DESC, vec_id).
    "sim9_pq_rerank" -> withCtes(
      embUnnestCte(""), normCte,
      """cb AS (
        |  SELECT s, c, d,
        |    (CAST(('0x' || substr(md5('pq_' || CAST(s AS VARCHAR) || '_' || CAST(c AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(s), range(0, 16) t2(c), range(1, 9) t3(d))""".stripMargin,
      "el AS (SELECT vec_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, CAST(v AS DOUBLE) AS v FROM u)",
      """enc0 AS (
        |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
        |  FROM el e JOIN cb ON cb.s = e.s AND cb.d = e.d
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""enc AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
         |    FROM enc0) WHERE rn = 1)""".stripMargin,
      """adc AS (
        |  SELECT q.vec_id AS query_id, q.s, cb.c, SUM((q.v - cb.w) * (q.v - cb.w)) AS qd
        |  FROM el q JOIN cb ON cb.s = q.s AND cb.d = q.d
        |  WHERE q.vec_id % 100 = 0
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""dd AS (
         |  SELECT a.query_id, e.vec_id, ${R("SUM(a.qd)", 6)} AS adc_dist2
         |  FROM enc e JOIN adc a ON a.s = e.s AND a.c = e.code
         |    AND e.vec_id <> a.query_id
         |  GROUP BY 1, 2)""".stripMargin,
      """sl AS (
        |  SELECT query_id, vec_id, adc_dist2 FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rn
        |    FROM dd) WHERE rn <= 50)""".stripMargin,
      """dp AS (
        |  SELECT s.query_id, s.vec_id, s.adc_dist2,
        |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
        |  FROM sl s JOIN u q ON q.vec_id = s.query_id
        |            JOIN u c ON c.vec_id = s.vec_id AND c.i = q.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""sc AS (
         |  SELECT query_id, dp.vec_id, adc_dist2,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM dp JOIN nrm nq ON nq.vec_id = query_id
         |          JOIN nrm nc ON nc.vec_id = dp.vec_id)""".stripMargin)(
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine, adc_dist2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM sc)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // IVF-PQ twin: sim3's assignment/probe CTEs composed with sim7's
    // encode/ADC CTEs — routing ranks raw anchor scores (the proven sim3
    // contract), codes and the final ranking compare tie-safe-ROUNDED
    // distances (the proven sim7 contract).
    "sim8_ivfpq" -> withCtes(
      embUnnestCte(""),
      """an AS (
        |  SELECT c, d,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
      "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
      """sc0 AS (
        |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
        |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
      """scr AS (
        |  SELECT vec_id, c,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
        |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
      "assigned AS (SELECT vec_id, c AS list_id FROM scr WHERE rnk = 1)",
      """probes AS (
        |  SELECT vec_id AS query_id, c AS list_id FROM scr
        |  WHERE vec_id % 100 = 0 AND rnk <= 2)""".stripMargin,
      """cb AS (
        |  SELECT s, c, d,
        |    (CAST(('0x' || substr(md5('pq_' || CAST(s AS VARCHAR) || '_' || CAST(c AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(s), range(0, 16) t2(c), range(1, 9) t3(d))""".stripMargin,
      "el AS (SELECT vec_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, CAST(v AS DOUBLE) AS v FROM u)",
      """enc0 AS (
        |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
        |  FROM el e JOIN cb ON cb.s = e.s AND cb.d = e.d
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""enc AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
         |    FROM enc0) WHERE rn = 1)""".stripMargin,
      """adc AS (
        |  SELECT q.vec_id AS query_id, q.s, cb.c, SUM((q.v - cb.w) * (q.v - cb.w)) AS qd
        |  FROM el q JOIN cb ON cb.s = q.s AND cb.d = q.d
        |  WHERE q.vec_id % 100 = 0
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""dd AS (
         |  SELECT p.query_id, e.vec_id, a2.list_id, ${R("SUM(a.qd)", 6)} AS adc_dist2
         |  FROM probes p
         |  JOIN assigned a2 ON a2.list_id = p.list_id AND a2.vec_id <> p.query_id
         |  JOIN enc e ON e.vec_id = a2.vec_id
         |  JOIN adc a ON a.query_id = p.query_id AND a.s = e.s AND a.c = e.code
         |  GROUP BY 1, 2, 3)""".stripMargin)(
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, list_id, adc_dist2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rank
        |  FROM dd)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // sim8 + exact rerank: sim8's routed-ADC chain proposes the 50-deep
    // shortlist (drawn from the probed lists only), the sim9 rerank tail
    // re-scores exactly those pairs. list_id is consumed by the routing
    // and dropped from the output (the engine's rerankShortlist shape).
    "sim10_ivfpq_rerank" -> withCtes(
      embUnnestCte(""), normCte,
      """an AS (
        |  SELECT c, d,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
      "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
      """sc0 AS (
        |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
        |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
      """scr AS (
        |  SELECT vec_id, c,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
        |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
      "assigned AS (SELECT vec_id, c AS list_id FROM scr WHERE rnk = 1)",
      """probes AS (
        |  SELECT vec_id AS query_id, c AS list_id FROM scr
        |  WHERE vec_id % 100 = 0 AND rnk <= 2)""".stripMargin,
      """cb AS (
        |  SELECT s, c, d,
        |    (CAST(('0x' || substr(md5('pq_' || CAST(s AS VARCHAR) || '_' || CAST(c AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(s), range(0, 16) t2(c), range(1, 9) t3(d))""".stripMargin,
      "el AS (SELECT vec_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, CAST(v AS DOUBLE) AS v FROM u)",
      """enc0 AS (
        |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
        |  FROM el e JOIN cb ON cb.s = e.s AND cb.d = e.d
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""enc AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
         |    FROM enc0) WHERE rn = 1)""".stripMargin,
      """adc AS (
        |  SELECT q.vec_id AS query_id, q.s, cb.c, SUM((q.v - cb.w) * (q.v - cb.w)) AS qd
        |  FROM el q JOIN cb ON cb.s = q.s AND cb.d = q.d
        |  WHERE q.vec_id % 100 = 0
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""dd AS (
         |  SELECT p.query_id, e.vec_id, ${R("SUM(a.qd)", 6)} AS adc_dist2
         |  FROM probes p
         |  JOIN assigned a2 ON a2.list_id = p.list_id AND a2.vec_id <> p.query_id
         |  JOIN enc e ON e.vec_id = a2.vec_id
         |  JOIN adc a ON a.query_id = p.query_id AND a.s = e.s AND a.c = e.code
         |  GROUP BY 1, 2)""".stripMargin,
      """sl AS (
        |  SELECT query_id, vec_id, adc_dist2 FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rn
        |    FROM dd) WHERE rn <= 50)""".stripMargin,
      """dpp AS (
        |  SELECT s.query_id, s.vec_id, s.adc_dist2,
        |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
        |  FROM sl s JOIN u q ON q.vec_id = s.query_id
        |            JOIN u c ON c.vec_id = s.vec_id AND c.i = q.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""scf AS (
         |  SELECT query_id, dpp.vec_id, adc_dist2,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM dpp JOIN nrm nq ON nq.vec_id = query_id
         |           JOIN nrm nc ON nc.vec_id = dpp.vec_id)""".stripMargin)(
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine, adc_dist2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scf)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // sim9's production (fixed-query-batch) shape: identical CTE chain to
    // sim9_pq_rerank except the ADC query predicate, which pins the batch
    // to vec_id ≡ 0 (mod 100) below 2000 — the e4 recipe. The cap joins
    // only against the tiny cb table so an inline WHERE pushes fine (the
    // e4 CTE-prefilter hazard was its 64-key u-self-join, absent here).
    "sim17_pq_rerank_batch" -> withCtes(
      embUnnestCte(""), normCte,
      """cb AS (
        |  SELECT s, c, d,
        |    (CAST(('0x' || substr(md5('pq_' || CAST(s AS VARCHAR) || '_' || CAST(c AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(s), range(0, 16) t2(c), range(1, 9) t3(d))""".stripMargin,
      "el AS (SELECT vec_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, CAST(v AS DOUBLE) AS v FROM u)",
      """enc0 AS (
        |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
        |  FROM el e JOIN cb ON cb.s = e.s AND cb.d = e.d
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""enc AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
         |    FROM enc0) WHERE rn = 1)""".stripMargin,
      """adc AS (
        |  SELECT q.vec_id AS query_id, q.s, cb.c, SUM((q.v - cb.w) * (q.v - cb.w)) AS qd
        |  FROM el q JOIN cb ON cb.s = q.s AND cb.d = q.d
        |  WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""dd AS (
         |  SELECT a.query_id, e.vec_id, ${R("SUM(a.qd)", 6)} AS adc_dist2
         |  FROM enc e JOIN adc a ON a.s = e.s AND a.c = e.code
         |    AND e.vec_id <> a.query_id
         |  GROUP BY 1, 2)""".stripMargin,
      """sl AS (
        |  SELECT query_id, vec_id, adc_dist2 FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rn
        |    FROM dd) WHERE rn <= 50)""".stripMargin,
      """dp AS (
        |  SELECT s.query_id, s.vec_id, s.adc_dist2,
        |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
        |  FROM sl s JOIN u q ON q.vec_id = s.query_id
        |            JOIN u c ON c.vec_id = s.vec_id AND c.i = q.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""sc AS (
         |  SELECT query_id, dp.vec_id, adc_dist2,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM dp JOIN nrm nq ON nq.vec_id = query_id
         |          JOIN nrm nc ON nc.vec_id = dp.vec_id)""".stripMargin)(
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine, adc_dist2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM sc)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // sim10's production (fixed-query-batch) shape: identical CTE chain to
    // sim10_ivfpq_rerank except the probes and ADC query predicates carry
    // the vec_id < 2000 batch cap.
    "sim18_ivfpq_rerank_batch" -> withCtes(
      embUnnestCte(""), normCte,
      """an AS (
        |  SELECT c, d,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
      "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
      """sc0 AS (
        |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
        |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
      """scr AS (
        |  SELECT vec_id, c,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
        |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
      "assigned AS (SELECT vec_id, c AS list_id FROM scr WHERE rnk = 1)",
      """probes AS (
        |  SELECT vec_id AS query_id, c AS list_id FROM scr
        |  WHERE vec_id % 100 = 0 AND vec_id < 2000 AND rnk <= 2)""".stripMargin,
      """cb AS (
        |  SELECT s, c, d,
        |    (CAST(('0x' || substr(md5('pq_' || CAST(s AS VARCHAR) || '_' || CAST(c AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(s), range(0, 16) t2(c), range(1, 9) t3(d))""".stripMargin,
      "el AS (SELECT vec_id, (i - 1) // 8 AS s, (i - 1) % 8 + 1 AS d, CAST(v AS DOUBLE) AS v FROM u)",
      """enc0 AS (
        |  SELECT e.vec_id, e.s, cb.c, SUM((e.v - cb.w) * (e.v - cb.w)) AS dist2
        |  FROM el e JOIN cb ON cb.s = e.s AND cb.d = e.d
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""enc AS (
         |  SELECT vec_id, s, c AS code FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |        PARTITION BY vec_id, s ORDER BY ${R("dist2", 6)}, c) AS rn
         |    FROM enc0) WHERE rn = 1)""".stripMargin,
      """adc AS (
        |  SELECT q.vec_id AS query_id, q.s, cb.c, SUM((q.v - cb.w) * (q.v - cb.w)) AS qd
        |  FROM el q JOIN cb ON cb.s = q.s AND cb.d = q.d
        |  WHERE q.vec_id % 100 = 0 AND q.vec_id < 2000
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""dd AS (
         |  SELECT p.query_id, e.vec_id, ${R("SUM(a.qd)", 6)} AS adc_dist2
         |  FROM probes p
         |  JOIN assigned a2 ON a2.list_id = p.list_id AND a2.vec_id <> p.query_id
         |  JOIN enc e ON e.vec_id = a2.vec_id
         |  JOIN adc a ON a.query_id = p.query_id AND a.s = e.s AND a.c = e.code
         |  GROUP BY 1, 2)""".stripMargin,
      """sl AS (
        |  SELECT query_id, vec_id, adc_dist2 FROM (
        |    SELECT *, ROW_NUMBER() OVER (
        |        PARTITION BY query_id ORDER BY adc_dist2, vec_id) AS rn
        |    FROM dd) WHERE rn <= 50)""".stripMargin,
      """dpp AS (
        |  SELECT s.query_id, s.vec_id, s.adc_dist2,
        |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
        |  FROM sl s JOIN u q ON q.vec_id = s.query_id
        |            JOIN u c ON c.vec_id = s.vec_id AND c.i = q.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""scf AS (
         |  SELECT query_id, dpp.vec_id, adc_dist2,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM dpp JOIN nrm nq ON nq.vec_id = query_id
         |           JOIN nrm nc ON nc.vec_id = dpp.vec_id)""".stripMargin)(
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, cosine, adc_dist2 FROM (
        |  SELECT *, ROW_NUMBER() OVER (
        |      PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM scf)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Hard-negative twin: sim1's dot-product/norm formulation with the
    // label-mismatch constraint applied at the pair join; the rank window
    // mirrors the engine's top_k_by + window (rounded cosine DESC, neg_id).
    "e3_hard_negatives" -> withCtes(
      embUnnestCte(""), normCte,
      "lab AS (SELECT vec_id, label FROM embeddings)",
      """qd AS (
        |  SELECT q.vec_id AS anchor_id, c.vec_id AS neg_id,
        |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
        |  FROM u q JOIN u c ON q.i = c.i AND q.vec_id % 100 = 0
        |  JOIN lab ql ON ql.vec_id = q.vec_id
        |  JOIN lab cl ON cl.vec_id = c.vec_id AND cl.label <> ql.label
        |  GROUP BY 1, 2)""".stripMargin,
      s"""sc AS (
         |  SELECT anchor_id, neg_id, ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM qd JOIN nrm nq ON nq.vec_id = anchor_id
         |           JOIN nrm nc ON nc.vec_id = neg_id)""".stripMargin)(
      """SELECT anchor_id, ql.label AS anchor_label,
        |       CAST(rank AS INTEGER) AS rank, neg_id,
        |       cl.label AS neg_label, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, neg_id) AS rank
        |  FROM sc) r
        |JOIN lab ql ON ql.vec_id = r.anchor_id
        |JOIN lab cl ON cl.vec_id = r.neg_id
        |WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin),

    // e3's production shape: the anchor predicate is the only semantic
    // change — a FIXED batch (vec_id ≡ 50 mod 100, below 2000) instead of
    // the corpus-growing queryMod sample, so the mined set is constant
    // once the corpus passes the driver's sf0.1 size. The anchors are
    // pre-filtered in their own CTE (not an ON-clause predicate like
    // e3's): the pair join's key `i` has only 64 distinct values, so an
    // unpushed anchor filter would leave a 64-key self-join of the full
    // unnest — at sf10 (12.8 M unnest rows) DuckDB's plan spilled past
    // the disk before the filter applied; the CTE makes the pushdown
    // structural. Same rows, same hash.
    "e4_hard_negatives_batch" -> withCtes(
      embUnnestCte(""), normCte,
      "lab AS (SELECT vec_id, label FROM embeddings)",
      """qsel AS (
        |  SELECT vec_id, i, v FROM u
        |  WHERE vec_id % 100 = 50 AND vec_id < 2000)""".stripMargin,
      """qd AS (
        |  SELECT q.vec_id AS anchor_id, c.vec_id AS neg_id,
        |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
        |  FROM qsel q JOIN u c ON q.i = c.i
        |  JOIN lab ql ON ql.vec_id = q.vec_id
        |  JOIN lab cl ON cl.vec_id = c.vec_id AND cl.label <> ql.label
        |  GROUP BY 1, 2)""".stripMargin,
      s"""sc AS (
         |  SELECT anchor_id, neg_id, ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM qd JOIN nrm nq ON nq.vec_id = anchor_id
         |           JOIN nrm nc ON nc.vec_id = neg_id)""".stripMargin)(
      """SELECT anchor_id, ql.label AS anchor_label,
        |       CAST(rank AS INTEGER) AS rank, neg_id,
        |       cl.label AS neg_label, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, neg_id) AS rank
        |  FROM sc) r
        |JOIN lab ql ON ql.vec_id = r.anchor_id
        |JOIN lab cl ON cl.vec_id = r.neg_id
        |WHERE rank <= 5 ORDER BY anchor_id, rank""".stripMargin),

    "sim2_lsh_topk" -> sim2LshSqlAtK(3),

    // Range-search twin: sim2's bucket/candidate/score CTEs with the
    // denser % 10 query set; the final stage is the tau filter on the
    // tie-safe-rounded cosine instead of a top-k window.
    "sim15_range_search" -> withCtes(
      embUnnestCte(""), normCte,
      """pl AS (
        |  SELECT p, d,
        |    (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(p), range(1, 65) t2(d))""".stripMargin,
      """pd AS (
        |  SELECT u.vec_id, pl.p, SUM(CAST(u.v AS DOUBLE) * pl.w) AS pdot
        |  FROM u JOIN pl ON pl.d = u.i GROUP BY 1, 2)""".stripMargin,
      """bu AS (
        |  SELECT vec_id,
        |         CAST(SUM(CASE WHEN pdot > 0 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM pd GROUP BY 1)""".stripMargin,
      "qs AS (SELECT vec_id AS query_id, bucket FROM bu WHERE vec_id % 10 = 0)",
      """cand AS (
        |  SELECT qs.query_id, bu.vec_id, qs.bucket
        |  FROM qs JOIN bu ON bu.bucket = qs.bucket AND bu.vec_id <> qs.query_id)""".stripMargin,
      """cd AS (
        |  SELECT c.query_id, c.vec_id, c.bucket,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
        |  FROM cand c JOIN u a ON a.vec_id = c.query_id
        |              JOIN u b ON b.vec_id = c.vec_id AND b.i = a.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""sc AS (
         |  SELECT query_id, cd.vec_id, bucket,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM cd JOIN nrm nq ON nq.vec_id = query_id
         |           JOIN nrm nc ON nc.vec_id = cd.vec_id)""".stripMargin)(
      """SELECT query_id, vec_id, bucket, cosine FROM sc
        |WHERE cosine >= 0.1 ORDER BY query_id, vec_id""".stripMargin),

    // Confusion twin: e2's u/cent/d/r CTEs reduced to (label, predicted)
    // cells with window-sum marginals; recall/precision fractions render
    // with the same n / marginal parenthesization as the Spark side.
    "e6_confusion" -> {
      val cavg = R("AVG(v)", 6)
      val d2 = R("SUM((u.v - c.centroid) * (u.v - c.centroid))", 6)
      s"""WITH u AS (
         |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
         |         generate_subscripts(embedding, 1) AS i
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS c_label, i, $cavg AS centroid
         |  FROM u GROUP BY 1, 2),
         |d AS (
         |  SELECT u.vec_id, u.label, c.c_label, $d2 AS dist2
         |  FROM u JOIN cent c ON u.i = c.i
         |  GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
         |  FROM d),
         |cells AS (
         |  SELECT label, c_label AS predicted, COUNT(*) AS n
         |  FROM r WHERE rn = 1 GROUP BY 1, 2),
         |m AS (
         |  SELECT label, predicted, n,
         |    CAST(SUM(n) OVER (PARTITION BY label) AS BIGINT) AS n_true,
         |    CAST(SUM(n) OVER (PARTITION BY predicted) AS BIGINT) AS n_pred
         |  FROM cells)
         |SELECT label, predicted, n, n_true, n_pred,
         |  ${R("n / n_true", 6)} AS recall_frac,
         |  ${R("n / n_pred", 6)} AS precision_frac
         |FROM m ORDER BY label, predicted""".stripMargin
    },

    // multi-probe LSH: sim2's CTEs plus single-bit flips of each query's
    // 2 lowest-|margin| hyperplanes (tie-safe-rounded margin, plane id
    // tiebreak — an unrounded float rank could pick different probe
    // buckets across engines). A candidate lives in exactly one bucket
    // and probed buckets are distinct, so no dedup is needed.
    "sim6_lsh_multiprobe" -> sim6MultiProbeSqlAtK(3),

    "sim3_ivf_topk" -> sim3IvfSqlAtK(3),

    // RRF twin: the sim2 chain verbatim (pl..sc) and the sim3 chain with
    // its colliding CTEs renamed (icand/icd/isc), both cut at rank<=10,
    // fused by the exact-reciprocal sum and re-ranked on the rounded
    // score with the vec_id tiebreak.
    "sim14_rrf" -> withCtes(
      embUnnestCte(""), normCte,
      """pl AS (
        |  SELECT p, d,
        |    (CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 8) t1(p), range(1, 65) t2(d))""".stripMargin,
      """pd AS (
        |  SELECT u.vec_id, pl.p, SUM(CAST(u.v AS DOUBLE) * pl.w) AS pdot
        |  FROM u JOIN pl ON pl.d = u.i GROUP BY 1, 2)""".stripMargin,
      """bu AS (
        |  SELECT vec_id,
        |         CAST(SUM(CASE WHEN pdot > 0 THEN CAST(POWER(2, p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM pd GROUP BY 1)""".stripMargin,
      "qs AS (SELECT vec_id AS query_id, bucket FROM bu WHERE vec_id % 100 = 0)",
      """cand AS (
        |  SELECT qs.query_id, bu.vec_id, qs.bucket
        |  FROM qs JOIN bu ON bu.bucket = qs.bucket AND bu.vec_id <> qs.query_id)""".stripMargin,
      """cd AS (
        |  SELECT c.query_id, c.vec_id, c.bucket,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
        |  FROM cand c JOIN u a ON a.vec_id = c.query_id
        |              JOIN u b ON b.vec_id = c.vec_id AND b.i = a.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""sc AS (
         |  SELECT query_id, cd.vec_id, bucket,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM cd JOIN nrm nq ON nq.vec_id = query_id
         |           JOIN nrm nc ON nc.vec_id = cd.vec_id)""".stripMargin,
      """ltop AS (
        |  SELECT query_id, vec_id, CAST(rank AS INTEGER) AS lsh_rank FROM (
        |    SELECT query_id, vec_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM sc)
        |  WHERE rank <= 10)""".stripMargin,
      """an AS (
        |  SELECT c, d,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
      "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
      """sc0 AS (
        |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
        |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
      """scr AS (
        |  SELECT vec_id, c, adot / anorm AS score,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
        |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
      "assigned AS (SELECT vec_id, c AS list_id FROM scr WHERE rnk = 1)",
      """probes AS (
        |  SELECT vec_id AS query_id, c AS list_id FROM scr
        |  WHERE vec_id % 100 = 0 AND rnk <= 2)""".stripMargin,
      """icand AS (
        |  SELECT p.query_id, a.vec_id
        |  FROM probes p JOIN assigned a ON a.list_id = p.list_id AND a.vec_id <> p.query_id)""".stripMargin,
      """icd AS (
        |  SELECT c.query_id, c.vec_id,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
        |  FROM icand c JOIN u a ON a.vec_id = c.query_id
        |               JOIN u b ON b.vec_id = c.vec_id AND b.i = a.i
        |  GROUP BY 1, 2)""".stripMargin,
      s"""isc AS (
         |  SELECT query_id, icd.vec_id,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM icd JOIN nrm nq ON nq.vec_id = query_id
         |           JOIN nrm nc ON nc.vec_id = icd.vec_id)""".stripMargin,
      """itop AS (
        |  SELECT query_id, vec_id, CAST(rank AS INTEGER) AS ivf_rank FROM (
        |    SELECT query_id, vec_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM isc)
        |  WHERE rank <= 10)""".stripMargin,
      s"""f AS (
         |  SELECT COALESCE(l.query_id, i.query_id) AS query_id,
         |         COALESCE(l.vec_id, i.vec_id) AS vec_id,
         |         l.lsh_rank, i.ivf_rank,
         |         ${R("COALESCE(1.0 / (60 + l.lsh_rank), 0) + COALESCE(1.0 / (60 + i.ivf_rank), 0)", 6)} AS rrf
         |  FROM ltop l FULL OUTER JOIN itop i
         |    ON l.query_id = i.query_id AND l.vec_id = i.vec_id)""".stripMargin)(
      """SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, lsh_rank, ivf_rank, rrf FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, vec_id) AS rank
        |  FROM f)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // Drift twin: per-(snapshot, label, dim) means tie-safe-rounded at 6
    // BEFORE the distance math (the e1 centroid treatment), distances over
    // the labels x dims table.
    "sim13_drift" -> withCtes(
      embUnnestCte(""),
      s"""c AS (
         |  SELECT e.label, (u.vec_id % 2 = 0) AS is_old, u.i,
         |         ${R("AVG(CAST(u.v AS DOUBLE))", 6)} AS w
         |  FROM u JOIN embeddings e USING (vec_id) GROUP BY 1, 2, 3)""".stripMargin,
      "o AS (SELECT label, i, w AS wo FROM c WHERE is_old)",
      "n AS (SELECT label, i, w AS wn FROM c WHERE NOT is_old)",
      s"""d AS (
         |  SELECT label,
         |    ${R("sqrt(SUM((wo - wn) * (wo - wn)))", 6)} AS centroid_l2,
         |    ${R("SUM(wo * wn) / (sqrt(SUM(wo * wo)) * sqrt(SUM(wn * wn)))", 6)} AS centroid_cos
         |  FROM o JOIN n USING (label, i) GROUP BY 1)""".stripMargin,
      """cnt AS (
        |  SELECT label,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
        |    CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_new
        |  FROM embeddings GROUP BY 1)""".stripMargin)(
      """SELECT label, n_old, n_new, centroid_l2, centroid_cos
        |FROM d JOIN cnt USING (label) ORDER BY label""".stripMargin),

    // k-NN-classify twin: sim3's IVF pipeline at rank<=5, then labeled
    // majority vote with the (votes desc, label asc) tiebreak.
    "sim12_knn_classify" -> withCtes(
      embUnnestCte(""), normCte,
      """an AS (
        |  SELECT c, d,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
      "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
      """sc0 AS (
        |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
        |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
      """scr AS (
        |  SELECT vec_id, c, adot / anorm AS score,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
        |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
      "assigned AS (SELECT vec_id, c AS list_id FROM scr WHERE rnk = 1)",
      """probes AS (
        |  SELECT vec_id AS query_id, c AS list_id FROM scr
        |  WHERE vec_id % 100 = 0 AND rnk <= 2)""".stripMargin,
      """cand AS (
        |  SELECT p.query_id, a.vec_id, a.list_id
        |  FROM probes p JOIN assigned a ON a.list_id = p.list_id AND a.vec_id <> p.query_id)""".stripMargin,
      """cd AS (
        |  SELECT c.query_id, c.vec_id,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
        |  FROM cand c JOIN u a ON a.vec_id = c.query_id
        |              JOIN u b ON b.vec_id = c.vec_id AND b.i = a.i
        |  GROUP BY 1, 2)""".stripMargin,
      s"""sc AS (
         |  SELECT query_id, cd.vec_id,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM cd JOIN nrm nq ON nq.vec_id = query_id
         |           JOIN nrm nc ON nc.vec_id = cd.vec_id)""".stripMargin,
      """topk AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM sc)
        |  WHERE rank <= 5)""".stripMargin,
      """nnl AS (
        |  SELECT t.query_id, e.label AS n_label
        |  FROM topk t JOIN embeddings e USING (vec_id))""".stripMargin,
      """v AS (
        |  SELECT query_id, n_label, CAST(COUNT(*) AS INTEGER) AS n_votes
        |  FROM nnl GROUP BY 1, 2)""".stripMargin,
      """tot AS (
        |  SELECT query_id, CAST(COUNT(*) AS INTEGER) AS n_neighbors
        |  FROM nnl GROUP BY 1)""".stripMargin,
      """win AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY n_votes DESC, n_label) AS rnk
        |  FROM v)""".stripMargin)(
      s"""SELECT w.query_id, w.n_label AS predicted_label, w.n_votes,
         |  tot.n_neighbors,
         |  ${R("CAST(w.n_votes AS DOUBLE) / tot.n_neighbors", 6)} AS agreement,
         |  eq.label AS true_label, (w.n_label = eq.label) AS correct
         |FROM win w JOIN tot USING (query_id)
         |JOIN embeddings eq ON eq.vec_id = w.query_id
         |WHERE w.rnk = 1 ORDER BY w.query_id""".stripMargin),

    // Filtered-ANN twin: sim3's IVF pipeline with the label%3 predicate
    // applied to the ASSIGNED corpus (pre-filter strategy; assignment is
    // per-vector independent, so filtering before/after assignment is the
    // same corpus). Queries stay unfiltered; output carries the label as
    // filter evidence.
    "sim11_filtered_ann" -> withCtes(
      embUnnestCte(""), normCte,
      """an AS (
        |  SELECT c, d,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
      "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
      """sc0 AS (
        |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
        |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
      """scr AS (
        |  SELECT vec_id, c, adot / anorm AS score,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
        |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
      """assigned AS (
        |  SELECT s.vec_id, s.c AS list_id FROM scr s
        |  JOIN embeddings e ON e.vec_id = s.vec_id
        |  WHERE s.rnk = 1 AND e.label % 3 = 0)""".stripMargin,
      """probes AS (
        |  SELECT vec_id AS query_id, c AS list_id FROM scr
        |  WHERE vec_id % 100 = 0 AND rnk <= 2)""".stripMargin,
      """cand AS (
        |  SELECT p.query_id, a.vec_id, a.list_id
        |  FROM probes p JOIN assigned a ON a.list_id = p.list_id AND a.vec_id <> p.query_id)""".stripMargin,
      """cd AS (
        |  SELECT c.query_id, c.vec_id, c.list_id,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
        |  FROM cand c JOIN u a ON a.vec_id = c.query_id
        |              JOIN u b ON b.vec_id = c.vec_id AND b.i = a.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""sc AS (
         |  SELECT query_id, cd.vec_id, list_id,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM cd JOIN nrm nq ON nq.vec_id = query_id
         |           JOIN nrm nc ON nc.vec_id = cd.vec_id)""".stripMargin)(
      """SELECT query_id, rank, vec_id, list_id, e.label, cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM sc)
        |JOIN embeddings e USING (vec_id)
        |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin),

    // Two-stage prefix rerank: stage 1 ranks every candidate by the
    // 16-dim-prefix cosine (rounded, vec_id tiebreak — identical shortlist
    // boundary to the engine's top_k_by), stage 2 reranks the 20-deep
    // shortlist by full-dimension cosine.
    "sim5_prefix_rerank" -> withCtes(
      embUnnestCte(""), normCte,
      """pnrm AS (
        |  SELECT vec_id, SQRT(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS pv
        |  FROM u WHERE i <= 16 GROUP BY vec_id)""".stripMargin,
      """ppd AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
        |  FROM u q JOIN u c ON q.i = c.i AND q.i <= 16 AND c.i <= 16
        |       AND q.vec_id % 100 = 0 AND c.vec_id <> q.vec_id
        |  GROUP BY 1, 2)""".stripMargin,
      s"""ps AS (
         |  SELECT query_id, ppd.vec_id,
         |         ${R("dp / (pq.pv * pc.pv)", 6)} AS pre_cosine
         |  FROM ppd JOIN pnrm pq ON pq.vec_id = query_id
         |           JOIN pnrm pc ON pc.vec_id = ppd.vec_id)""".stripMargin,
      """sl AS (
        |  SELECT query_id, vec_id, pre_cosine FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY pre_cosine DESC, vec_id) AS __rn
        |    FROM ps WHERE pre_cosine IS NOT NULL)
        |  WHERE __rn <= 20)""".stripMargin,
      """fd AS (
        |  SELECT s.query_id, s.vec_id, s.pre_cosine,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
        |  FROM sl s JOIN u a ON a.vec_id = s.query_id
        |            JOIN u b ON b.vec_id = s.vec_id AND b.i = a.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""sc AS (
         |  SELECT query_id, fd.vec_id, pre_cosine,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS cosine
         |  FROM fd JOIN nrm nq ON nq.vec_id = query_id
         |           JOIN nrm nc ON nc.vec_id = fd.vec_id)""".stripMargin)(
      """SELECT query_id, rank, vec_id, cosine, pre_cosine FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM sc)
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),

    // SemDeDup clusters: IVF nearest-anchor assignment (same an/anorm/
    // sc0/scr CTE text as sim3 — fixed md5-derived anchors), capped
    // within-list pairs with tie-safe-rounded cosine >= 0.3, then the d6
    // recursive transitive closure; a node's representative is the min
    // reachable vec_id.
    "d9_semantic_clusters" -> ("WITH RECURSIVE " + Seq(
      embUnnestCte(""), normCte,
      """an AS (
        |  SELECT c, d,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '~' || CAST(d AS VARCHAR)), 1, 8)) AS BIGINT)
        |     % 2001 - 1000) / 1000.0 AS w
        |  FROM range(0, 16) t1(c), range(1, 65) t2(d))""".stripMargin,
      "anorm AS (SELECT c, SQRT(SUM(w * w)) AS anorm FROM an GROUP BY c)",
      """sc0 AS (
        |  SELECT u.vec_id, an.c, SUM(CAST(u.v AS DOUBLE) * an.w) AS adot
        |  FROM u JOIN an ON an.d = u.i GROUP BY 1, 2)""".stripMargin,
      """scr AS (
        |  SELECT vec_id, c, adot / anorm AS score,
        |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY adot / anorm DESC, c) AS rnk
        |  FROM sc0 JOIN anorm USING (c))""".stripMargin,
      "assigned AS (SELECT vec_id, c AS list_id FROM scr WHERE rnk = 1)",
      """cl AS (
        |  SELECT vec_id, list_id FROM (
        |    SELECT a.*, ROW_NUMBER() OVER (PARTITION BY list_id ORDER BY vec_id) AS rn
        |    FROM assigned a)
        |  WHERE rn <= 1024)""".stripMargin,
      """cd AS (
        |  SELECT x.vec_id AS va, y.vec_id AS vb,
        |         SUM(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dp
        |  FROM cl x JOIN cl y ON x.list_id = y.list_id AND x.vec_id < y.vec_id
        |       JOIN u a ON a.vec_id = x.vec_id
        |       JOIN u b ON b.vec_id = y.vec_id AND b.i = a.i
        |  GROUP BY 1, 2)""".stripMargin,
      s"""pairs AS (
         |  SELECT va AS doc_a, vb AS doc_b
         |  FROM cd JOIN nrm na ON na.vec_id = va
         |          JOIN nrm nb ON nb.vec_id = vb
         |  WHERE ${R("dp / (na.nv * nb.nv)", 6)} >= 0.3)""".stripMargin,
      """edges AS (
        |  SELECT doc_a AS src, doc_b AS dst FROM pairs
        |  UNION ALL
        |  SELECT doc_b AS src, doc_a AS dst FROM pairs)""".stripMargin,
      """reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin)
      .mkString(",\n") +
      """
        |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_rep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),

    // int8 quantization round trip: scale = max|x|/127; qi = round(x/scale);
    // signed + L1 element sums fingerprint the whole quantized vector;
    // max|qi*scale - x| is the dequantization error; unit_head = x1/||x||.
    // Zero vectors: scale 0, all-zero q_vec, zero unit vector (CASE arms
    // mirror the Spark when/otherwise exactly).
    "sim4_quantize" -> withCtes(
      embUnnestCte(""),
      """sc AS (
        |  SELECT vec_id, MAX(ABS(CAST(v AS DOUBLE))) / 127.0 AS q_scale
        |  FROM u GROUP BY vec_id)""".stripMargin,
      """q AS (
        |  SELECT u.vec_id, u.i, CAST(u.v AS DOUBLE) AS x, sc.q_scale,
        |         CASE WHEN sc.q_scale = 0 THEN 0
        |              ELSE CAST(ROUND(CAST(u.v AS DOUBLE) / sc.q_scale, 0) AS BIGINT) END AS qi
        |  FROM u JOIN sc USING (vec_id))""".stripMargin,
      """ag AS (
        |  SELECT vec_id, MAX(q_scale) AS q_scale,
        |         CAST(SUM(qi) AS BIGINT) AS q_sum,
        |         CAST(SUM(ABS(qi)) AS BIGINT) AS q_l1,
        |         MAX(ABS(qi * q_scale - x)) AS max_abs_err,
        |         SQRT(SUM(x * x)) AS nv
        |  FROM q GROUP BY vec_id)""".stripMargin,
      "hd AS (SELECT vec_id, CAST(v AS DOUBLE) AS x1 FROM u WHERE i = 1)")(
      s"""SELECT ag.vec_id, ${R("q_scale", 6)} AS q_scale, q_sum, q_l1,
         |  ${R("max_abs_err", 6)} AS max_abs_err,
         |  ${R("CASE WHEN nv = 0 THEN 0.0 ELSE x1 / nv END", 6)} AS unit_head
         |FROM ag JOIN hd ON hd.vec_id = ag.vec_id
         |ORDER BY ag.vec_id""".stripMargin),

    "t1_lang_id" -> withCtes(toksCte,
      s"""scs AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(tok, t -> t IN ($enList))) AS INTEGER) AS score_en,
         |    CAST(len(list_filter(tok, t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist'))) AS INTEGER) AS score_de,
         |    CAST(len(list_filter(tok, t -> t IN ('el', 'la', 'que', 'y', 'en', 'los'))) AS INTEGER) AS score_es,
         |    CAST(len(list_filter(tok, t -> t IN ('le', 'les', 'des', 'et', 'une', 'dans'))) AS INTEGER) AS score_fr
         |  FROM toks)""".stripMargin)(
      """SELECT doc_id, lang, score_en, score_de, score_es, score_fr,
        |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en > 0 THEN 'en'
        |       WHEN score_de >= score_es AND score_de >= score_fr AND score_de > 0 THEN 'de'
        |       WHEN score_es >= score_fr AND score_es > 0 THEN 'es'
        |       WHEN score_fr > 0 THEN 'fr'
        |       ELSE 'und' END AS detected_lang
        |FROM scs ORDER BY doc_id""".stripMargin),

    // Lang-confusion twin: t1's scs scoring CTE reduced to (label,
    // detected) cells with the per-true-label recall marginal; NULL langs
    // fold to 'none' so grouping and ordering agree across engines.
    "t29_lang_confusion" -> withCtes(toksCte,
      s"""scs AS (
         |  SELECT COALESCE(lang, 'none') AS label,
         |    CAST(len(list_filter(tok, t -> t IN ($enList))) AS INTEGER) AS score_en,
         |    CAST(len(list_filter(tok, t -> t IN ('der', 'die', 'das', 'und', 'nicht', 'ist'))) AS INTEGER) AS score_de,
         |    CAST(len(list_filter(tok, t -> t IN ('el', 'la', 'que', 'y', 'en', 'los'))) AS INTEGER) AS score_es,
         |    CAST(len(list_filter(tok, t -> t IN ('le', 'les', 'des', 'et', 'une', 'dans'))) AS INTEGER) AS score_fr
         |  FROM toks)""".stripMargin,
      """pred AS (
        |  SELECT label,
        |    CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en > 0 THEN 'en'
        |         WHEN score_de >= score_es AND score_de >= score_fr AND score_de > 0 THEN 'de'
        |         WHEN score_es >= score_fr AND score_es > 0 THEN 'es'
        |         WHEN score_fr > 0 THEN 'fr'
        |         ELSE 'und' END AS detected_lang
        |  FROM scs)""".stripMargin,
      """cells AS (
        |  SELECT label, detected_lang, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM pred GROUP BY 1, 2)""".stripMargin,
      """m AS (
        |  SELECT label, detected_lang, n,
        |    CAST(SUM(n) OVER (PARTITION BY label) AS BIGINT) AS n_true
        |  FROM cells)""".stripMargin)(
      s"""SELECT label, detected_lang, n, n_true,
         |  ${R("n / n_true", 6)} AS recall_frac
         |FROM m ORDER BY label, detected_lang""".stripMargin),

    "t5_lang_ngram" -> {
      def sc(lang: String): String = graft.ext.TextOps.ngramProfiles(lang)
        .map(t => s"(length(text) - length(regexp_replace(text, '$t', '', 'g')))")
        .mkString(" + ")
      s"""SELECT doc_id,
         |  CAST(${sc("en")} AS BIGINT) AS ngram_score_en,
         |  CAST(${sc("de")} AS BIGINT) AS ngram_score_de,
         |  CAST(${sc("es")} AS BIGINT) AS ngram_score_es,
         |  CAST(${sc("fr")} AS BIGINT) AS ngram_score_fr,
         |  CASE WHEN ${sc("en")} >= ${sc("de")} AND ${sc("en")} >= ${sc("es")} AND ${sc("en")} >= ${sc("fr")} AND ${sc("en")} > 0 THEN 'en'
         |       WHEN ${sc("de")} >= ${sc("es")} AND ${sc("de")} >= ${sc("fr")} AND ${sc("de")} > 0 THEN 'de'
         |       WHEN ${sc("es")} >= ${sc("fr")} AND ${sc("es")} > 0 THEN 'es'
         |       WHEN ${sc("fr")} > 0 THEN 'fr'
         |       ELSE 'und' END AS detected_lang_ngram
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    "t6_pack_sequences" ->
      """WITH toked AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, source, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM toked)
        |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |       CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS pack_id
        |FROM packed ORDER BY doc_id""".stripMargin,

    "t7_source_mix" ->
      """WITH rn AS (
        |  SELECT doc_id, source,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS __rn
        |  FROM documents)
        |SELECT doc_id, source FROM rn
        |WHERE (__rn - 1) % (CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2 ELSE 1 END) = 0
        |ORDER BY doc_id""".stripMargin,

    // Temperature-flattened language mixture, tau=2: stride_g =
    // floor((n_g/n_min)^(1 - 1/2) + 0.5 - 1e-9) floored at 1, keep every
    // stride-th doc per lang in doc_id rank order (same stride rule as
    // t7). The 1e-9 tie guard keeps the stride stable across libm pow
    // implementations.
    // d13 mirrors the engine's deterministic NULL-lang slice (doc_id % 13)
    // so the IS NOT DISTINCT FROM join below sees a real NULL group.
    "t17_temp_mix" ->
      """WITH d13 AS (SELECT doc_id,
        |         CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END AS lang
        |       FROM documents),
        |c AS (SELECT lang, count(*) AS ns FROM d13 GROUP BY lang),
        |m AS (SELECT MIN(ns) AS nmin FROM c),
        |s AS (SELECT lang,
        |         GREATEST(1, CAST(FLOOR(POWER(CAST(ns AS DOUBLE) / nmin, 1 - 1.0/2.0)
        |                                + 0.5 - 1e-9) AS BIGINT)) AS stride
        |       FROM c, m),
        |r AS (SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |       FROM d13)
        |SELECT r.doc_id, r.lang
        |FROM r JOIN s ON r.lang IS NOT DISTINCT FROM s.lang
        |WHERE (rn - 1) % stride = 0
        |ORDER BY doc_id""".stripMargin,

    // Bottom-k-by-hash per stratum: the oracle twin of the bounded
    // top_k_by(-h) aggregate is a plain per-source window rank over the
    // md5-derived priority (same '0x'+substr(md5) recipe as the sim2
    // hyperplane weights — proven cross-engine).
    "t18_strat_sample" -> withCtes(
      """hs AS (
        |  SELECT source, doc_id,
        |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        |  FROM documents)""".stripMargin)(
      """SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, h AS smp_hash FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rank
        |  FROM hs)
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin),

    // Zipf twin: t11's token counts, the same (count DESC, token) rank,
    // OLS over exactly the top 100 — ln agrees across engines to 1 ulp
    // (the t22 precedent) and the 6-dp rounding sits ~8 orders above the
    // 100-term summation-order noise.
    "t25_zipf_fit" -> (
      s"""WITH tok AS (
         |  SELECT doc_id, t AS token
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  CROSS JOIN UNNEST(w) AS u(t)),
         |tc AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS c
         |       FROM tok GROUP BY token),
         |top AS (
         |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS r
         |  FROM tc ORDER BY c DESC, token LIMIT 100),
         |xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(c) AS y FROM top),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx,
         |              SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
         |       FROM xy)
         |SELECT CAST(n AS BIGINT) AS n_tokens,
         |  ${R("(n * sxy - sx * sy) / (n * sxx - sx * sx)", 6)} AS zipf_slope,
         |  ${R("(sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n", 6)} AS zipf_intercept
         |FROM st""".stripMargin),

    // Vocab-coverage twin: t11's token counts, bounded top-10000 ranking
    // with the (count desc, token) tie-safe order, occurrence share per
    // candidate vocab size.
    "t26_vocab_coverage" -> (
      s"""WITH tok AS (
         |  SELECT t AS token
         |  FROM (SELECT string_split(text, ' ') AS w FROM documents)
         |  CROSS JOIN UNNEST(w) AS u(t)),
         |cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
         |        FROM tok GROUP BY 1),
         |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tot,
         |               CAST(COUNT(*) AS BIGINT) AS vocab FROM cnt),
         |rk AS (SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token) AS r
         |       FROM cnt ORDER BY n DESC, token LIMIT 10000),
         |sz AS (SELECT unnest([10, 100, 1000, 10000]) AS vocab_size),
         |g AS (
         |  SELECT vocab_size, CAST(COUNT(*) AS INTEGER) AS n_vocab_used,
         |         CAST(SUM(n) AS BIGINT) AS n_covered
         |  FROM rk JOIN sz ON rk.r <= sz.vocab_size GROUP BY 1)
         |SELECT vocab_size, n_vocab_used, n_covered, tot.vocab AS total_vocab,
         |  ${R("CAST(n_covered AS DOUBLE) / tot.tot", 6)} AS coverage
         |FROM g, tot ORDER BY vocab_size""".stripMargin),

    // URL-host twin: one Java/RE2-common extract on identically-injected
    // text; both engines return '' on no match.
    "t24_url_hosts" -> (
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |         COALESCE(text, '')
         |         || CASE WHEN doc_id % 11 = 0
         |              THEN ' see https://sub' || CAST(doc_id % 7 AS VARCHAR)
         |                   || '.example' || CAST(doc_id % 5 AS VARCHAR)
         |                   || '.com/p/a' || CAST(doc_id % 3 AS VARCHAR) || ' now'
         |              ELSE '' END AS text
         |  FROM documents),
         |h AS (
         |  SELECT doc_id, regexp_extract(text, 'https?://([^/ ]+)', 1) AS host
         |  FROM seeded)
         |SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs,
         |       regexp_extract(host, '\\.([a-z0-9]+)$$', 1) AS tld
         |FROM h WHERE host <> ''
         |GROUP BY host ORDER BY host""".stripMargin),

    // Weighted-sample twin: the ES key compares tie-safe-ROUNDED on both
    // sides (doc_id tiebreak), so a cross-engine ln() ulp cannot flip the
    // selection boundary.
    "t23_weighted_sample" -> withCtes(
      """wu AS (
        |  SELECT source, doc_id, n_chars,
        |         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1.0)
        |           / 4294967296.0 AS u
        |  FROM documents WHERE n_chars > 0)""".stripMargin,
      s"""ek AS (
         |  SELECT source, doc_id, ${R("ln(u) / n_chars", 6)} AS es_key
         |  FROM wu)""".stripMargin)(
      """SELECT source, CAST(rank AS INTEGER) AS rank, doc_id, es_key FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY es_key DESC, doc_id) AS rank
        |  FROM ek)
        |WHERE rank <= 5 ORDER BY source, rank""".stripMargin),

    // The bucket is 1 << bit_length(t-1) in BOTH engines (bin() string
    // length) — integer-exact; log2 floats' exactness at powers of two is
    // not a cross-engine guarantee.
    "t19_pack_stats" -> withCtes(
      """tc AS (
        |  SELECT doc_id, GREATEST(CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT), 1) AS t
        |  FROM documents WHERE text IS NOT NULL)""".stripMargin,
      """b AS (
        |  SELECT doc_id, t,
        |         CASE WHEN t <= 1 THEN CAST(1 AS BIGINT)
        |              ELSE CAST(1 AS BIGINT) << LENGTH(bin(t - 1)) END AS bin_len
        |  FROM tc)""".stripMargin)(
      s"""SELECT bin_len, COUNT(*) AS n_docs, CAST(SUM(t) AS BIGINT) AS sum_tokens,
         |       CAST(bin_len * COUNT(*) - SUM(t) AS BIGINT) AS waste,
         |       ${R("CAST(bin_len * COUNT(*) - SUM(t) AS DOUBLE) / (bin_len * COUNT(*))", 6)} AS waste_frac
         |FROM b GROUP BY bin_len ORDER BY bin_len""".stripMargin),

    // PII twin: identical injected strings, identical Java/RE2-common
    // patterns; DuckDB counts with len(regexp_extract_all) (its
    // regexp_replace needs the 'g' flag to match Spark's replace-all).
    // md5 of the redacted text proves byte-identical redaction.
    "t20_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      val ip    = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      s"""WITH p AS (
         |  SELECT doc_id,
         |         COALESCE(text, '')
         |         || CASE WHEN doc_id % 17 = 0 THEN ' Contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END
         |         || CASE WHEN doc_id % 23 = 0 THEN ' Call 415-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END
         |         || CASE WHEN doc_id % 29 = 0 THEN ' Host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' up' ELSE '' END AS text
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |         CAST(len(regexp_extract_all(text, '$email')) AS BIGINT) AS n_emails,
         |         CAST(len(regexp_extract_all(text, '$phone')) AS BIGINT) AS n_phones,
         |         CAST(len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_ips,
         |         regexp_replace(regexp_replace(regexp_replace(text,
         |           '$email', '[EMAIL]', 'g'), '$phone', '[PHONE]', 'g'), '$ip', '[IP]', 'g') AS red
         |  FROM p)
         |SELECT doc_id, n_emails, n_phones, n_ips, md5(red) AS redacted_md5
         |FROM r WHERE n_emails + n_phones + n_ips > 0
         |ORDER BY doc_id""".stripMargin
    },

    // Normalization twin: nfc_normalize + lower + strip_accents is
    // utf8proc's rendering of the engine's NFC -> lowercase -> NFD-drop-Mn
    // fold (verified byte-equal on the injected fixture chars). The OUTER
    // nfc_normalize pins the post-strip text back to NFC: the engine's
    // FoldText re-composes to NFC after dropping marks, while utf8proc's
    // strip_accents does not guarantee NFC for every script — without the
    // pin, a future non-Latin decomposable fixture char could byte-diverge
    // while being canonically equal; the
    // injected dirt mirrors Queries.t21Normalize byte-for-byte (Scala
    // \uXXXX escapes on both sides; the E-string \t/\n are DuckDB escapes
    // producing the same control characters the engine's Scala literal
    // holds). Whitespace collapse uses the same explicit ASCII class as
    // the engine — RE2's \s and Java's \s disagree on vertical tab.
    "t21_normalize" -> {
      val inj1 = "  Caf\u00e9\\tNA\u00cfVE   r\u00e9sum\u00e9 \u00dcBER " +
        "Z\u00fcrich\\n\u00c9cole d\u00e9j\u00e0-vu  "
      val inj2 = " \u00c5ngstr\u00f6m Se\u00f1or Fa\u00e7ade CR\u00c8ME  " +
        "br\u00fbl\u00e9e "
      s"""WITH seeded AS (
         |  SELECT doc_id,
         |         COALESCE(text, '')
         |         || CASE WHEN doc_id % 13 = 0 THEN E'$inj1' ELSE '' END
         |         || CASE WHEN doc_id % 19 = 0 THEN E'$inj2' ELSE '' END AS t
         |  FROM documents),
         |n AS (
         |  SELECT doc_id,
         |         TRIM(regexp_replace(
         |                nfc_normalize(strip_accents(lower(nfc_normalize(t)))),
         |                '[ \\t\\n\\r\\f]+', ' ', 'g')) AS norm_text,
         |         CAST(length(t) AS INTEGER) AS raw_len
         |  FROM seeded)
         |SELECT doc_id, md5(norm_text) AS norm_md5, raw_len,
         |       CAST(length(norm_text) AS INTEGER) AS norm_len
         |FROM n ORDER BY doc_id""".stripMargin
    },

    // Joins on the n-gram STRINGS — the Spark side's xxhash64 is an
    // internal key-compression step that never reaches the output, so the
    // string join is the exact semantic oracle (and would catch a hash
    // collision, not reproduce it).
    "c1_decontam" -> {
      val frac = "CAST(COUNT(b.g) AS DOUBLE) / COUNT(*)"
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |grams AS (
         |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS g
         |  FROM w CROSS JOIN UNNEST(CASE WHEN len(toks) >= 8
         |      THEN range(1, len(toks) - 6) ELSE [] END) AS t(i)),
         |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 29 = 0),
         |corp AS (SELECT doc_id, g FROM grams WHERE doc_id % 29 <> 0)
         |SELECT c.doc_id, COUNT(b.g) AS hit_ngrams, COUNT(*) AS n_ngrams,
         |       ${R(frac, 6)} AS hit_frac
         |FROM corp c LEFT JOIN bench b USING (g)
         |GROUP BY c.doc_id HAVING COUNT(b.g) > 0
         |ORDER BY doc_id""".stripMargin
    },

    // filter and argmax both use the tie-safe-ROUNDED cosine (same as the
    // Spark side), so threshold-straddling and rank-flipping ulps are
    // impossible by construction
    "c2_embed_decontam" -> {
      val cos = R("dp / (nc.nv * nb.nv)", 6)
      s"""WITH u AS (
         |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
         |         generate_subscripts(embedding, 1) AS i
         |  FROM embeddings),
         |nrm AS (SELECT vec_id, SQRT(SUM(v * v)) AS nv FROM u GROUP BY 1),
         |dt AS (
         |  SELECT c.vec_id, b.vec_id AS bench_id, SUM(c.v * b.v) AS dp
         |  FROM u c JOIN u b ON c.i = b.i
         |    AND b.vec_id % 37 = 0 AND c.vec_id % 37 <> 0
         |  GROUP BY 1, 2),
         |f AS (
         |  SELECT dt.vec_id, dt.bench_id, $cos AS cosine
         |  FROM dt JOIN nrm nc ON nc.vec_id = dt.vec_id
         |          JOIN nrm nb ON nb.vec_id = dt.bench_id
         |  WHERE $cos >= 0.3),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY cosine DESC, bench_id) AS rn
         |  FROM f)
         |SELECT g.vec_id, g.n_matches, g.max_cosine, r.bench_id AS best_bench_id
         |FROM (SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
         |             MAX(cosine) AS max_cosine
         |      FROM f GROUP BY 1) g
         |JOIN r ON r.vec_id = g.vec_id AND r.rn = 1
         |ORDER BY g.vec_id""".stripMargin
    },

    "t8_repetition" -> {
      val ttf = "CAST(max_c AS DOUBLE) / n_tokens"
      val dbf = "1.0 - CAST(distinct_bigrams AS DOUBLE) / n_bigrams"
      s"""WITH toked AS (
         |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |uni AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |         COUNT(*) AS distinct_tokens, MAX(c) AS max_c
         |  FROM (SELECT doc_id, t, COUNT(*) AS c
         |        FROM toked CROSS JOIN UNNEST(w) AS u(t) GROUP BY doc_id, t)
         |  GROUP BY doc_id),
         |bi AS (
         |  SELECT doc_id, COUNT(*) AS n_bigrams, COUNT(DISTINCT g) AS distinct_bigrams
         |  FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
         |        FROM toked CROSS JOIN UNNEST(CASE WHEN len(w) >= 2
         |            THEN range(1, len(w)) ELSE [] END) AS t(i))
         |  GROUP BY doc_id),
         |j AS (
         |  SELECT d.doc_id, uni.n_tokens, uni.distinct_tokens,
         |         ${R(ttf, 6)} AS top_tok_frac,
         |         bi.n_bigrams, bi.distinct_bigrams,
         |         ${R(dbf, 6)} AS dup_bigram_frac
         |  FROM documents d LEFT JOIN uni USING (doc_id) LEFT JOIN bi USING (doc_id))
         |SELECT doc_id, n_tokens, distinct_tokens, top_tok_frac,
         |       n_bigrams, distinct_bigrams, dup_bigram_frac,
         |       (COALESCE(top_tok_frac > 0.12, FALSE)
         |         OR COALESCE(dup_bigram_frac > 0.05, FALSE)) AS repetitive
         |FROM j ORDER BY doc_id""".stripMargin
    },

    // DuckDB has no conv(hex, 16, 10); the 4-hex-digit bucket is rebuilt
    // with positional strpos arithmetic over the md5 hex rendering.
    "t9_split" -> {
      val hexv = "((strpos('0123456789abcdef', substr(hx,1,1))-1)*4096" +
        " + (strpos('0123456789abcdef', substr(hx,2,1))-1)*256" +
        " + (strpos('0123456789abcdef', substr(hx,3,1))-1)*16" +
        " + (strpos('0123456789abcdef', substr(hx,4,1))-1))"
      s"""WITH h AS (
         |  SELECT doc_id, substr(md5(coalesce(text, '') || ':graft'), 1, 4) AS hx
         |  FROM documents)
         |SELECT doc_id, CAST($hexv % 100 AS BIGINT) AS bucket,
         |  CASE WHEN $hexv % 100 < 80 THEN 'train'
         |       WHEN $hexv % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM h ORDER BY doc_id""".stripMargin
    },

    "t10_budget" ->
      """WITH toked AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM toked)
        |SELECT doc_id, source, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM c WHERE cum_tokens <= 400 ORDER BY doc_id""".stripMargin,

    "t11_vocab" ->
      """WITH tok AS (
        |  SELECT doc_id, t AS token
        |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |  CROSS JOIN UNNEST(w) AS u(t))
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
        |FROM tok GROUP BY token
        |ORDER BY n_occurrences DESC, token LIMIT 20""".stripMargin,

    // ranks compare the tie-safe-rounded score (like the Spark side), so
    // a cross-engine ulp difference can never flip a keyword_rank
    "t12_tfidf" -> {
      val sc = "tf * (ln((n.nd + 1.0) / (doc_freq + 1.0)) + 1.0)"
      s"""WITH tok AS (
         |  SELECT doc_id, t AS token
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  CROSS JOIN UNNEST(w) AS u(t)),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY 1, 2),
         |dfq AS (SELECT token, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
         |s AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, ${R(sc, 6)} AS score
         |  FROM tf JOIN dfq USING (token) CROSS JOIN n),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY doc_id ORDER BY score DESC, token) AS keyword_rank
         |  FROM s)
         |SELECT doc_id, CAST(keyword_rank AS INTEGER) AS keyword_rank,
         |       token, tf, score
         |FROM r WHERE keyword_rank <= 3 ORDER BY doc_id, keyword_rank""".stripMargin
    },

    // ln(total) is computed by DuckDB here vs a JVM double literal on the
    // Spark side: both are libm-quality natural logs of the same integral
    // double, so any divergence is ulp-scale — absorbed by cround(6).
    "t13_unigram" ->
      s"""WITH tok AS (
         |  SELECT doc_id, t AS token
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |  CROSS JOIN UNNEST(w) AS u(t)),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM tok GROUP BY 1, 2),
         |occ AS (SELECT token, CAST(SUM(tf) AS BIGINT) AS occ FROM tf GROUP BY 1),
         |n AS (SELECT CAST(SUM(occ) AS DOUBLE) AS total FROM occ),
         |s AS (
         |  SELECT tf.doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |         SUM(CAST(tf AS DOUBLE) * ln(occ)) AS slog
         |  FROM tf JOIN occ USING (token) GROUP BY 1)
         |SELECT d.doc_id, s.n_tokens,
         |       ${R("ln(n.total) - s.slog / s.n_tokens", 6)} AS avg_neg_logprob
         |FROM documents d LEFT JOIN s USING (doc_id) CROSS JOIN n
         |ORDER BY doc_id""".stripMargin,

    // generate_subscripts is 1-based; Spark's posexplode is 0-based.
    "e1_centroids" ->
      s"""SELECT label, CAST(i - 1 AS INTEGER) AS dim,
         |       CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |       ${R("AVG(CAST(v AS DOUBLE))", 6)} AS centroid
         |FROM (SELECT label, unnest(embedding) AS v,
         |             generate_subscripts(embedding, 1) AS i
         |      FROM embeddings)
         |GROUP BY 1, 2 ORDER BY label, dim""".stripMargin,

    // DuckDB list slicing toks[a:b] is 1-based INCLUSIVE of b, so
    // toks[s+1 : s+64] is exactly Spark's slice(toks, s+1, 64)
    "t15_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents)
        |SELECT doc_id, CAST(s // 48 AS INTEGER) AS chunk_id,
        |       CAST(LEAST(64, n - s) AS INTEGER) AS n_chunk_tokens,
        |       array_to_string(toks[s+1 : s+64], ' ') AS chunk_text
        |FROM t CROSS JOIN UNNEST(CASE WHEN n >= 1
        |    THEN range(0, n, 48) ELSE [] END) AS u(s)
        |ORDER BY doc_id, chunk_id""".stripMargin,

    // C4-style duplicate-span removal: same span windows as t15 (8-token,
    // no overlap), global keep-first election via row_number over the span
    // digest (the Spark side's min(struct) election, different algorithm,
    // same semantics), reassembly via ordered string_agg. NULL-text docs
    // re-enter by union with 0/0 counts; all-spans-dropped docs come back
    // as ''.
    "t16_span_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         len(string_split(text, ' ')) AS n
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, CAST(sv // 8 AS INTEGER) AS chunk_id,
        |         array_to_string(toks[sv+1 : sv+8], ' ') AS span
        |  FROM t CROSS JOIN UNNEST(CASE WHEN n >= 1
        |      THEN range(0, n, 8) ELSE [] END) AS u(sv)),
        |w AS (
        |  SELECT doc_id, chunk_id, span,
        |         ROW_NUMBER() OVER (PARTITION BY md5(span)
        |                            ORDER BY doc_id, chunk_id) = 1 AS keep
        |  FROM s),
        |g AS (
        |  SELECT doc_id,
        |         coalesce(string_agg(CASE WHEN keep THEN span END, ' '
        |                             ORDER BY chunk_id), '') AS cleaned_text,
        |         CAST(count(*) AS INTEGER) AS n_spans,
        |         CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS INTEGER) AS n_kept
        |  FROM w GROUP BY doc_id)
        |SELECT doc_id, cleaned_text, n_spans, n_kept FROM g
        |UNION ALL
        |SELECT doc_id, NULL AS cleaned_text, 0 AS n_spans, 0 AS n_kept
        |FROM documents WHERE text IS NULL
        |ORDER BY doc_id""".stripMargin,

    // the oracle twin of the native bounded top_k_by aggregate is a plain
    // per-source row_number over the tie-safe-ROUNDED quality score (t2's
    // formula) — different algorithm, same semantics.
    "t14_best_src" -> {
      val punct = "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / nullif(length(text), 0)"
      val stop = s"CAST(len(list_filter(tok, t -> t IN ($enList))) AS DOUBLE) / len(tok)"
      val score = s"0.4 * LEAST(CAST(len(tok) AS DOUBLE) / 100, 1.0) + 0.3 * (1.0 - $punct) + 0.3 * LEAST($stop * 5, 1.0)"
      s"""WITH sc AS (
         |  SELECT doc_id, source, ${R(score, 6)} AS q
         |  FROM (SELECT doc_id, source, text, string_split(text, ' ') AS tok
         |        FROM documents)),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY source ORDER BY q DESC, doc_id) AS rank
         |  FROM sc WHERE q IS NOT NULL)
         |SELECT source, CAST(rank AS INTEGER) AS rank, doc_id,
         |       q AS quality_score
         |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin
    },

    // centroids are the tie-safe-ROUNDED means (same as labelCentroids /
    // e1), so both engines measure distances against identical centroid
    // values; dist2 is rounded the same way before the argmin, with the
    // label id as tiebreak — a summation-order ulp can never flip a
    // prediction.
    "e2_rocchio" -> {
      val cavg = R("AVG(v)", 6)
      val d2 = R("SUM((u.v - c.centroid) * (u.v - c.centroid))", 6)
      s"""WITH u AS (
         |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
         |         generate_subscripts(embedding, 1) AS i
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS c_label, i, $cavg AS centroid
         |  FROM u GROUP BY 1, 2),
         |d AS (
         |  SELECT u.vec_id, u.label, c.c_label, $d2 AS dist2
         |  FROM u JOIN cent c ON u.i = c.i
         |  GROUP BY 1, 2, 3),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
         |  FROM d)
         |SELECT vec_id, label, c_label AS predicted, dist2,
         |       (label = c_label) AS correct
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin
    },

    // Silhouette twin: e2's u/cent/d CTEs; b² picks the nearest OTHER
    // centroid via the (own-label flag, rounded dist2, c_label) order —
    // the same tie-safe ordering the Spark min_by struct encodes.
    "e5_silhouette" -> {
      val cavg = R("AVG(v)", 6)
      val d2 = R("SUM((u.v - c.centroid) * (u.v - c.centroid))", 6)
      s"""WITH u AS (
         |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
         |         generate_subscripts(embedding, 1) AS i
         |  FROM embeddings),
         |cent AS (
         |  SELECT label AS c_label, i, $cavg AS centroid
         |  FROM u GROUP BY 1, 2),
         |d AS (
         |  SELECT u.vec_id, u.label, c.c_label, $d2 AS dist2
         |  FROM u JOIN cent c ON u.i = c.i
         |  GROUP BY 1, 2, 3),
         |d2r AS (
         |  SELECT vec_id, label, dist2,
         |    CASE WHEN c_label = label THEN 1 ELSE 0 END AS own,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
         |      CASE WHEN c_label = label THEN 1 ELSE 0 END, dist2, c_label) AS rn
         |  FROM d),
         |a2t AS (
         |  SELECT vec_id, label,
         |    MIN(CASE WHEN own = 1 THEN dist2 END) AS a2
         |  FROM d2r GROUP BY 1, 2),
         |b2t AS (SELECT vec_id, dist2 AS b2 FROM d2r WHERE rn = 1),
         |pv AS (
         |  SELECT a2t.vec_id, label, a2, b2
         |  FROM a2t JOIN b2t ON a2t.vec_id = b2t.vec_id),
         |s AS (
         |  SELECT vec_id, label,
         |    CASE WHEN GREATEST(sqrt(a2), sqrt(b2)) = 0 THEN 0.0
         |         ELSE (sqrt(b2) - sqrt(a2)) / GREATEST(sqrt(a2), sqrt(b2))
         |    END AS sil
         |  FROM pv)
         |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
         |       ${R("AVG(sil)", 2)} AS mean_silhouette
         |FROM s GROUP BY label ORDER BY label""".stripMargin
    },

    // dedupCte: the Spark side pivots over cleanedStock, which includes the
    // F4 keep-last dedup — a duplicate (symbol, date) bar must not be
    // averaged twice.
    // Gap-fill twin: per-symbol generate_series spine (DuckDB yields
    // timestamps — cast back to DATE), LEFT JOIN, LAST_VALUE IGNORE NULLS
    // over the same rows-frame LOCF window.
    "x14_gapfill" -> withCtes(stockCte, cleanCte, dedupCte,
      """sub AS (
        |  SELECT symbol, "date", close FROM dedup
        |  WHERE CAST(symbol AS BIGINT) % 97 = 0)""".stripMargin,
      """sp AS (
        |  SELECT symbol,
        |    CAST(UNNEST(generate_series(CAST(mn AS TIMESTAMP),
        |      CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS "date"
        |  FROM (SELECT symbol, MIN("date") AS mn, MAX("date") AS mx
        |        FROM sub GROUP BY 1))""".stripMargin,
      """g AS (
        |  SELECT sp.symbol, sp."date", sub.close
        |  FROM sp LEFT JOIN sub ON sub.symbol = sp.symbol AND sub."date" = sp."date")""".stripMargin)(
      s"""SELECT symbol, "date",
         |  ${R("""LAST_VALUE(close IGNORE NULLS) OVER (
         |    PARTITION BY symbol ORDER BY "date"
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""", 6)} AS filled_close,
         |  close IS NULL AS is_imputed
         |FROM g ORDER BY symbol, "date"""".stripMargin),

    "x12_pivot" -> withCtes(stockCte, cleanCte, dedupCte)(
      (1 to 12).map(m =>
          s"""${R(s"""AVG(CASE WHEN month("date") = $m THEN close END)""", 6)} AS m$m""")
        .mkString("SELECT symbol,\n", ",\n", "\nFROM dedup GROUP BY symbol ORDER BY symbol")),

    // strict-order funnel: each stage's first ts must be AFTER the previous
    // stage's first ts; stages emit exact epoch-microsecond longs.
    "ev1_funnel" -> funnelSql,
    // the salted funnel is semantically IDENTICAL to ev1 (different plan:
    // salted two-phase minima + broadcast-back instead of per-user
    // windows), so it verifies against the same oracle — a hash-equal
    // result here proves the skew path changes the plan, not the answer
    "ev2_funnel_salted" -> funnelSql,
    // shuffled-gate variant (broadcastGates=false): again the same oracle —
    // the scale knob must be invisible in the result
    "ev3_funnel_shuffled" -> funnelSql,
    // adaptive salt sizing (pre-pass-chosen bucket count): same oracle —
    // an answer-invariant knob must be invisible in the result
    "ev4_funnel_adaptive" -> funnelSql,

    // Cohort retention twin: DISTINCT (user, ISO week) -> per-user min
    // week -> (cohort, offset) counts. Dates are both Monday-truncated so
    // the day difference is an exact multiple of 7; the retention division
    // is one exact-int ratio (tie-safe rounded at 6 on both sides).
    "ev5_retention" -> (
      s"""WITH uw AS (
         |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
         |  FROM events),
         |c AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1),
         |o AS (
         |  SELECT c.cohort_week,
         |         CAST((uw.week - c.cohort_week) // 7 AS INTEGER) AS week_offset,
         |         COUNT(*) AS n_users
         |  FROM uw JOIN c USING (user_id) GROUP BY 1, 2),
         |w AS (
         |  SELECT cohort_week, week_offset, CAST(n_users AS BIGINT) AS n_users,
         |         CAST(MAX(CASE WHEN week_offset = 0 THEN n_users END)
         |              OVER (PARTITION BY cohort_week) AS BIGINT) AS cohort_size
         |  FROM o)
         |SELECT cohort_week, week_offset, n_users, cohort_size,
         |       ${R("CAST(n_users AS DOUBLE) / cohort_size", 6)} AS retention
         |FROM w ORDER BY cohort_week, week_offset""".stripMargin),

    // Volume-anomaly twin: the trailing frame excludes the current row on
    // both sides; the flag compares the tie-safe-ROUNDED |z| (w13
    // convention); zero-variance baselines are excluded (variance of
    // equal integer counts is exactly 0 in both engines).
    "ev8_volume_anomaly" -> (
      s"""WITH hourly AS (
         |  SELECT date_trunc('hour', ts) AS hour, event_type,
         |         COUNT(*) AS n_events
         |  FROM events GROUP BY 1, 2),
         |b AS (
         |  SELECT *, ROW_NUMBER() OVER w AS rn,
         |         AVG(n_events) OVER (w ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS avg_24,
         |         STDDEV_SAMP(n_events) OVER (w ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS sd_24
         |  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY hour))
         |SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
         |       CAST(n_events AS BIGINT) AS n_events,
         |       ${R("avg_24", 2)} AS avg_24,
         |       ${R("(n_events - avg_24) / sd_24", 2)} AS vol_z,
         |       (${R("ABS((n_events - avg_24) / sd_24)", 6)} > 3.0) AS is_anomaly
         |FROM b WHERE rn > 8 AND sd_24 > 0
         |ORDER BY event_type, hour""".stripMargin),

    // Rolling-active twin: the same inverted formulation (distinct
    // (user, day) pairs, bounded +0..6 contribution expansion, plain
    // counts) — exact integers end to end, no rounding discipline.
    "ev9_active_users" -> (
      """WITH daily AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |mx AS (SELECT MAX(day) AS mxd FROM daily),
        |contrib AS (
        |  SELECT DISTINCT user_id, day + CAST(i AS INTEGER) AS day
        |  FROM daily, range(0, 7) r(i), mx
        |  WHERE day + CAST(i AS INTEGER) <= mxd),
        |wau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS wau
        |        FROM contrib GROUP BY 1),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau
        |        FROM daily GROUP BY 1)
        |SELECT w.day, COALESCE(d.dau, CAST(0 AS BIGINT)) AS dau, w.wau
        |FROM wau w LEFT JOIN dau d USING (day)
        |ORDER BY w.day""".stripMargin),

    // RFM twin: one user aggregate, NTILE(5) quintiles over the users
    // table — every ntile orders (metric, user_id) with the monetary key
    // tie-safe-rounded at 6, so quintile boundaries agree cross-engine;
    // both engines' NTILE hand the remainder to the earliest tiles.
    "ev10_rfm" -> (
      s"""WITH p AS (
         |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d, value
         |  FROM events WHERE event_type = 'purchase'),
         |mx AS (SELECT MAX(d) AS mxd FROM p),
         |rfm AS (
         |  SELECT user_id, MAX(d) AS last_day,
         |         CAST(COUNT(*) AS BIGINT) AS frequency,
         |         SUM(value) AS mraw
         |  FROM p GROUP BY 1),
         |sc AS (
         |  SELECT user_id, CAST(mxd - last_day AS INTEGER) AS recency_days,
         |         frequency, mraw, ${R("mraw", 6)} AS m6
         |  FROM rfm, mx),
         |t AS (
         |  SELECT user_id, recency_days, frequency, mraw,
         |    CAST(NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS INTEGER) AS r_score,
         |    CAST(NTILE(5) OVER (ORDER BY frequency, user_id) AS INTEGER) AS f_score,
         |    CAST(NTILE(5) OVER (ORDER BY m6, user_id) AS INTEGER) AS m_score
         |  FROM sc)
         |SELECT user_id, recency_days, frequency, ${R("mraw", 2)} AS monetary,
         |       r_score, f_score, m_score,
         |       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champions'
         |            WHEN f_score >= 4 THEN 'loyal'
         |            WHEN r_score >= 4 THEN 'recent'
         |            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
         |            WHEN r_score <= 2 THEN 'hibernating'
         |            ELSE 'regular' END AS segment
         |FROM t ORDER BY user_id""".stripMargin),

    // Power-user twin: per-user counts, NTILE(10) deciles with the ev10
    // (metric desc, user_id) tie-safe ordering, then 10-row share math.
    // SUM(BIGINT) is HUGEINT in DuckDB — cast back so schemas agree.
    "ev11_power_users" -> (
      s"""WITH pu AS (
         |  SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1),
         |d AS (
         |  SELECT user_id, n_events,
         |    CAST(NTILE(10) OVER (ORDER BY n_events DESC, user_id) AS INTEGER) AS decile
         |  FROM pu),
         |g AS (
         |  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
         |         CAST(SUM(n_events) AS BIGINT) AS n_events
         |  FROM d GROUP BY 1),
         |t AS (SELECT CAST(SUM(n_events) AS BIGINT) AS tot FROM g)
         |SELECT decile, n_users, g.n_events,
         |  ${R("CAST(g.n_events AS DOUBLE) / tot", 6)} AS event_share,
         |  ${R("CAST(CAST(SUM(g.n_events) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE) / tot", 6)} AS cum_share
         |FROM g, t ORDER BY decile""".stripMargin),

    // Time-to-convert twin: the ev1 funnel CTEs (strict-order stage
    // minima), converters only, exact interpolated quantiles over the
    // identical long-microsecond-difference doubles.
    "ev12_time_to_convert" -> (
      s"""WITH v AS (
         |  SELECT user_id, MIN(ts) AS fv FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |c AS (
         |  SELECT e.user_id, MIN(e.ts) AS fc
         |  FROM events e JOIN v USING (user_id)
         |  WHERE e.event_type = 'click' AND e.ts > v.fv GROUP BY 1),
         |p AS (
         |  SELECT e.user_id, MIN(e.ts) AS fp
         |  FROM events e JOIN c USING (user_id)
         |  WHERE e.event_type = 'purchase' AND e.ts > c.fc GROUP BY 1),
         |conv AS (
         |  SELECT CAST(date_trunc('week', v.fv) AS DATE) AS cohort_week,
         |         (epoch_us(p.fp) - epoch_us(v.fv)) / 1e6 AS latency_sec
         |  FROM p JOIN v USING (user_id))
         |SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_converted,
         |  ${R("quantile_cont(latency_sec, 0.25)", 6)} AS p25_sec,
         |  ${R("quantile_cont(latency_sec, 0.50)", 6)} AS p50_sec,
         |  ${R("quantile_cont(latency_sec, 0.75)", 6)} AS p75_sec,
         |  ${R("quantile_cont(latency_sec, 0.90)", 6)} AS p90_sec,
         |  ${R("AVG(latency_sec)", 2)} AS avg_sec
         |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin),

    // Funnel-summary twin: the ev1 funnel CTEs collapsed to stage counts,
    // then a constant 3-row long form with guarded ratio divisions.
    "ev13_funnel_summary" -> (
      s"""WITH v AS (
         |  SELECT user_id, MIN(ts) AS fv FROM events
         |  WHERE event_type = 'view' GROUP BY 1),
         |c AS (
         |  SELECT e.user_id, MIN(e.ts) AS fc
         |  FROM events e JOIN v USING (user_id)
         |  WHERE e.event_type = 'click' AND e.ts > v.fv GROUP BY 1),
         |p AS (
         |  SELECT e.user_id, MIN(e.ts) AS fp
         |  FROM events e JOIN c USING (user_id)
         |  WHERE e.event_type = 'purchase' AND e.ts > c.fc GROUP BY 1),
         |s AS (
         |  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS s1,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS s2,
         |         (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS s3),
         |rows_ AS (
         |  SELECT 1 AS stage, 'view' AS step, s1 AS n_reached, s1 AS prev, s1 AS top_ FROM s
         |  UNION ALL
         |  SELECT 2, 'click', s2, s1, s1 FROM s
         |  UNION ALL
         |  SELECT 3, 'purchase', s3, s2, s1 FROM s)
         |SELECT stage, step, n_reached,
         |  CASE WHEN prev = 0 THEN NULL
         |       ELSE ${R("CAST(n_reached AS DOUBLE) / prev", 6)} END AS conv_from_prev,
         |  CASE WHEN top_ = 0 THEN NULL
         |       ELSE ${R("CAST(n_reached AS DOUBLE) / top_", 6)} END AS conv_from_top
         |FROM rows_ ORDER BY stage""".stripMargin),

    // Session-path twin: st2's sessionization CTEs, in-session rank, then
    // ordered string_agg — the engine's sort_array(collect_list) renders
    // the identical rn-ordered concatenation.
    "ev7_session_paths" -> withCtes(
      """ev AS (
        |  SELECT user_id, event_id, ts, event_type,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR CAST(FLOOR(epoch(ts)) AS BIGINT)
        |                   - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,
      """sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM ev)""".stripMargin,
      """rk AS (
        |  SELECT user_id, session_seq, event_type,
        |         ROW_NUMBER() OVER (
        |           PARTITION BY user_id, session_seq ORDER BY ts, event_id) AS rn
        |  FROM sess)""".stripMargin,
      """pth AS (
        |  SELECT user_id, session_seq,
        |         string_agg(event_type, '>' ORDER BY rn) AS path
        |  FROM rk WHERE rn <= 8 GROUP BY 1, 2)""".stripMargin)(
      """SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
        |FROM pth GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin),

    // Transition-matrix twin: LAG over (ts, event_id) mirrors the engine's
    // deterministic same-instant tiebreak; p is one exact-long division.
    "ev6_transitions" -> (
      s"""WITH seq AS (
         |  SELECT user_id, event_type,
         |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
         |  FROM events),
         |m AS (
         |  SELECT prev_type, event_type, COUNT(*) AS n_transitions
         |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
         |SELECT prev_type, event_type,
         |       CAST(n_transitions AS BIGINT) AS n_transitions,
         |       CAST(SUM(n_transitions) OVER (PARTITION BY prev_type) AS BIGINT) AS n_from_state,
         |       ${R("CAST(n_transitions AS DOUBLE) / SUM(n_transitions) OVER (PARTITION BY prev_type)", 6)} AS p_transition
         |FROM m ORDER BY prev_type, event_type""".stripMargin),

    // Entropy twin: ln/exp agree across engines to 1 ulp, entropy is a
    // handful of products — round 6 sits far above both.
    "t22_source_entropy" -> (
      s"""WITH c AS (
         |  SELECT source, CAST(COUNT(*) AS DOUBLE) AS n
         |  FROM documents GROUP BY 1),
         |t AS (SELECT SUM(n) AS tot FROM c),
         |h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
         |             -SUM((n / tot) * ln(n / tot)) AS hh
         |      FROM c, t)
         |SELECT n_sources, ${R("hh", 6)} AS entropy_nats,
         |       CASE WHEN n_sources > 1
         |            THEN ${R("hh / ln(CAST(n_sources AS DOUBLE))", 6)}
         |            ELSE NULL END AS norm_entropy,
         |       ${R("exp(hh)", 6)} AS eff_sources
         |FROM h""".stripMargin),

    "st3_interval_join" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id, user_id,
        |       CAST((epoch_us(p_ts) - epoch_us(c_ts)) // 1000 AS BIGINT) AS delay_ms
        |FROM clicks JOIN purchases ON user_id = p_user
        |  AND p_ts >= c_ts AND p_ts <= c_ts + INTERVAL 3600 SECONDS
        |ORDER BY click_id, purchase_id""".stripMargin,

    "t2_quality_score" -> {
      val punct = "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / nullif(length(text), 0)"
      val stop = s"CAST(len(list_filter(tok, t -> t IN ($enList))) AS DOUBLE) / len(tok)"
      withCtes(toksCte)(
        s"""SELECT doc_id,
           |  CAST(len(tok) AS INTEGER) AS n_tokens,
           |  CAST(length(text) AS INTEGER) AS text_len,
           |  ${R(punct, 6)} AS punct_ratio,
           |  ${R(stop, 6)} AS stopword_ratio,
           |  ${R(s"0.4 * LEAST(CAST(len(tok) AS DOUBLE) / 100, 1.0) + 0.3 * (1.0 - $punct) + 0.3 * LEAST($stop * 5, 1.0)", 6)} AS quality_score
           |FROM toks ORDER BY doc_id""".stripMargin)
    },

    "t3_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER) AS word_tokens,
        |  CAST(CEIL(length(text) / 4.0) AS BIGINT) AS bpe_estimate
        |FROM documents ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" -> withCtes(toksCte, shCte)(
      """SELECT doc_id,
        |  md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS md5_fingerprint,
        |  list_min(list_transform(shingles, s -> substr(md5(s), 1, 16))) AS min_shingle_fingerprint
        |FROM sh ORDER BY doc_id""".stripMargin),

    // png- AND jpeg-tagged rows run the REAL ImageIO decoder; the
    // fixture's text bytes are not images, so they deterministically
    // report (-1, -1, false) — which keeps the real-decoder path
    // oracle-checkable in SQL. webp keeps the length-derived stub.
    "m1_multimodal_meta" ->
      """SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png' ELSE 'webp' END AS format,
        |  CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |  CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN -1 ELSE octet_length(encode(text)) % 640 + 1 END AS INTEGER) AS width,
        |  CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN -1 ELSE octet_length(encode(text)) % 480 + 1 END AS INTEGER) AS height,
        |  CASE WHEN doc_id % 3 IN (0, 1) THEN FALSE ELSE octet_length(encode(text)) > 0 END AS ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Banded-pigeonhole phash pair join over the shared synthetic hash
    // fixture (graft.ext.Multimodal.syntheticPhashSql renders this same
    // formula for both engines). maxBits=4 -> 5 bands of 12 bits, band 4
    // absorbing the 64-60 remainder (shift, NO mask); cap 8 per (band,
    // value) bucket in doc_id order, mirroring the Spark row_number cap.
    "m2_phash_pairs" -> withCtes(
      s"""ph AS (
         |  SELECT doc_id, ${graft.ext.Multimodal.syntheticPhashSql(
                "//", (a, b) => s"xor($a, $b)",
                p => s"(CAST(1 AS BIGINT) << $p)")} AS phash
         |  FROM documents)""".stripMargin,
      """bd AS (
        |  SELECT doc_id, phash, t.band,
        |         CASE WHEN t.band = 4 THEN phash >> 48
        |              ELSE (phash >> (CAST(t.band AS INTEGER) * 12)) & 4095 END AS value
        |  FROM ph, range(0, 5) t(band))""".stripMargin,
      """cp AS (
        |  SELECT * FROM (
        |    SELECT bd.*, ROW_NUMBER() OVER (PARTITION BY band, value ORDER BY doc_id) AS rn
        |    FROM bd)
        |  WHERE rn <= 8)""".stripMargin)(
      """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        |FROM cp a JOIN cp b
        |  ON a.band = b.band AND a.value = b.value AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 4
        |ORDER BY doc_a, doc_b""".stripMargin),

    // Frame-sampling twin: byte slicing via the payload's hex rendering
    // (16-byte frame = 32 hex chars; hex is uppercase in both engines, and
    // DuckDB has no blob slicing — the hex route makes the identical
    // arithmetic expressible). encode(text) == Spark's text-cast-to-binary
    // (both UTF-8), and md5 runs over the ASCII hex slice on both sides.
    "m3_frame_sample" ->
      """WITH m AS (
        |  SELECT doc_id, hex(encode(text)) AS h FROM documents),
        |f AS (
        |  SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |         substring(h, CAST(i * 32 + 1 AS BIGINT), 32) AS fh
        |  FROM m, UNNEST(range(0, CAST(ceil(length(h) / 32.0) AS BIGINT))) t(i)
        |  WHERE i % 2 = 0)
        |SELECT doc_id, frame_idx,
        |  CAST(length(fh) // 2 AS INTEGER) AS frame_len,
        |  md5(fh) AS frame_md5
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    // Audio-header twin: byte i of the payload = hex chars 2i+1..2i+2
    // parsed base-16 (TRY_CAST guards the short-payload rows the ok flag
    // excludes anyway); same synthetic header layout, same exact integer
    // WAV arithmetic. encode(text) == Spark's text-cast-to-binary.
    "m5_audio_meta" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'wav'
        |         WHEN 1 THEN 'flac' ELSE 'ogg' END AS format,
        |    CAST(octet_length(encode(text)) AS INTEGER) AS byte_len,
        |    hex(encode(text)) AS h
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, format, byte_len, byte_len >= 4 AS ok,
        |    TRY_CAST(('0x' || substring(h, 1, 2)) AS INTEGER) AS b0,
        |    TRY_CAST(('0x' || substring(h, 3, 2)) AS INTEGER) AS b1,
        |    TRY_CAST(('0x' || substring(h, 5, 2)) AS INTEGER) AS b2
        |  FROM m),
        |d AS (
        |  SELECT doc_id, format, byte_len, ok,
        |    CASE WHEN ok THEN ([8000, 16000, 22050, 44100, 48000])[b0 % 5 + 1] END AS sample_rate,
        |    CASE WHEN ok THEN b1 % 2 + 1 END AS channels,
        |    CASE WHEN ok THEN (b2 % 2 + 1) * 8 END AS bits_per_sample
        |  FROM p),
        |n AS (
        |  SELECT *, CASE WHEN ok THEN CAST(
        |      ((byte_len - 4) * 8) // (bits_per_sample * channels)
        |    AS BIGINT) END AS n_samples
        |  FROM d)
        |SELECT doc_id, format, byte_len,
        |  CAST(sample_rate AS INTEGER) AS sample_rate,
        |  CAST(channels AS INTEGER) AS channels,
        |  CAST(bits_per_sample AS INTEGER) AS bits_per_sample,
        |  n_samples,
        |  CASE WHEN ok THEN CAST((n_samples * 1000) // sample_rate AS BIGINT)
        |  END AS duration_ms,
        |  ok
        |FROM n ORDER BY doc_id""".stripMargin,

    // ATR twin: TR is per-row arithmetic on identical doubles (round 6);
    // the 14-row frame mean rounds at 2 (the w3/w4 contract). The frame
    // averages the RAW tr, mirroring the engine (rounding happens on
    // output only).
    "w21_atr" -> withCtes(stockCte, cleanCte, dedupCte,
      """pc AS (
        |  SELECT symbol, "date", high, low, close,
        |         LAG(close) OVER (PARTITION BY symbol ORDER BY "date") AS prev_close
        |  FROM dedup)""".stripMargin,
      """tr AS (
        |  SELECT symbol, "date",
        |         CASE WHEN prev_close IS NULL THEN high - low
        |              ELSE GREATEST(high - low, ABS(high - prev_close),
        |                            ABS(low - prev_close)) END AS tr
        |  FROM pc)""".stripMargin)(
      s"""SELECT symbol, "date", ${R("tr", 6)} AS tr,
         |  ${R("AVG(tr) OVER (PARTITION BY symbol ORDER BY \"date\" ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)", 2)} AS atr14
         |FROM tr ORDER BY symbol, "date"""".stripMargin),

    // OBV twin: the direction CASE branches on exact doubles and the
    // running total sums BIGINT volume — exact integer arithmetic, no
    // rounding on either side.
    "w22_obv" -> withCtes(stockCte, cleanCte, dedupCte,
      """sv AS (
        |  SELECT symbol, "date",
        |         CASE WHEN LAG(close) OVER w IS NULL THEN 0
        |              WHEN close > LAG(close) OVER w THEN volume
        |              WHEN close < LAG(close) OVER w THEN -volume
        |              ELSE 0 END AS sv
        |  FROM dedup WINDOW w AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin)(
      """SELECT symbol, "date",
        |  CAST(SUM(sv) OVER (PARTITION BY symbol ORDER BY "date"
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM sv ORDER BY symbol, "date"""".stripMargin),

    // Keltner twin: the w14 shared-constant FIR EMA over the typical
    // price, the w21 true-range/rolling-mean ATR, bands over RAW mid/atr
    // with identical parenthesization, round 2 at the output.
    "w23_keltner" -> withCtes(stockCte, cleanCte, dedupCte,
      """base AS (
        |  SELECT symbol, "date", high, low, close,
        |         (high + low + close) / 3 AS tp,
        |         LAG(close) OVER sw AS prev_close
        |  FROM dedup WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin,
      """trn AS (
        |  SELECT symbol, "date", tp,
        |         ROW_NUMBER() OVER sw AS rn,
        |         CASE WHEN prev_close IS NULL THEN high - low
        |              ELSE GREATEST(high - low, ABS(high - prev_close),
        |                            ABS(low - prev_close)) END AS tr
        |  FROM base WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin,
      s"""k AS (
         |  SELECT symbol, "date",
         |         ${firSql("tp", 20, 20)} AS mid,
         |         AVG(tr) OVER (PARTITION BY symbol ORDER BY "date"
         |           ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS atr
         |  FROM trn WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin)(
      s"""SELECT symbol, "date", ${R("mid", 2)} AS k_mid,
         |  ${R("mid + 2.0 * atr", 2)} AS k_upper,
         |  ${R("mid - 2.0 * atr", 2)} AS k_lower
         |FROM k ORDER BY symbol, "date"""".stripMargin),

    // Donchian twin: exact window MIN/MAX envelope, midpoint and the
    // prior-channel breakout flag with identical branch order.
    "w26_donchian" -> withCtes(stockCte, cleanCte, dedupCte,
      """dc AS (
        |  SELECT symbol, "date", close,
        |         MAX(high) OVER f AS dc_high, MIN(low) OVER f AS dc_low
        |  FROM dedup WINDOW f AS (PARTITION BY symbol ORDER BY "date"
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))""".stripMargin,
      """pc AS (
        |  SELECT *, LAG(dc_high) OVER sw AS ph, LAG(dc_low) OVER sw AS pl
        |  FROM dc WINDOW sw AS (PARTITION BY symbol ORDER BY "date"))""".stripMargin)(
      s"""SELECT symbol, "date", ${R("dc_high", 2)} AS dc_high,
         |  ${R("dc_low", 2)} AS dc_low,
         |  ${R("(dc_high + dc_low) / 2", 2)} AS dc_mid,
         |  CAST(CASE WHEN ph IS NULL THEN NULL
         |            WHEN close > ph THEN 1
         |            WHEN close < pl THEN -1
         |            ELSE 0 END AS INTEGER) AS breakout
         |FROM pc ORDER BY symbol, "date"""".stripMargin),

    // Gini twin: one per-symbol volume aggregate, rank over the entity
    // frame, the rank-sum identity with identical parenthesization —
    // exact integer sums into an exact double conversion.
    "a23_gini" -> withCtes(stockCte, cleanCte, dedupCte,
      "v AS (SELECT symbol, SUM(volume) AS x FROM dedup GROUP BY 1)",
      """rk AS (
        |  SELECT x, ROW_NUMBER() OVER (ORDER BY x, symbol) AS i
        |  FROM v)""".stripMargin,
      "ag AS (SELECT COUNT(*) AS n, SUM(x) AS t, SUM(i * x) AS s FROM rk)")(
      s"""SELECT CAST(n AS BIGINT) AS n_symbols,
         |  CAST(t AS BIGINT) AS total_volume,
         |  ${R("(2.0 * s) / (n * t) - (n + 1.0) / n", 6)} AS gini
         |FROM ag""".stripMargin),

    // PSI twin: first-vs-second half of the date range, the a15 bucket
    // idiom (LEAST-capped FLOOR, flat-range guard), 0.0001 share floor,
    // identical term parenthesization, drift label on the ROUNDED psi.
    "a24_psi" -> withCtes(stockCte, cleanCte, dedupCte,
      """ext AS (
        |  SELECT MIN("date") AS dmn, MAX("date") AS dmx,
        |         MIN(close) AS cmn, MAX(close) AS cmx
        |  FROM dedup)""".stripMargin,
      """pb AS (
        |  SELECT CASE WHEN d."date" <= dmn +
        |           CAST(FLOOR(datediff('day', dmn, dmx) / 2) AS INTEGER)
        |         THEN 'a' ELSE 'b' END AS period,
        |         CASE WHEN cmx = cmn THEN 0
        |              ELSE CAST(LEAST(9, FLOOR((close - cmn)
        |                / ((cmx - cmn) / 10))) AS INTEGER) END AS bucket
        |  FROM dedup d CROSS JOIN ext)""".stripMargin,
      "cnt AS (SELECT period, bucket, COUNT(*) AS n FROM pb GROUP BY 1, 2)",
      "tot AS (SELECT period, SUM(n) AS t FROM cnt GROUP BY 1)",
      """grid AS (
        |  SELECT p.period, b.bucket
        |  FROM (SELECT 'a' AS period UNION ALL SELECT 'b') p
        |  CROSS JOIN range(0, 10) b(bucket))""".stripMargin,
      """sh AS (
        |  SELECT g.period, g.bucket,
        |         GREATEST(CAST(COALESCE(c.n, 0) AS DOUBLE) / t.t, 0.0001) AS sh
        |  FROM grid g
        |  LEFT JOIN cnt c ON c.period = g.period AND c.bucket = g.bucket
        |  JOIN tot t ON t.period = g.period)""".stripMargin,
      """ab AS (
        |  SELECT bucket, MAX(CASE WHEN period = 'a' THEN sh END) AS p,
        |         MAX(CASE WHEN period = 'b' THEN sh END) AS q
        |  FROM sh GROUP BY 1)""".stripMargin,
      s"""ps AS (SELECT ${R("SUM((p - q) * ln(p / q))", 6)} AS psi FROM ab)""",
      """np AS (
        |  SELECT MAX(CASE WHEN period = 'a' THEN t END) AS n_a,
        |         MAX(CASE WHEN period = 'b' THEN t END) AS n_b
        |  FROM tot)""".stripMargin)(
      """SELECT CAST(np.n_a AS BIGINT) AS n_a, CAST(np.n_b AS BIGINT) AS n_b,
        |  ps.psi,
        |  CASE WHEN ps.psi IS NULL THEN NULL
        |       WHEN ps.psi < 0.1 THEN 'stable'
        |       WHEN ps.psi < 0.2 THEN 'moderate'
        |       ELSE 'shifted' END AS drift_level
        |FROM ps CROSS JOIN np""".stripMargin),

    // Welch drift twin: ROW_NUMBER runs after the WHERE (SQL window-
    // after-filter semantics == the engine's filter-then-rank), halves
    // pivot via MAX(CASE), and the t / df formulas render with IDENTICAL
    // parenthesization to the Column expressions (the a16 discipline).
    "a20_ttest" -> withCtes(stockCte, cleanCte, dedupCte,
      """r AS (
        |  SELECT symbol, "date",
        |         close / LAG(close) OVER (PARTITION BY symbol ORDER BY "date") - 1 AS r
        |  FROM dedup)""".stripMargin,
      """h AS (
        |  SELECT symbol, r,
        |         CASE WHEN ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY "date") * 2
        |                   <= COUNT(*) OVER (PARTITION BY symbol)
        |              THEN 1 ELSE 2 END AS half
        |  FROM r WHERE r IS NOT NULL)""".stripMargin,
      """bh AS (
        |  SELECT symbol, half, COUNT(*) AS nh, AVG(r) AS m, VAR_SAMP(r) AS v
        |  FROM h GROUP BY 1, 2)""".stripMargin,
      """piv AS (
        |  SELECT symbol,
        |         MAX(CASE WHEN half = 1 THEN nh END) AS n1,
        |         MAX(CASE WHEN half = 1 THEN m END) AS m1,
        |         MAX(CASE WHEN half = 1 THEN v END) AS v1,
        |         MAX(CASE WHEN half = 2 THEN nh END) AS n2,
        |         MAX(CASE WHEN half = 2 THEN m END) AS m2,
        |         MAX(CASE WHEN half = 2 THEN v END) AS v2
        |  FROM bh GROUP BY 1)""".stripMargin)(
      s"""SELECT symbol, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
         |  ${R("CASE WHEN v1 IS NULL OR v2 IS NULL OR v1 / n1 + v2 / n2 <= 0.0 THEN NULL ELSE (m1 - m2) / sqrt(v1 / n1 + v2 / n2) END", 6)} AS t_welch,
         |  ${R("CASE WHEN v1 IS NULL OR v2 IS NULL OR v1 / n1 + v2 / n2 <= 0.0 THEN NULL ELSE (v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2) / (v1 / n1 * (v1 / n1) / (n1 - 1) + v2 / n2 * (v2 / n2) / (n2 - 1)) END", 6)} AS df_welch
         |FROM piv ORDER BY symbol""".stripMargin),

    // Benford twin: the first digit comes from the decimal string (never
    // floor(log10) — IEEE log10 of exact powers of 10 can land below the
    // integer, and the engines' libm need not err identically); freq is
    // exact-integer division; log10(1 + 1.0/d) runs on the same nine
    // doubles in both engines.
    "a21_benford" -> withCtes(stockCte, cleanCte, dedupCte,
      """dg AS (
        |  SELECT CAST(substring(CAST(volume AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM dedup WHERE volume >= 1)""".stripMargin,
      "cnt AS (SELECT digit, COUNT(*) AS n FROM dg GROUP BY 1)",
      "tot AS (SELECT SUM(n) AS tot FROM cnt)")(
      s"""SELECT digit, CAST(n AS BIGINT) AS n,
         |  ${R("CAST(n AS DOUBLE) / tot", 6)} AS freq,
         |  ${R("log10(1.0 + 1.0 / digit)", 6)} AS benford
         |FROM cnt, tot ORDER BY digit""".stripMargin),

    // Bounce-rate twin: ev7's session CTEs verbatim, then one per-session
    // aggregate and the per-day exact-integer bounce ratio.
    "ev17_bounce_rate" -> withCtes(
      """ev AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR CAST(FLOOR(epoch(ts)) AS BIGINT)
        |                   - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,
      """sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM ev)""".stripMargin,
      """sg AS (
        |  SELECT user_id, session_seq, COUNT(*) AS n_events,
        |         CAST(date_trunc('day', MIN(ts)) AS DATE) AS "day"
        |  FROM sess GROUP BY 1, 2)""".stripMargin)(
      s"""SELECT "day", CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
         |  ${R("CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)", 6)} AS bounce_rate
         |FROM sg GROUP BY 1 ORDER BY "day"""".stripMargin),

    // Cohort-revenue twin: both week keys are Monday-start date_truncs so
    // the day difference is always an exact multiple of 7 (the /7 cast is
    // exact in both engines' cast semantics); revenue sums DECIMAL(38,6)
    // of tie-safe pre-rounded terms (the ev16 associative-sum contract).
    "ev18_cohort_value" -> (
      s"""WITH c AS (
         |  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
         |  FROM events GROUP BY 1),
         |p AS (
         |  SELECT e.user_id, c.cohort_week,
         |         CAST(datediff('day', c.cohort_week,
         |           CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS INTEGER) AS week_index,
         |         e.value
         |  FROM events e JOIN c USING (user_id)
         |  WHERE e.event_type = 'purchase')
         |SELECT cohort_week, week_index,
         |  CAST(COUNT(*) AS BIGINT) AS n_purchases,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
         |  CAST(SUM(CAST(${R("value", 6)} AS DECIMAL(38,6))) AS DOUBLE) AS revenue
         |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // Canonical-URL twin: same deterministic URL seeding formula, same
    // two regexp_extracts (lowercased scheme+host, query/fragment-free
    // path), same winner election.
    "d14_url_dedup" -> (
      s"""WITH u AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTPS://' END
         |     || CASE WHEN doc_id % 4 < 2 THEN 'News.Example' ELSE 'news.example' END
         |     || CAST(doc_id % 5 AS VARCHAR)
         |     || '.com/article/a' || CAST(doc_id % 13 AS VARCHAR)
         |     || CASE WHEN doc_id % 3 = 0
         |             THEN '?utm_source=s' || CAST(doc_id % 7 AS VARCHAR)
         |             ELSE '' END
         |     || CASE WHEN doc_id % 11 = 0 THEN '#top' ELSE '' END) AS url
         |  FROM documents),
         |cn AS (
         |  SELECT doc_id, url,
         |         lower(regexp_extract(url, '^([a-zA-Z]+://[^/?#]+)', 1))
         |           || regexp_extract(url, '^[a-zA-Z]+://[^/?#]+([^?#]*)', 1) AS canonical_url
         |  FROM u)
         |SELECT canonical_url, MIN(doc_id) AS canonical_doc,
         |  CAST(COUNT(*) AS BIGINT) AS n_variants,
         |  CAST(COUNT(DISTINCT url) AS BIGINT) AS n_distinct_urls
         |FROM cn GROUP BY 1 HAVING COUNT(*) > 1
         |ORDER BY canonical_url""".stripMargin),

    // Interpolation twin: x14's spine CTEs, opposite-frame IGNORE NULLS
    // windows for the bracketing known points, identical linear form.
    "x15_interpolate" -> withCtes(stockCte, cleanCte, dedupCte,
      """sub AS (
        |  SELECT symbol, "date", close FROM dedup
        |  WHERE CAST(symbol AS BIGINT) % 97 = 0)""".stripMargin,
      """sp AS (
        |  SELECT symbol,
        |    CAST(UNNEST(generate_series(CAST(mn AS TIMESTAMP),
        |      CAST(mx AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS "date"
        |  FROM (SELECT symbol, MIN("date") AS mn, MAX("date") AS mx
        |        FROM sub GROUP BY 1))""".stripMargin,
      """g AS (
        |  SELECT sp.symbol, sp."date", sub.close
        |  FROM sp LEFT JOIN sub ON sub.symbol = sp.symbol AND sub."date" = sp."date")""".stripMargin,
      """br AS (
        |  SELECT symbol, "date", close,
        |    LAST_VALUE(close IGNORE NULLS) OVER wb AS pv,
        |    LAST_VALUE(CASE WHEN close IS NOT NULL THEN "date" END IGNORE NULLS) OVER wb AS pd,
        |    FIRST_VALUE(close IGNORE NULLS) OVER wf AS nv,
        |    FIRST_VALUE(CASE WHEN close IS NOT NULL THEN "date" END IGNORE NULLS) OVER wf AS nd
        |  FROM g
        |  WINDOW wb AS (PARTITION BY symbol ORDER BY "date"
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wf AS (PARTITION BY symbol ORDER BY "date"
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))""".stripMargin)(
      s"""SELECT symbol, "date",
         |  ${R("""CASE WHEN close IS NOT NULL THEN close
         |    ELSE pv + (nv - pv) * (CAST(datediff('day', pd, "date") AS DOUBLE)
         |      / datediff('day', pd, nd)) END""", 6)} AS interp_close,
         |  close IS NULL AS is_imputed
         |FROM br ORDER BY symbol, "date"""".stripMargin),

    // Session-duration twin: ev7/ev17's session CTEs, exact integer
    // durations, quantile_cont == percentile (the a5 contract).
    "ev19_session_duration" -> withCtes(
      """ev AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN LAG(ts) OVER w IS NULL
        |                OR CAST(FLOOR(epoch(ts)) AS BIGINT)
        |                   - CAST(FLOOR(epoch(LAG(ts) OVER w)) AS BIGINT) > 1800
        |              THEN 1 ELSE 0 END AS new_session
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,
      """sess AS (
        |  SELECT *, CAST(SUM(new_session) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        |  FROM ev)""".stripMargin,
      """sg AS (
        |  SELECT user_id, session_seq,
        |         CAST(date_trunc('day', MIN(ts)) AS DATE) AS "day",
        |         MAX(CAST(FLOOR(epoch(ts)) AS BIGINT))
        |           - MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) AS duration_sec
        |  FROM sess GROUP BY 1, 2)""".stripMargin)(
      s"""SELECT "day", CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  ${R("quantile_cont(duration_sec, 0.5)", 6)} AS p50_sec,
         |  ${R("quantile_cont(duration_sec, 0.9)", 6)} AS p90_sec,
         |  ${R("AVG(duration_sec)", 2)} AS avg_sec
         |FROM sg GROUP BY 1 ORDER BY "day"""".stripMargin),

    // PageRank twin: same deterministic host-link seeding, exact-integer
    // edge weights, pagerankIterCtes unrolls the 10 power iterations.
    "g1_pagerank" -> withCtes(Seq(
      """lk AS (
        |  SELECT 'h' || CAST(doc_id % 13 AS VARCHAR) || '.example.com' AS src,
        |         'h' || CAST((doc_id * 7 + 3) % 13 AS VARCHAR) || '.example.com' AS dst
        |  FROM documents
        |  WHERE doc_id % 13 <> (doc_id * 7 + 3) % 13)""".stripMargin,
      "e AS (SELECT src, dst, COUNT(*) AS cnt FROM lk GROUP BY 1, 2)",
      "o AS (SELECT src, SUM(cnt) AS out_cnt FROM e GROUP BY 1)",
      """ew AS (
        |  SELECT e.src, e.dst, CAST(e.cnt AS DOUBLE) / o.out_cnt AS w
        |  FROM e JOIN o ON o.src = e.src)""".stripMargin,
      "nodes AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
      "nn AS (SELECT COUNT(*) AS n FROM nodes)",
      "r0 AS (SELECT host, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn)") ++
      pagerankIterCtes(10): _*)(
      s"""SELECT n.host, ${R("r10.r", 6)} AS pagerank,
         |  CAST(COALESCE(il.in_links, 0) AS BIGINT) AS in_links,
         |  CAST(COALESCE(o.out_cnt, 0) AS BIGINT) AS out_links
         |FROM nodes n
         |JOIN r10 ON r10.host = n.host
         |LEFT JOIN (SELECT dst AS host, SUM(cnt) AS in_links FROM e GROUP BY 1) il
         |  ON il.host = n.host
         |LEFT JOIN o ON o.src = n.host
         |ORDER BY n.host""".stripMargin),

    // Trigram-entropy twin: same 256-char cap, 1-based position unnest,
    // exact-integer p, -SUM(p ln p)/ln 2 with identical parenthesization.
    "t33_trigram_entropy" -> (
      s"""WITH d AS (
         |  SELECT doc_id, lower(substr(text, 1, 256)) AS t
         |  FROM documents WHERE length(substr(text, 1, 256)) >= 3),
         |tri AS (
         |  SELECT doc_id, substr(t, CAST(r.i AS INTEGER), 3) AS tri
         |  FROM d, UNNEST(range(1, length(t) - 1)) r(i)),
         |freq AS (
         |  SELECT doc_id, tri, COUNT(*) AS n FROM tri GROUP BY 1, 2),
         |ft AS (
         |  SELECT doc_id, n, SUM(n) OVER (PARTITION BY doc_id) AS tot
         |  FROM freq)
         |SELECT doc_id, CAST(MAX(tot) AS BIGINT) AS n_trigrams,
         |  CAST(COUNT(*) AS BIGINT) AS distinct_trigrams,
         |  ${R("-SUM((CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)) / ln(2.0)", 6)} AS trigram_entropy_bits
         |FROM ft GROUP BY 1 ORDER BY doc_id""".stripMargin),

    // OLS-trend twin: the w16 co-moment contract (COVAR_SAMP / VAR_SAMP /
    // CORR agree cross-engine at round 6), epoch-day x in both engines.
    // The VAR_SAMP(close) = 0 CASE mirrors the Spark side's guard: DuckDB's
    // CORR already returns NULL on a zero-variance argument (Spark's
    // returns NaN), so the branch is a no-op here — it documents the
    // shared NULL-r2 contract for constant-close symbols.
    "a22_ols_trend" -> withCtes(stockCte, cleanCte, dedupCte,
      """xd AS (
        |  SELECT symbol, close,
        |         CAST(datediff('day', DATE '1970-01-01', "date") AS DOUBLE) AS x
        |  FROM dedup)""".stripMargin)(
      s"""SELECT symbol, CAST(COUNT(*) AS BIGINT) AS n_days,
         |  ${R("COVAR_SAMP(x, close) / VAR_SAMP(x)", 6)} AS slope,
         |  ${R("AVG(close) - COVAR_SAMP(x, close) / VAR_SAMP(x) * AVG(x)", 2)} AS intercept,
         |  CASE WHEN VAR_SAMP(close) = 0 THEN NULL
         |       ELSE ${R("CORR(x, close) * CORR(x, close)", 6)} END AS r2
         |FROM xd GROUP BY symbol ORDER BY symbol""".stripMargin),

    // Fuzzy-linkage twin: same dirt formulas (Java/RE2-common regexes),
    // same second-token blocking + 64-cap per side, Jaccard via
    // list_intersect / distinct-concat union (== Spark array_union).
    "j11_fuzzy_linkage" -> (
      s"""WITH p AS (
         |  SELECT p_partkey,
         |         lower(concat_ws(' ', p_name, p_type, p_brand)) AS name
         |  FROM part),
         |c AS (
         |  SELECT p_partkey AS catalog_id,
         |         CASE WHEN p_partkey % 3 = 0
         |              THEN regexp_replace(name, ' [^ ]+$$', '')
         |              WHEN p_partkey % 3 = 1
         |              THEN regexp_replace(name, '^[a-z]+', 'unknown')
         |              ELSE name END AS cname
         |  FROM p),
         |pb AS (
         |  SELECT * FROM (
         |    SELECT p_partkey, name, string_split(name, ' ')[2] AS bk,
         |           ROW_NUMBER() OVER (PARTITION BY string_split(name, ' ')[2]
         |             ORDER BY p_partkey) AS rn
         |    FROM p) WHERE rn <= 64),
         |cb AS (
         |  SELECT * FROM (
         |    SELECT catalog_id, cname, string_split(cname, ' ')[2] AS bk,
         |           ROW_NUMBER() OVER (PARTITION BY string_split(cname, ' ')[2]
         |             ORDER BY catalog_id) AS rn
         |    FROM c) WHERE rn <= 64),
         |j AS (
         |  SELECT pb.p_partkey, cb.catalog_id,
         |    ${R("""CAST(len(list_intersect(list_distinct(string_split(pb.name, ' ')),
         |                                   list_distinct(string_split(cb.cname, ' ')))) AS DOUBLE)
         |      / len(list_distinct(list_concat(list_distinct(string_split(pb.name, ' ')),
         |                                      list_distinct(string_split(cb.cname, ' ')))))""", 6)} AS jaccard
         |  FROM pb JOIN cb ON cb.bk = pb.bk)
         |SELECT p_partkey, catalog_id, jaccard FROM j
         |WHERE jaccard >= 0.5
         |ORDER BY p_partkey, catalog_id""".stripMargin),

    // Weekly-OHLC twin: arg_min/arg_max on the unique (symbol, date) key
    // (the a6 contract), exact max/min/sum, round 2 on the arg picks.
    "w25_weekly_ohlc" -> withCtes(stockCte, cleanCte, dedupCte)(
      s"""SELECT symbol, CAST(date_trunc('week', "date") AS DATE) AS week,
         |  ${R("arg_min(open, \"date\")", 2)} AS w_open,
         |  ${R("MAX(high)", 2)} AS w_high,
         |  ${R("MIN(low)", 2)} AS w_low,
         |  ${R("arg_max(close, \"date\")", 2)} AS w_close,
         |  CAST(SUM(volume) AS BIGINT) AS w_volume,
         |  CAST(COUNT(*) AS BIGINT) AS n_days
         |FROM dedup GROUP BY 1, 2 ORDER BY symbol, week""".stripMargin),

    // Triangle twin: same undirected canonicalization, same ordered
    // two-join triangle enumeration, per-node explode via UNNEST.
    "g2_triangles" -> (
      """WITH lk AS (
        |  SELECT 'h' || CAST(doc_id % 13 AS VARCHAR) || '.example.com' AS src,
        |         'h' || CAST(u.dk AS VARCHAR) || '.example.com' AS dst
        |  FROM documents,
        |       UNNEST([(doc_id * 7 + 3) % 13, ((doc_id % 13) * (doc_id % 13) + 1) % 13]) u(dk)
        |  WHERE doc_id % 13 <> u.dk),
        |und AS (
        |  SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
        |  FROM lk),
        |tri AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM und e1
        |  JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
        |SELECT u.host, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |FROM tri, UNNEST([x, y, z]) u(host)
        |GROUP BY 1 ORDER BY u.host""".stripMargin),

    // Connected-components twin: same planted mod-4 seeding (every edge
    // step a multiple of 4), symmetrized distinct edges, and
    // componentIterCtes unrolls the 10 min-label rounds. String labels —
    // no floats anywhere.
    "g3_components" -> withCtes(Seq(
      """lk AS (
        |  SELECT 'h' || CAST(doc_id % 40 AS VARCHAR) || '.example.com' AS src,
        |         'h' || CAST((doc_id % 40 + ((doc_id // 40) % 9 + 1) * 4) % 40
        |           AS VARCHAR) || '.example.com' AS dst
        |  FROM documents)""".stripMargin,
      """und AS MATERIALIZED (
        |  SELECT DISTINCT a, b FROM (
        |    SELECT src AS a, dst AS b FROM lk
        |    UNION ALL SELECT dst, src FROM lk) t
        |  WHERE a <> b)""".stripMargin,
      "nodes AS MATERIALIZED (SELECT DISTINCT a AS host FROM und)",
      """us AS MATERIALIZED (
        |  SELECT a, b FROM und
        |  UNION ALL SELECT host, host FROM nodes)""".stripMargin,
      "l0 AS MATERIALIZED (SELECT host, host AS comp FROM nodes)") ++
      componentIterCtes(10): _*)(
      """SELECT l.host, l.comp AS component,
        |  CAST(sz.n AS BIGINT) AS component_size
        |FROM l10 l
        |JOIN (SELECT comp, COUNT(*) AS n FROM l10 GROUP BY 1) sz
        |  ON sz.comp = l.comp
        |ORDER BY l.host""".stripMargin),

    // HITS twin: the g2 two-target directed graph, distinct edges,
    // hitsIterCtes unrolls the 10 mutual-reinforcement rounds (round-12
    // lockstep on every sum and normalized ratio, the g1 contract).
    "g4_hits" -> withCtes(Seq(
      """lk AS (
        |  SELECT 'h' || CAST(doc_id % 13 AS VARCHAR) || '.example.com' AS src,
        |         'h' || CAST(u.dk AS VARCHAR) || '.example.com' AS dst
        |  FROM documents,
        |       UNNEST([(doc_id * 7 + 3) % 13, ((doc_id % 13) * (doc_id % 13) + 1) % 13]) u(dk)
        |  WHERE doc_id % 13 <> u.dk)""".stripMargin,
      "e AS MATERIALIZED (SELECT DISTINCT src, dst FROM lk)",
      "nodes AS MATERIALIZED (SELECT src AS host FROM e UNION SELECT dst FROM e)",
      "nn AS (SELECT COUNT(*) AS n FROM nodes)",
      "h0 AS MATERIALIZED (SELECT host, 1.0 / nn.n AS h FROM nodes CROSS JOIN nn)") ++
      hitsIterCtes(10): _*)(
      s"""SELECT h.host, ${R("h.h", 6)} AS hub, ${R("a.a", 6)} AS authority
         |FROM h10 h JOIN at10 a ON a.host = h.host
         |ORDER BY h.host""".stripMargin),

    // BPE-pair twin: same lowercase space-split word counts (the t11
    // split semantics), pair explode over the DISTINCT vocabulary via
    // 1-based range unnest (the t33 position idiom), DISTINCT (w, pair)
    // for the vocab doc-frequency. Exact integers end to end.
    "t34_bpe_pairs" -> (
      """WITH wc AS (
        |  SELECT w, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) t
        |  WHERE length(w) >= 2 GROUP BY 1),
        |pc AS (
        |  SELECT substr(w, CAST(r.i AS INTEGER), 2) AS pair,
        |         SUM(wc) AS pair_count
        |  FROM wc, UNNEST(range(1, length(w))) r(i)
        |  GROUP BY 1),
        |df AS (
        |  SELECT pair, COUNT(*) AS n_vocab_words FROM (
        |    SELECT DISTINCT w, substr(w, CAST(r.i AS INTEGER), 2) AS pair
        |    FROM wc, UNNEST(range(1, length(w))) r(i)) t
        |  GROUP BY 1)
        |SELECT pc.pair, CAST(pair_count AS BIGINT) AS pair_count,
        |  CAST(n_vocab_words AS BIGINT) AS n_vocab_words
        |FROM pc JOIN df ON df.pair = pc.pair
        |ORDER BY pair_count DESC, pc.pair
        |LIMIT 30""".stripMargin),

    // BPE merge-training twin: one corpus word-count aggregate, then
    // bpeIterCtes unrolls the 8 merge rounds over the marked vocabulary
    // (regexp_replace wraps each char in '<'/'>' — pure-[a-z] corpus,
    // markers collision-free). Exact integers; merged = left || right.
    "t35_bpe_train" -> withCtes(Seq(
      """wc AS (
        |  SELECT w, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) t
        |  WHERE length(w) >= 2 GROUP BY 1)""".stripMargin,
      """v0 AS MATERIALIZED (
        |  SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS sw, wc
        |  FROM wc)""".stripMargin) ++
      bpeIterCtes(graft.Queries.BpeRounds): _*)(
      (1 to graft.Queries.BpeRounds).map { t =>
        s"""SELECT CAST(round AS INTEGER) AS round, left_sym, right_sym,
           |  left_sym || right_sym AS merged,
           |  CAST(pair_count AS BIGINT) AS pair_count FROM t$t""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY round")),

    // Perceptron-trainer twin: t2's rounded feature components, corpus-
    // mean centered (the oscillation fix), perceptronIterCtes unrolls the
    // batch epochs, pocket = running best over the epoch frame.
    "e7_perceptron_quality" -> {
      val punct = "CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE) / nullif(length(text), 0)"
      val stop = s"CAST(len(list_filter(tok, t -> t IN ($enList))) AS DOUBLE) / len(tok)"
      val ep = graft.Queries.PerceptronEpochs
      withCtes(Seq(
        """toks AS (
          |  SELECT doc_id, text, string_split(text, ' ') AS tok
          |  FROM documents WHERE text IS NOT NULL AND length(text) > 0)""".stripMargin,
        s"""rawf AS (
           |  SELECT
           |    ${R("LEAST(CAST(len(tok) AS DOUBLE) / 100, 1.0)", 6)} AS r1,
           |    ${R(s"1.0 - $punct", 6)} AS r2,
           |    ${R(s"LEAST($stop * 5, 1.0)", 6)} AS r3,
           |    CASE WHEN ${R(s"0.4 * LEAST(CAST(len(tok) AS DOUBLE) / 100, 1.0) + 0.3 * (1.0 - $punct) + 0.3 * LEAST($stop * 5, 1.0)", 6)} >= 0.5
           |         THEN 1.0 ELSE -1.0 END AS y
           |  FROM toks)""".stripMargin,
        s"""mns AS (
           |  SELECT ${R("AVG(r1)", 6)} AS m1, ${R("AVG(r2)", 6)} AS m2,
           |         ${R("AVG(r3)", 6)} AS m3 FROM rawf)""".stripMargin,
        s"""ft AS MATERIALIZED (
           |  SELECT ${R("r1 - m1", 6)} AS f1, ${R("r2 - m2", 6)} AS f2,
           |         ${R("r3 - m3", 6)} AS f3, y
           |  FROM rawf CROSS JOIN mns)""".stripMargin) ++
        perceptronIterCtes(ep): _*)(
        "SELECT epoch, w_len, w_punct, w_stop, bias, n_miss, accuracy,\n" +
        "  MIN(n_miss) OVER (ORDER BY epoch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pocket_n_miss,\n" +
        "  MAX(accuracy) OVER (ORDER BY epoch ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pocket_accuracy\n" +
        "FROM (\n" +
        (1 to ep).map { t =>
          s"""SELECT CAST(epoch AS INTEGER) AS epoch, w_len, w_punct, w_stop,
             |  bias, CAST(n_miss AS BIGINT) AS n_miss,
             |  ${R("1.0 - CAST(n_miss AS DOUBLE) / n", 6)} AS accuracy
             |FROM s$t""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\n)\nORDER BY epoch"))
    },

    // BPE compression-curve twin: the same unrolled merge rounds
    // (bpeIterCtes), with per-round scalar stats over each vocab state —
    // corpus tokens (wc-weighted symbols per word) and the live alphabet.
    "t36_bpe_compression" -> withCtes(Seq(
      """wc AS (
        |  SELECT w, COUNT(*) AS wc FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS w
        |    FROM documents) t
        |  WHERE length(w) >= 2 GROUP BY 1)""".stripMargin,
      """v0 AS MATERIALIZED (
        |  SELECT regexp_replace(w, '(.)', '<\1>', 'g') AS sw, wc
        |  FROM wc)""".stripMargin) ++
      bpeIterCtes(graft.Queries.BpeRounds): _*)(
      (0 to graft.Queries.BpeRounds).map { t =>
        s"""SELECT CAST($t AS INTEGER) AS round,
           |  (SELECT CAST(SUM(wc * len(string_split(
           |       substring(sw, 2, length(sw) - 2), '><'))) AS BIGINT)
           |   FROM v$t) AS corpus_tokens,
           |  (SELECT CAST(COUNT(DISTINCT u.sym) AS BIGINT) FROM (
           |     SELECT unnest(string_split(
           |       substring(sw, 2, length(sw) - 2), '><')) AS sym
           |     FROM v$t) u) AS distinct_symbols""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY round")),

    // Inter-arrival twin: per-(user, type) LAG with the event_id
    // same-instant tiebreak, FLOOR-epoch integer seconds (the ev19
    // contract), quantile_cont == percentile (the a5 contract).
    "ev22_interarrival" -> (
      s"""WITH g AS (
         |  SELECT event_type,
         |         CAST(FLOOR(epoch(ts)) AS BIGINT)
         |           - CAST(FLOOR(epoch(LAG(ts) OVER (
         |               PARTITION BY user_id, event_type
         |               ORDER BY ts, event_id))) AS BIGINT) AS gap_sec
         |  FROM events)
         |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
         |  ${R("quantile_cont(gap_sec, 0.5)", 6)} AS p50_sec,
         |  ${R("quantile_cont(gap_sec, 0.9)", 6)} AS p90_sec,
         |  ${R("AVG(gap_sec)", 2)} AS avg_sec
         |FROM g WHERE gap_sec IS NOT NULL
         |GROUP BY 1 ORDER BY event_type""".stripMargin),

    // Growth-accounting twin: distinct (user, week) pairs, lag/lead
    // classification, churn at week+7 (right-censored users NOT churned),
    // full-outer weekly merge. Counts — exact integers.
    "ev21_growth_accounting" -> (
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |         CAST(date_trunc('week', ts) AS DATE) AS week
        |  FROM events),
        |st AS (
        |  SELECT user_id, week,
        |         LAG(week) OVER w AS prev_week,
        |         LEAD(week) OVER w AS next_week
        |  FROM uw WINDOW w AS (PARTITION BY user_id ORDER BY week)),
        |sc AS (
        |  SELECT week,
        |    SUM(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END) AS n_new,
        |    SUM(CASE WHEN prev_week IS NOT NULL
        |             AND datediff('day', prev_week, week) = 7
        |             THEN 1 ELSE 0 END) AS n_retained,
        |    SUM(CASE WHEN prev_week IS NOT NULL
        |             AND datediff('day', prev_week, week) > 7
        |             THEN 1 ELSE 0 END) AS n_resurrected
        |  FROM st GROUP BY 1),
        |ch AS (
        |  SELECT week + 7 AS week, COUNT(*) AS n_churned
        |  FROM st
        |  WHERE next_week IS NOT NULL AND datediff('day', week, next_week) > 7
        |  GROUP BY 1)
        |SELECT COALESCE(sc.week, ch.week) AS week,
        |  CAST(COALESCE(n_new, 0) AS BIGINT) AS n_new,
        |  CAST(COALESCE(n_retained, 0) AS BIGINT) AS n_retained,
        |  CAST(COALESCE(n_resurrected, 0) AS BIGINT) AS n_resurrected,
        |  CAST(COALESCE(n_churned, 0) AS BIGINT) AS n_churned
        |FROM sc FULL OUTER JOIN ch ON sc.week = ch.week
        |ORDER BY week""".stripMargin),

    // Stochastic-oscillator twin: window MIN/MAX channel bounds are exact,
    // %K is identical per-row arithmetic, %D averages raw %K with NULLs
    // skipped the same way.
    "w24_stochastic" -> withCtes(stockCte, cleanCte, dedupCte,
      """hl AS (
        |  SELECT symbol, "date", close,
        |         MIN(low) OVER f AS lo, MAX(high) OVER f AS hi
        |  FROM dedup WINDOW f AS (PARTITION BY symbol ORDER BY "date"
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))""".stripMargin,
      """k AS (
        |  SELECT symbol, "date",
        |         CASE WHEN hi = lo THEN NULL
        |              ELSE 100.0 * (close - lo) / (hi - lo) END AS pct_k
        |  FROM hl)""".stripMargin)(
      s"""SELECT symbol, "date", ${R("pct_k", 6)} AS pct_k,
         |  ${R("AVG(pct_k) OVER (PARTITION BY symbol ORDER BY \"date\" ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)", 2)} AS pct_d
         |FROM k ORDER BY symbol, "date"""".stripMargin),

    // Markov-stationary twin: ev6's transition CTEs, markovIterCtes
    // unrolls the 20 power iterations.
    "ev20_markov_stationary" -> withCtes(Seq(
      """seq AS (
        |  SELECT user_id, event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)""".stripMargin,
      """cnt AS (
        |  SELECT prev_type, event_type, COUNT(*) AS n
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)""".stripMargin,
      """m AS (
        |  SELECT prev_type, event_type,
        |         CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type) AS p
        |  FROM cnt)""".stripMargin,
      """states AS (
        |  SELECT prev_type AS state FROM m UNION SELECT event_type FROM m)""".stripMargin,
      "nn AS (SELECT COUNT(*) AS n FROM states)",
      "pi0 AS (SELECT state, 1.0 / nn.n AS pi FROM states CROSS JOIN nn)") ++
      markovIterCtes(20): _*)(
      s"""SELECT state, ${R("pi", 6)} AS pi_stationary
         |FROM pi20 ORDER BY state""".stripMargin),

    // Markov-attribution twin: ev6/ev20's lag CTEs with prev IS NULL rows
    // carrying the start distribution, per-type totals as drop-out
    // denominators, attrIterCtes unrolls the 20 absorption steps over the
    // scenario x state grid, and the report re-derives effects and shares
    // with the identical parenthesization.
    "ev23_markov_attribution" -> withCtes(Seq(
      """seq AS (
        |  SELECT user_id, event_type,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events)""".stripMargin,
      """cnt AS (
        |  SELECT prev_type, event_type, COUNT(*) AS n
        |  FROM seq WHERE prev_type IS NOT NULL AND prev_type <> 'purchase'
        |  GROUP BY 1, 2)""".stripMargin,
      """tot AS (
        |  SELECT event_type, COUNT(*) AS n_events FROM events GROUP BY 1)""".stripMargin,
      """m AS MATERIALIZED (
        |  SELECT c.prev_type AS src, c.event_type AS dst,
        |         CAST(c.n AS DOUBLE) / t.n_events AS p
        |  FROM cnt c JOIN tot t ON t.event_type = c.prev_type)""".stripMargin,
      "states AS MATERIALIZED (SELECT event_type AS state FROM tot)",
      """fe AS MATERIALIZED (
        |  SELECT event_type, COUNT(*) AS nf
        |  FROM seq WHERE prev_type IS NULL GROUP BY 1)""".stripMargin,
      "nu AS (SELECT SUM(nf) AS n_users FROM fe)",
      """scen AS MATERIALIZED (
        |  SELECT '__full' AS scenario
        |  UNION ALL SELECT state FROM states WHERE state <> 'purchase')""".stripMargin,
      """grid AS MATERIALIZED (
        |  SELECT scenario, state FROM scen CROSS JOIN states)""".stripMargin,
      """aa0 AS MATERIALIZED (
        |  SELECT scenario, state,
        |         CASE WHEN state = 'purchase' THEN 1.0 ELSE 0.0 END AS a
        |  FROM grid)""".stripMargin) ++
      attrIterCtes(20) ++ Seq(
      s"""pc AS MATERIALIZED (
         |  SELECT sc.scenario, ${R("COALESCE(s.v, 0.0)", 12)} AS p
         |  FROM scen sc
         |  LEFT JOIN (
         |    SELECT a.scenario,
         |           SUM((CAST(fe.nf AS DOUBLE) / nu.n_users) * a.a) AS v
         |    FROM fe CROSS JOIN nu
         |    JOIN aa20 a ON a.state = fe.event_type
         |    GROUP BY 1) s ON s.scenario = sc.scenario)""".stripMargin,
      "pf AS (SELECT p FROM pc WHERE scenario = '__full')",
      s"""ret AS (
         |  SELECT ${R("SUM(f.p - r.p)", 12)} AS t
         |  FROM pc r CROSS JOIN pf f WHERE r.scenario <> '__full')""".stripMargin): _*)(
      s"""SELECT r.scenario AS event_type,
         |  ${R("f.p", 6)} AS p_convert,
         |  ${R("r.p", 6)} AS p_removed,
         |  ${R("f.p - r.p", 6)} AS removal_effect,
         |  CASE WHEN ret.t <= 0 THEN NULL
         |       ELSE ${R("(f.p - r.p) / ret.t", 6)} END AS attribution_share
         |FROM pc r CROSS JOIN pf f CROSS JOIN ret
         |WHERE r.scenario <> '__full'
         |ORDER BY event_type""".stripMargin),

    // RFM-k-means twin: ev10's purchase-only feature base, min-max
    // normalization at round 9, md5 seed centroids (the fixedCbCte
    // recipe, salt 'rfm'), rfmLloydCtes unrolls the 3 training rounds,
    // and the report groups the final assignment under the trained
    // centroids.
    "ev24_rfm_segments" -> withCtes(Seq(
      """mx AS (
        |  SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) AS mxd
        |  FROM events WHERE event_type = 'purchase')""".stripMargin,
      """ur AS (
        |  SELECT user_id,
        |         CAST(date_trunc('day', MAX(ts)) AS DATE) AS last_d,
        |         COUNT(*) AS frequency,
        |         ${MON} AS monetary
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)"""
        .stripMargin.replace("${MON}", R("SUM(value)", 6)),
      """rfm AS (
        |  SELECT user_id,
        |         CAST(datediff('day', last_d, mx.mxd) AS DOUBLE) AS recency,
        |         frequency, monetary
        |  FROM ur CROSS JOIN mx)""".stripMargin,
      """st AS (
        |  SELECT MIN(recency) AS rmn, MAX(recency) AS rmx,
        |         MIN(frequency) AS fmn, MAX(frequency) AS fmx,
        |         MIN(monetary) AS mmn, MAX(monetary) AS mmx
        |  FROM rfm)""".stripMargin,
      s"""rn AS MATERIALIZED (
         |  SELECT user_id, recency, frequency, monetary,
         |    CASE WHEN st.rmx = st.rmn THEN 0.0
         |         ELSE ${R("(recency - st.rmn) / (st.rmx - st.rmn)", 9)} END AS nr,
         |    CASE WHEN st.fmx = st.fmn THEN 0.0
         |         ELSE ${R("(CAST(frequency AS DOUBLE) - CAST(st.fmn AS DOUBLE)) / (CAST(st.fmx AS DOUBLE) - CAST(st.fmn AS DOUBLE))", 9)} END AS nf,
         |    CASE WHEN st.mmx = st.mmn THEN 0.0
         |         ELSE ${R("(monetary - st.mmn) / (st.mmx - st.mmn)", 9)} END AS nm
         |  FROM rfm CROSS JOIN st)""".stripMargin,
      """scb0 AS (
        |  SELECT c,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '_rfm_0'), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS wr,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '_rfm_1'), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS wf,
        |    (CAST(('0x' || substr(md5(CAST(c AS VARCHAR) || '_rfm_2'), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS wm
        |  FROM range(0, 4) t(c))""".stripMargin) ++
      rfmLloydCtes(3) ++ Seq(
      s"""saf AS MATERIALIZED (
         |  SELECT user_id, recency, frequency, monetary, c FROM (
         |    SELECT rn.user_id, rn.recency, rn.frequency, rn.monetary, cb.c,
         |      ROW_NUMBER() OVER (PARTITION BY rn.user_id
         |        ORDER BY ${R(rfmDist2, 6)}, cb.c) AS rnk
         |    FROM rn CROSS JOIN scb3 cb) t WHERE rnk = 1)""".stripMargin): _*)(
      s"""SELECT CAST(c AS BIGINT) AS segment,
         |  CAST(COUNT(*) AS BIGINT) AS n_users,
         |  ${R("AVG(recency)", 2)} AS avg_recency_days,
         |  ${R("AVG(frequency)", 2)} AS avg_frequency,
         |  ${R("AVG(monetary)", 2)} AS avg_monetary
         |FROM saf GROUP BY 1 ORDER BY 1""".stripMargin),

    // MMR twin: sim1's unnest-dot relevance CTEs (fixed query batch),
    // top-20 shortlist, shortlist-pairwise sims, then the greedy steps
    // unrolled by mmrStepCtes (see its scaladoc for the determinism
    // argument).
    "sim19_mmr" -> withCtes(Seq(embUnnestCte(""), normCte,
      """rel0 AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |         SUM(CAST(q.v AS DOUBLE) * CAST(c.v AS DOUBLE)) AS dp
        |  FROM u q JOIN u c ON q.i = c.i
        |    AND q.vec_id % 100 = 0 AND q.vec_id < 2000
        |    AND c.vec_id <> q.vec_id
        |  GROUP BY 1, 2)""".stripMargin,
      s"""rel AS (
         |  SELECT query_id, rel0.vec_id,
         |         ${R("dp / (nq.nv * nc.nv)", 6)} AS rel
         |  FROM rel0 JOIN nrm nq ON nq.vec_id = query_id
         |            JOIN nrm nc ON nc.vec_id = rel0.vec_id)""".stripMargin,
      """cand AS (
        |  SELECT query_id, vec_id, rel FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, vec_id) AS rn
        |    FROM rel)
        |  WHERE rn <= 20)""".stripMargin,
      """pp AS (
        |  SELECT a.query_id, a.vec_id AS v_a, b.vec_id AS v_b,
        |         SUM(CAST(ua.v AS DOUBLE) * CAST(ub.v AS DOUBLE)) AS dp
        |  FROM cand a JOIN cand b
        |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
        |  JOIN u ua ON ua.vec_id = a.vec_id
        |  JOIN u ub ON ub.vec_id = b.vec_id AND ub.i = ua.i
        |  GROUP BY 1, 2, 3)""".stripMargin,
      s"""pair AS (
         |  SELECT query_id, v_a, v_b, ${R("dp / (na.nv * nb.nv)", 6)} AS sim
         |  FROM pp JOIN nrm na ON na.vec_id = v_a
         |          JOIN nrm nb ON nb.vec_id = v_b)""".stripMargin,
      """s1 AS (
        |  SELECT query_id, vec_id, 1 AS rank, rel AS mmr_score FROM (
        |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY rel DESC, vec_id) AS rn
        |    FROM cand)
        |  WHERE rn = 1)""".stripMargin) ++ mmrStepCtes(5): _*)(
      """SELECT query_id, rank, vec_id, mmr_score FROM (
        |  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL
        |  SELECT * FROM s3 UNION ALL SELECT * FROM s4 UNION ALL
        |  SELECT * FROM s5)
        |ORDER BY query_id, rank""".stripMargin),

    // Readability twin: word count via the t3-proven string_split_regex,
    // sentence terminators via regexp_extract_all length (== Spark's
    // regexp_count), non-space chars via global regexp_replace (the 'g'
    // flag — DuckDB replaces first-only by default); the linear form
    // renders with identical parenthesization.
    "t32_readability" -> (
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_words,
         |    GREATEST(1, CAST(len(regexp_extract_all(text, '[.!?]')) AS INTEGER)) AS n_sentences,
         |    CAST(length(regexp_replace(text, '\\s', '', 'g')) AS INTEGER) AS n_letter_chars
         |  FROM documents)
         |SELECT doc_id, n_words, n_sentences,
         |  ${R("206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) - 84.6 * (CAST(n_letter_chars AS DOUBLE) / n_words / 3.0)", 6)} AS flesch_proxy
         |FROM d ORDER BY doc_id""".stripMargin)
  )
}
