package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Sources
import graft.model.Schemas
import graft.ops.{Cleaning, Derive, Materialize, Num, TemporalJoins}
import graft.ops.Derive.{bySymbol, bySymbolDateDesc, change, fir, negativeDay, pctChange,
  positiveDay, prevClose, ret, trueRange}
import graft.analytics.{Events, Funnel, Performance, Predictions, Summary}

/** Named correctness queries over the driver test corpus, one per operator in
  * SURVEY §2. Every query ends in a total deterministic ORDER BY, and every
  * floating-point output is rounded to 6 decimals, so the DuckDB oracle
  * (OracleSql) hash-compares byte-for-byte.
  */
object Queries {

  /** Tie-safe rounding of the named double columns for engine-agnostic hash
    * comparison (graft.ops.Num). Scale 6 for per-row arithmetic
    * (bit-identical across engines); scale 2 for values built from
    * multi-term floating aggregation, where summation order differs across
    * engines by ~1e-9. */
  def rounded(df: DataFrame, cols: Seq[String], scale: Int = 6): DataFrame =
    cols.foldLeft(df)((d, c) => d.withColumn(c, Num.cround(col(c), scale)))

  private val ohlcDoubles = Seq("open", "high", "low", "close")

  /** Canonical cleaned stock frame (rid retained as dedup evidence). */
  private def cleanedStock(s: SparkSession, dir: String): DataFrame =
    Cleaning.clean(Sources.stockFromLineitem(s, dir), col("rid"))

  /** The cleaned bars every stock kernel reads: (symbol, date) unique,
    * OHLC and volume, the dedup evidence dropped. */
  private def bars(s: SparkSession, dir: String): DataFrame =
    cleanedStock(s, dir).drop("rid")

  /** stockFromLineitem with deterministic dirt injected so F1-F3 actually
    * remove rows: l_linenumber=7 -> null open (F1), =6 -> high below close
    * (F2), =5 -> negative low (F3). Mirrored in OracleSql.dirtyCte. */
  private def dirtyStock(s: SparkSession, dir: String): DataFrame = {
    val open  = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val close = col("l_extendedprice")
    Sources.lineitem(s, dir).select(
      col("l_partkey").cast("string").as("symbol"),
      col("l_shipdate").cast("date").as("date"),
      when(col("l_linenumber") === 7, lit(null)).otherwise(open).as("open"),
      when(col("l_linenumber") === 6, close * 0.5)
        .otherwise(greatest(close, open) * (lit(1.0) + col("l_tax"))).as("high"),
      when(col("l_linenumber") === 5, -close)
        .otherwise(least(close, open) * (lit(1.0) - col("l_tax"))).as("low"),
      close.as("close"),
      floor(col("l_quantity")).cast("long").as("volume"),
      (col("l_orderkey") * lit(10L) + col("l_linenumber")).as("rid"))
  }

  /** Windowed feature columns over the cleaned, deduped stock frame. */
  private def features(s: SparkSession, dir: String): DataFrame =
    Derive.addDerived(bars(s, dir))

  // ===== flagship: the reference's full transform stage, end-to-end ========

  def pipelineFeatures(s: SparkSession, dir: String): DataFrame = {
    val feats = features(s, dir).withColumn("data_source", lit("graft"))
    val ordered = Cleaning.reorderColumns(feats, Schemas.featureColumns)
    val rowExact = rounded(ordered, ohlcDoubles ++ Seq(
      "daily_change", "daily_change_percent", "price_range", "price_range_percent"))
    rounded(rowExact, Seq("volatility_indicator", "ma_5", "ma_20",
      "price_vs_ma5", "price_vs_ma20"), 2)
      .orderBy("symbol", "date")
  }

  // ===== cleaning (P/F/U) ==================================================

  def f1NullDrop(s: SparkSession, dir: String): DataFrame =
    rounded(Cleaning.dropNullCritical(dirtyStock(s, dir))
      .select(col("rid"), col("symbol"), col("open"), col("close")),
      Seq("open", "close")).orderBy("rid")

  def f2OhlcConsistency(s: SparkSession, dir: String): DataFrame =
    rounded(Cleaning.filterOhlcConsistent(Cleaning.dropNullCritical(dirtyStock(s, dir)))
      .select(col("rid"), col("high"), col("low"), col("close")),
      Seq("high", "low", "close")).orderBy("rid")

  def f3NonPositive(s: SparkSession, dir: String): DataFrame =
    rounded(Cleaning.filterPositivePrices(
        Cleaning.filterOhlcConsistent(Cleaning.dropNullCritical(dirtyStock(s, dir))))
      .select(col("rid"), col("open"), col("low")),
      Seq("open", "low")).orderBy("rid")

  def f4DedupKeepLast(s: SparkSession, dir: String): DataFrame =
    rounded(cleanedStock(s, dir)
      .select(col("symbol"), col("date"), col("rid"), col("close")),
      Seq("close")).orderBy("symbol", "date")

  def u1UnionAll(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.orders(s, dir).select("o_orderkey", "o_orderstatus", "o_totalprice")
    Cleaning.unionAll(Seq(
      o.filter(col("o_orderstatus") === "O"),
      o.filter(col("o_totalprice") > 100000)))
      .orderBy("o_orderkey", "o_orderstatus", "o_totalprice")
  }

  def u2Distinct(s: SparkSession, dir: String): DataFrame =
    Sources.stockFromLineitem(s, dir).select("symbol").distinct().orderBy("symbol")

  /** Symbols trading in BOTH halves of 1995 (INTERSECT) — Catalyst plans
    * set intersection as aggregate + left-semi hash join, one shuffle per
    * side on the compared columns. */
  def u4Intersect(s: SparkSession, dir: String): DataFrame = {
    val stock = Sources.stockFromLineitem(s, dir)
    stock.filter(col("date").between("1995-01-01", "1995-06-30")).select("symbol")
      .intersect(
        stock.filter(col("date").between("1995-07-01", "1995-12-31")).select("symbol"))
      .orderBy("symbol")
  }

  /** Symbols trading in H1 1995 but NOT H2 (EXCEPT) — the anti-join twin. */
  def u5Except(s: SparkSession, dir: String): DataFrame = {
    val stock = Sources.stockFromLineitem(s, dir)
    stock.filter(col("date").between("1995-01-01", "1995-06-30")).select("symbol")
      .except(
        stock.filter(col("date").between("1995-07-01", "1995-12-31")).select("symbol"))
      .orderBy("symbol")
  }

  /** Multiset (bag) set-ops — EXCEPT ALL preserves multiplicity where
    * u5's EXCEPT collapses to distinct: per symbol, how many MORE H1
    * trading rows than H2 rows exist (occurrence difference clamped at
    * zero — the multiset semantics both engines define identically). The
    * aggregate over the surviving bag makes the output deterministic. */
  def u6ExceptAll(s: SparkSession, dir: String): DataFrame = {
    val stock = Sources.stockFromLineitem(s, dir)
    stock.filter(col("date").between("1995-01-01", "1995-06-30"))
      .select("symbol")
      .exceptAll(
        stock.filter(col("date").between("1995-07-01", "1995-12-31"))
          .select("symbol"))
      .groupBy("symbol").agg(count(lit(1)).as("surplus"))
      .orderBy("symbol")
  }

  /** INTERSECT ALL — u6's multiset complement: per-symbol observation
    * count common to BOTH half-years (min of the two multiplicities).
    * Spark's intersectAll plans the same shuffle as the except-all twin;
    * grouped to a deterministic count table for the oracle. */
  def u7IntersectAll(s: SparkSession, dir: String): DataFrame = {
    val stock = Sources.stockFromLineitem(s, dir)
    stock.filter(col("date").between("1995-01-01", "1995-06-30"))
      .select("symbol")
      .intersectAll(
        stock.filter(col("date").between("1995-07-01", "1995-12-31"))
          .select("symbol"))
      .groupBy("symbol").agg(count(lit(1)).as("n_common"))
      .orderBy("symbol")
  }

  /** Linear multi-touch attribution — which channel gets the credit for
    * each purchase's value (see
    * [[graft.analytics.Attribution.linearAttribution]]). */
  def ev16Attribution(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Attribution.linearAttribution(Sources.events(s, dir))
      .orderBy("channel")

  // ===== window functions (W1-W5) ==========================================

  private def windowQuery(s: SparkSession, dir: String)(expr: DataFrame => DataFrame): DataFrame =
    expr(bars(s, dir)).orderBy("symbol", "date")

  private val w = Derive.bySymbolDate

  /** Each bar's simple return `r`, first bars (no return) dropped. */
  private def returns(s: SparkSession, dir: String): DataFrame =
    bars(s, dir).withColumn("r", ret(prevClose)).filter(col("r").isNotNull)

  def w1LagDiff(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir)(df => rounded(df.select(col("symbol"), col("date"),
      change(prevClose).as("daily_change")), Seq("daily_change")))

  def w2PctChange(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir)(df => rounded(df.select(col("symbol"), col("date"),
      pctChange(prevClose).as("daily_change_percent")),
      Seq("daily_change_percent")))

  def w3Ma5(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir)(df => rounded(df.select(col("symbol"), col("date"),
      avg("close").over(w.rowsBetween(-4, 0)).as("ma_5")), Seq("ma_5"), 2))

  def w4Ma20(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir)(df => rounded(df.select(col("symbol"), col("date"),
      avg("close").over(w.rowsBetween(-19, 0)).as("ma_20")), Seq("ma_20"), 2))

  def w5Volatility(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir)(df => rounded(df
      .withColumn("dcp", pctChange(prevClose))
      .select(col("symbol"), col("date"),
        stddev_samp("dcp").over(w.rowsBetween(-19, 0)).as("volatility_indicator")),
      Seq("volatility_indicator"), 2))

  /** 14-period RSI (Cutler's SMA form — the recursive Wilder smoothing is
    * not expressible as a frame aggregate, and the SMA variant is the
    * standard batch formulation): rsi = 100 * avgGain / (avgGain +
    * avgLoss) over a 14-row trailing frame. `greatest(diff, 0)` maps the
    * first row's null diff to 0 in BOTH engines (greatest skips nulls in
    * Spark and DuckDB alike); a flat 14-row window (avgGain + avgLoss = 0)
    * is explicitly nulled because Spark's double 0/0 is NaN while
    * DuckDB's is NULL. One window sort per symbol, shared by all three
    * frame aggregates. */
  def w12Rsi(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir) { df =>
      val f14 = w.rowsBetween(-13, 0)
      // materialize the two frame averages ONCE (the w15 lesson: separate
      // .over() Column instances are separate window expressions, and
      // inlining g/l into the RSI formula made WindowExec evaluate five
      // frame aggregates instead of two)
      val g = col("__g")
      val l = col("__l")
      rounded(df
        .withColumn("diff", change(prevClose))
        .withColumn("gain", greatest(col("diff"), lit(0.0)))
        .withColumn("loss", greatest(-col("diff"), lit(0.0)))
        .withColumn("__g", avg("gain").over(f14))
        .withColumn("__l", avg("loss").over(f14))
        .select(col("symbol"), col("date"),
          when(g + l === 0.0, lit(null))
            .otherwise(lit(100.0) * g / (g + l)).as("rsi_14")),
        Seq("rsi_14"), 2)
    }

  /** Robust per-symbol outlier detection: median/MAD z-score (the
    * Hampel-filter form — resistant to the very outliers it hunts, unlike
    * mean/stddev z-scores where one spike inflates its own threshold).
    * Flags rows with |close - median| / (1.4826 * MAD) > 3. Both medians
    * are exact `percentile` over the shared symbol partition (the a5/w9
    * exact family — same documented histogram-quantile swap at extreme
    * key counts); MAD = 0 groups are excluded explicitly (the z-score is
    * undefined, and Spark's double 0/0=NaN vs DuckDB's NULL would
    * diverge). The z rounds at 2 (ratio of interpolated medians). */
  def w13RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    val z = (col("close") - col("med")) / (lit(1.4826) * col("madv"))
    // the threshold compares the tie-safe-ROUNDED |z| (c2 convention) so
    // percentile-interpolation ulps can never flip a row's inclusion
    // across engines
    bars(s, dir)
      .withColumn("med", percentile(col("close"), lit(0.5)).over(bySymbol))
      .withColumn("madv",
        percentile(abs(col("close") - col("med")), lit(0.5)).over(bySymbol))
      .filter(col("madv") > 0 && Num.cround(abs(z), 6) > 3)
      .select(col("symbol"), col("date"), col("close"),
        Num.cround(z, 2).as("robust_z"))
      .orderBy("symbol", "date")
  }

  /** MACD(12/26/9) in the deterministic FIR form (see
    * [[graft.ops.Derive.withMacd]] — warm-up rows null, the recursive IIR
    * EMA is not a frame aggregate). All three kernel passes ride one
    * symbol window sort; multi-term weighted sums round at 2. */
  def w14Macd(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir) { df =>
      rounded(Derive.withMacd(df)
        .select(col("symbol"), col("date"),
          col("macd"), col("macd_signal"), col("macd_hist")),
        Seq("macd", "macd_signal", "macd_hist"), 2)
    }

  /** Bollinger bands (20, 2): mid = 20-day rolling mean, band = ±2
    * rolling sample stddevs, %B = where close sits inside the band — the
    * mean-reversion channel next to w3/w4/w5, riding the SAME shared
    * per-symbol window sort (one exchange, all four outputs). sd = 0
    * windows (constant price) and the first row of each symbol
    * (STDDEV_SAMP over one row is NULL on both engines — the w5-proven
    * contract) leave %B NULL explicitly: Spark's 0/0 = NaN vs DuckDB's
    * NULL would diverge. Bands round at 2 (price-like), %B at 4 (a
    * ratio of O(1) quantities — summation ulps sit ~1e-13 below). */
  def w15Bollinger(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir) { df =>
      val f20 = w.rowsBetween(-19, 0)
      // materialize mid/sd ONCE: separate .over(...) Column instances are
      // separate window expressions to ExtractWindowExpressions, so
      // inlining them into all four outputs made WindowExec evaluate
      // seven frame aggregates instead of two (measured 3.9 s -> the w5
      // band at sf0.1)
      val mid = col("__mid")
      val sd = col("__sd")
      rounded(rounded(df
        .withColumn("__mid", avg("close").over(f20))
        .withColumn("__sd", stddev_samp("close").over(f20))
        .select(col("symbol"), col("date"),
          mid.as("bb_mid"),
          (mid + sd * 2).as("bb_up"),
          (mid - sd * 2).as("bb_dn"),
          when(sd.isNull || sd === 0.0, lit(null).cast("double"))
            .otherwise((col("close") - (mid - sd * 2)) / (sd * 4)).as("pct_b")),
        Seq("bb_mid", "bb_up", "bb_dn"), 2), Seq("pct_b"), 4)
    }

  /** Per-symbol market beta (CAPM): daily returns regressed on the
    * equal-weight market return — beta = cov(r, m)/var(m), plus the
    * Pearson correlation and the daily alpha intercept. The market index
    * is built IN the query (avg return across symbols per date), so this
    * exercises the build-index-then-join shape a13's within-row co-moments
    * don't.
    *
    * Shape at scale: the returns ride the shared per-symbol window
    * exchange (w1-w5's); the market index is a dates-sized aggregate that
    * BROADCASTS back onto the returns, and the regression is one hash
    * aggregate per symbol — co-moment state, no second pass. Determinism:
    * beta/corr are unit-free O(1) ratios and alpha is their residual; all
    * round tie-safe at 6, far above the co-moment summation-order noise
    * (~1e-12 relative). Symbols with a single traded day yield NULL
    * beta/corr on both engines (sample variance over one observation). */
  def w16Beta(s: SparkSession, dir: String): DataFrame = {
    val r = returns(s, dir)
    val m = r.groupBy("date").agg(avg("r").as("mr"))
    val beta = covar_samp(col("r"), col("mr")) / var_samp(col("mr"))
    rounded(r.join(broadcast(m), "date")
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
        beta.as("beta"),
        corr(col("r"), col("mr")).as("corr_rm"),
        (avg(col("r")) - beta * avg(col("mr"))).as("alpha_daily")),
      Seq("beta", "corr_rm", "alpha_daily"))
      .orderBy("symbol")
  }

  /** Per-symbol annualized Sharpe ratio — mean daily return over its
    * sample stddev, scaled by sqrt(252 trading days). The risk-adjusted
    * companion to w16's beta: one lag pass on the shared symbol window,
    * then ONE hash aggregate per symbol (no second scan). Single-day
    * symbols yield NULL (stddev_samp over one observation, the w5/w16
    * contract); a zero-variance return series is excluded explicitly so
    * Spark's x/0 = Infinity can't diverge from an oracle NULL. sqrt(252)
    * is the same IEEE double in both engines. */
  def w17Sharpe(s: SparkSession, dir: String): DataFrame = {
    val r = returns(s, dir)
    val sd = stddev_samp(col("r"))
    rounded(r.groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
        avg(col("r")).as("mean_r"),
        sd.as("sd_r"),
        when(sd.isNull || sd === 0.0, lit(null).cast("double"))
          .otherwise(avg(col("r")) / sd * lit(math.sqrt(252.0)))
          .as("sharpe_ann")),
      Seq("mean_r", "sd_r", "sharpe_ann"))
      .orderBy("symbol")
  }

  /** Weekly volume-weighted average price per symbol — the standard
    * execution-quality benchmark, and the coarse-grain resample the
    * reference's daily pipeline lacks. date_trunc('week') buckets to the
    * ISO Monday in BOTH engines; the whole query is one hash aggregate
    * (partial map-side combine on (symbol, week)), no window, no join.
    * An all-zero-volume week yields NULL explicitly (0/0 NaN-vs-NULL
    * guard, the w15 convention). vwap rounds at 2 — price-like and built
    * from multi-term summation. */
  def w18Vwap(s: SparkSession, dir: String): DataFrame = {
    val pv = sum(col("close") * col("volume"))
    val vol = sum(col("volume"))
    rounded(cleanedStock(s, dir)
      .groupBy(col("symbol"), date_trunc("week", col("date")).cast("date").as("wk"))
      .agg(
        when(vol === 0L, lit(null).cast("double")).otherwise(pv / vol).as("vwap"),
        vol.as("wk_volume"),
        count(lit(1)).as("n_days")),
      Seq("vwap"), 2)
      .orderBy("symbol", "wk")
  }

  /** Longest consecutive up-day streak per symbol — the gaps-and-islands
    * pattern (streak id = global row_number minus up-only row_number, a
    * constant within each unbroken run). All three windows ride the ONE
    * shared (symbol, date) sort; the streak group-by partial-aggregates
    * map-side to at most one row per run, and the final per-symbol
    * aggregate reduces that. Equality days (close == lag) break a streak
    * on both engines — the doubles compare bit-identical because both
    * derive them from the same parquet by the same arithmetic. Symbols
    * with zero up days have no streaks and drop out (mirrored in the
    * oracle). */
  def w19Streaks(s: SparkSession, dir: String): DataFrame = {
    val flagged = bars(s, dir)
      .withColumn("up", Derive.up(prevClose))
      .withColumn("rn", row_number().over(w))
    val streaks = flagged.filter(col("up") === true)
      .withColumn("grp", col("rn") - row_number().over(w))
      .groupBy("symbol", "grp")
      .agg(count(lit(1)).as("len"))
    streaks.groupBy("symbol")
      .agg(max("len").cast("int").as("longest_up_streak"),
        count(lit(1)).cast("int").as("n_up_streaks"),
        sum("len").as("total_up_days"))
      .orderBy("symbol")
  }

  /** Per-symbol return-distribution shape — skewness and excess kurtosis
    * of daily returns from RAW moments (one aggregate computes E[r^k] for
    * k=1..4, then the central moments assemble algebraically). Engine
    * builtins are deliberately avoided: Spark's skewness/kurtosis and
    * DuckDB's use different bias corrections, while the raw-moment
    * formula renders IDENTICALLY in both dialects — same parenthesization
    * → same IEEE arithmetic, summation-order noise sits ~1e-11 under the
    * 1e-9 tie guard. sqrt takes GREATEST(var, 0): near-constant series
    * can cancel to var < 0, where DuckDB's sqrt throws (Spark's returns
    * NaN) even under a CASE guard, because both engines evaluate
    * vectorized branches eagerly. Zero-variance and single-day series
    * yield NULL on both engines. */
  def a16Moments(s: SparkSession, dir: String): DataFrame = {
    val r = returns(s, dir)
    val agg = r.groupBy("symbol").agg(
      count(lit(1)).as("n_days"),
      avg(col("r")).as("m1"),
      avg(col("r") * col("r")).as("m2"),
      avg(col("r") * col("r") * col("r")).as("m3"),
      avg(col("r") * col("r") * col("r") * col("r")).as("m4"))
    val m1 = col("m1"); val m2 = col("m2"); val m3 = col("m3"); val m4 = col("m4")
    val v = m2 - m1 * m1
    rounded(agg.select(col("symbol"), col("n_days"),
      when(v <= 0.0, lit(null).cast("double"))
        .otherwise((m3 - lit(3.0) * m1 * m2 + lit(2.0) * m1 * m1 * m1) /
          (v * sqrt(greatest(v, lit(0.0))))).as("skew_r"),
      when(v <= 0.0, lit(null).cast("double"))
        .otherwise((m4 - lit(4.0) * m1 * m3 + lit(6.0) * m1 * m1 * m2 -
          lit(3.0) * m1 * m1 * m1 * m1) / (v * v) - lit(3.0)).as("kurt_r")),
      Seq("skew_r", "kurt_r"))
      .orderBy("symbol")
  }

  /** The SQL ranking-function family over one per-symbol volume ordering:
    * rank (gapped), dense_rank, percent_rank, cume_dist — all
    * TIE-DETERMINISTIC under the bare (volume desc) order, so ties in
    * volume are exercised rather than broken away — plus ntile(4), which
    * DOES follow raw row order and therefore ranks over the fully
    * tie-broken (volume desc, date) order. Both window specs share the
    * one symbol-hash exchange. percent_rank/cume_dist are exact rationals
    * of small integers — identical doubles cross-engine. */
  def x13Ranks(s: SparkSession, dir: String): DataFrame = {
    val wv = bySymbol.orderBy(col("volume").desc)
    val wvT = bySymbol.orderBy(col("volume").desc, col("date"))
    rounded(bars(s, dir)
      .select(col("symbol"), col("date"), col("volume"),
        rank().over(wv).as("rnk"),
        dense_rank().over(wv).as("drnk"),
        percent_rank().over(wv).as("pct_rank"),
        cume_dist().over(wv).as("cume"),
        ntile(4).over(wvT).as("quartile")),
      Seq("pct_rank", "cume"))
      .orderBy("symbol", "date")
  }

  /** Lag-1 autocorrelation of daily returns per symbol — the
    * momentum-vs-mean-reversion diagnostic (negative = mean-reverting,
    * positive = trending). One lag pass for returns, a second lag for the
    * pair, both on the shared symbol window sort, then one co-moment
    * aggregate (the w16 corr contract: DuckDB's corr matches Spark's
    * under tie-safe rounding at 6; < 2 pairs or zero variance yields NULL
    * on both engines). */
  def w20Autocorr(s: SparkSession, dir: String): DataFrame = {
    val r = bars(s, dir)
      .withColumn("r", ret(prevClose))
      .withColumn("rp", lag("r", 1).over(w))
      .filter(col("r").isNotNull && col("rp").isNotNull)
    rounded(r.groupBy("symbol")
      .agg(count(lit(1)).as("n_pairs"),
        corr(col("r"), col("rp")).as("autocorr_1")),
      Seq("autocorr_1"))
      .orderBy("symbol")
  }

  /** Asymmetric containment over the d2 LSH candidates (see
    * [[graft.ext.Dedup.containmentVerifyPairs]]) — subset-duplicate
    * detection next to d8's symmetric Jaccard. The 0.3 threshold matches
    * the d8 regime on this synthetic corpus (real pipelines run ~0.8). */
  def d12Containment(s: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(s, dir)
    val pairs = ext.Dedup.lshCandidatePairs(
      Materialize(ext.Dedup.minhashSignatures(docs)))
    ext.Dedup.containmentVerifyPairs(docs, pairs, minContainment = 0.3)
      .select("doc_a", "doc_b", "containment_a", "containment_b")
      .orderBy("doc_a", "doc_b")
  }

  /** Simplified-silhouette label-separability report (see
    * [[graft.ext.Similarity.silhouetteByLabel]]). */
  def e5Silhouette(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.silhouetteByLabel(Sources.embeddings(s, dir))
      .orderBy("label")

  /** Day-of-week effect test — Pearson chi-square independence of
    * (weekday × up-day) per symbol, the classic calendar-anomaly check.
    * Observed/expected counts come from ONE corpus-sized aggregate to
    * (symbol, weekday, up) cells (≤ 14 rows per symbol); the marginal
    * sums window over that tiny cell table, never the bars. Every term is
    * a rational of exact integers with identical parenthesization in the
    * oracle; the ≤14-term chi2 sum rounds tie-safe at 6. dof derives from
    * the OBSERVED levels (a symbol trading only 3 weekdays gets dof
    * (3−1)(2−1)), n_days from the cell sum. The cell table is DENSIFIED
    * before the terms: a (wd, up) combination both of whose levels occur
    * but whose joint count is zero still contributes (0−E)²/E = E to the
    * statistic, so the observed levels are crossed per symbol and missing
    * cells filled with o=0 — dropping them would understate chi2 exactly
    * when the calendar effect is strongest.
    *
    * Shape (round 12, the r11 verdict's a17 cost note): the densification
    * and marginals fold into ONE per-symbol aggregate over the cell table
    * — collect the ≤14 (wd, up, o) cells per symbol and cross the sorted
    * level sets with higher-order functions, each term's o/rt/ct read
    * from the in-row array. The r10 form's two distinct()+join passes and
    * three marginal windows re-derived the corpus aggregate and doubled
    * the query's cost; this is two exchanges total (corpus → cells,
    * cells → symbol), and the sorted level arrays make the ≤14-term sum
    * order DETERMINISTIC where the old window sum was shuffle-ordered. */
  def a17Chi2(s: SparkSession, dir: String): DataFrame = {
    val f = bars(s, dir)
      .withColumn("up", Derive.up(prevClose))
      .filter(col("up").isNotNull)
      .withColumn("wd", weekday(col("date")))
    val observed =
      f.groupBy("symbol", "wd", "up").agg(count(lit(1)).as("o"))
    val cells = col("cells")
    def cellSum(pred: Column => Column): Column =
      aggregate(filter(cells, pred), lit(0L),
        (a, c) => a + c.getField("o"))
    val n = aggregate(cells, lit(0L), (a, c) => a + c.getField("o"))
    val wds = array_sort(array_distinct(
      transform(cells, c => c.getField("wd"))))
    val ups = array_sort(array_distinct(
      transform(cells, c => c.getField("up"))))
    val chi2 = aggregate(
      flatten(transform(wds, wd => transform(ups, up =>
        struct(wd.as("wd"), up.as("up"))))),
      lit(0.0),
      (acc, p) => {
        val o = cellSum(c => c.getField("wd") === p.getField("wd") &&
          c.getField("up") === p.getField("up")).cast("double")
        val rt = cellSum(c => c.getField("wd") === p.getField("wd"))
        val ct = cellSum(c => c.getField("up") === p.getField("up"))
        val e = rt.cast("double") * ct / n
        acc + (o - e) * (o - e) / e
      })
    observed.groupBy("symbol")
      .agg(collect_list(struct(col("wd"), col("up"), col("o"))).as("cells"))
      .select(col("symbol"),
        n.as("n_days"),
        ((size(wds) - 1) * (size(ups) - 1)).cast("int").as("dof"),
        Num.cround(chi2, 6).as("chi2"))
      .orderBy("symbol")
  }

  /** Two-sample Kolmogorov–Smirnov drift test per symbol: the
    * distribution of daily returns in the FIRST half of each symbol's
    * history vs the SECOND half (D = sup |ECDF_a - ECDF_b|; reject_95
    * compares D against the asymptotic 5% critical value
    * 1.358·sqrt((na+nb)/(na·nb))) — the standard "did the regime change"
    * test, and the distributional sibling of a17's categorical chi-square.
    *
    * Shape at scale: every window — the return lag, the row_number split,
    * the per-symbol totals, and the ECDF running counts — partitions by
    * symbol, so the whole test rides ONE symbol hash exchange with
    * in-partition re-sorts (date order for the split, return order for the
    * ECDFs). The ECDF counts use a RANGE frame so equal returns (common
    * after 6-decimal rounding) count all their peers before the diff is
    * read — the correct KS treatment of ties. The half-split uses the
    * integer comparison rn*2 <= n (no float division) so both engines cut
    * identically. */
  def a18KsTest(s: SparkSession, dir: String): DataFrame = {
    val r = bars(s, dir)
      .withColumn("ret", Num.cround((col("close") - prevClose) / prevClose, 6))
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(bySymbol))
      .withColumn("grp", when(col("rn") * 2 <= col("n"), "a").otherwise("b"))
    val ecdf = bySymbol.orderBy("ret")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val d = r
      .withColumn("na", sum(when(col("grp") === "a", 1L).otherwise(0L)).over(bySymbol))
      .withColumn("nb", sum(when(col("grp") === "b", 1L).otherwise(0L)).over(bySymbol))
      .withColumn("ca", sum(when(col("grp") === "a", 1.0).otherwise(0.0)).over(ecdf))
      .withColumn("cb", sum(when(col("grp") === "b", 1.0).otherwise(0.0)).over(ecdf))
      .withColumn("d", abs(col("ca") / col("na") - col("cb") / col("nb")))
    d.groupBy("symbol", "na", "nb")
      .agg(Num.cround(max("d"), 6).as("ks"))
      .withColumn("reject_95", col("ks") > Num.cround(
        lit(1.358) * sqrt((col("na") + col("nb")) /
          (col("na").cast("double") * col("nb"))), 6))
      .orderBy("symbol")
  }

  /** Spearman rank correlation per symbol between daily volume and close —
    * the monotone-association twin of a13's Pearson (robust to the heavy
    * volume tail a Pearson r is dominated by). Average ranks for ties
    * (rank() + (tie_count-1)/2 — half-integers, exactly representable),
    * then the explicit Pearson sum formula over the ranks: every
    * intermediate sum is an exact quarter-integer < 2^52, so both engines
    * feed IDENTICAL doubles into the one rounded division — no reliance on
    * either engine's incremental corr() kernel, whose summation orders
    * differ. All windows partition by symbol: one exchange. */
  def a19Spearman(s: SparkSession, dir: String): DataFrame = {
    val f = bars(s, dir)
      .filter(col("volume").isNotNull && col("close").isNotNull)
    def avgRank(c: String): Column =
      rank().over(bySymbol.orderBy(c)) +
        (count(lit(1)).over(Window.partitionBy("symbol", c)) - 1) / lit(2.0)
    val ranked = f
      .withColumn("rx", avgRank("volume"))
      .withColumn("ry", avgRank("close"))
    val sums = ranked.groupBy("symbol").agg(
      count(lit(1)).cast("double").as("n"),
      sum("rx").as("sx"), sum("ry").as("sy"),
      sum(col("rx") * col("ry")).as("sxy"),
      sum(col("rx") * col("rx")).as("sxx"),
      sum(col("ry") * col("ry")).as("syy"))
    sums.select(col("symbol"), col("n").cast("long").as("n_days"),
        Num.cround(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6).as("rho"))
      .orderBy("symbol")
  }

  /** BM25 query fixture for t31 — shared VERBATIM with the DuckDB oracle
    * (OracleSql renders its VALUES list from this constant, the
    * Num.emaKernel shared-constant discipline: the fixture is common
    * while the two query formulations stay independent). Terms come from
    * the synthetic corpus vocabulary so every query matches documents. */
  val bm25Queries: Seq[(Int, String)] = Seq(
    0 -> "spark query join",
    1 -> "stream window agg",
    2 -> "customer value table")

  /** BM25 keyword retrieval: three fixed vocabulary queries, top-10 docs
    * each ([[ext.TextOps.bm25TopK]]) — the lexical retrieval baseline
    * beside the ANN family. */
  def t31Bm25(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.bm25TopK(Sources.documents(s, dir), bm25Queries)
      .orderBy("query_id", "rank")

  /** Near-duplicate rate per source — the provenance-quality report: what
    * fraction of each source's documents sit in a VERIFIED near-dup pair
    * (d2's capped LSH candidates through d8's exact-Jaccard guard). The
    * curation readout that decides which feeds get down-weighted. Bounded
    * by the capped candidate set; the per-source reduce is a sources-sized
    * aggregate. */
  def t30DupRateBySource(s: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(s, dir)
    // the dup-doc projection references the verified pair table twice —
    // checkpoint it (bounded by the capped candidate set) so the verify
    // tail join-chain runs once, not per branch
    val verified = Materialize(ext.Dedup.jaccardVerifyPairs(docs,
      ext.Dedup.lshCandidatePairs(
        Materialize(ext.Dedup.minhashSignatures(docs)))))
    val dupDocs = verified.select(col("doc_a").as("doc_id"))
      .unionAll(verified.select(col("doc_b").as("doc_id")))
      .distinct().withColumn("is_dup", lit(1L))
    docs.join(dupDocs, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dup_docs"))
      .withColumn("dup_rate", Num.cround(col("n_dup_docs") / col("n_docs"), 6))
      .orderBy("source")
  }

  /** MinHash estimator calibration curve — for every d2 LSH candidate
    * pair, the signature-agreement estimate ĵ = (#matching of 16 minhash
    * components)/16 against d8's exact shingle Jaccard, grouped into the
    * 17 possible agreement levels. The "can I trust the sketch" read
    * before tuning d2's band/threshold knobs (E[ĵ] = J is the MinHash
    * guarantee; this measures it on THIS corpus). Everything is bounded
    * by the capped candidate set: signatures join candidates (16 longs
    * per doc), the exact side reuses the d8 intersect plan, and the
    * output is ≤ 17 rows. */
  def d13MinhashCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(s, dir)
    val sigs = Materialize(ext.Dedup.minhashSignatures(docs))
    // pairs feed the signature-agreement estimate AND the exact-Jaccard
    // side — one checkpoint, or the banded self-join runs per consumer
    val pairs = Materialize(ext.Dedup.lshCandidatePairs(sigs))
    val sa = sigs.select(col("doc_id").as("doc_a") +:
      (0 until 16).map(b => col(s"mh_$b").as(s"a_mh_$b")): _*)
    val sb = sigs.select(col("doc_id").as("doc_b") +:
      (0 until 16).map(b => col(s"mh_$b").as(s"b_mh_$b")): _*)
    val nMatch = (0 until 16)
      .map(b => when(col(s"a_mh_$b") === col(s"b_mh_$b"), 1).otherwise(0))
      .reduce(_ + _)
    val est = pairs.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"), nMatch.as("n_match"))
    val exact = ext.Dedup.jaccardVerifyPairs(docs, pairs, minJaccard = 0.0)
      .select("doc_a", "doc_b", "jaccard")
    est.join(exact, Seq("doc_a", "doc_b"))
      .groupBy(col("n_match"))
      .agg(count(lit(1)).as("n_pairs"),
        Num.cround(avg(col("jaccard")), 2).as("avg_exact_jaccard"))
      .withColumn("est_jaccard",
        Num.cround(col("n_match").cast("double") / 16.0, 6))
      .select("n_match", "est_jaccard", "n_pairs", "avg_exact_jaccard")
      .orderBy("n_match")
  }

  /** Conversion-window funnel (see
    * [[graft.analytics.Funnel.userFunnelWindowed]]) — ev1 with a 7-day
    * staleness bound per hop. Deliberately NOT ev1's oracle: on this
    * corpus the bound demotes real conversions, which the row diff
    * proves. */
  def ev15FunnelWindowed(s: SparkSession, dir: String): DataFrame =
    Funnel.userFunnelWindowed(Sources.events(s, dir))
      .orderBy("user_id")

  /** Interpolated bigram-LM surprise scoring (see
    * [[graft.ext.TextOps.withBigramLogProb]]). */
  def t28BigramLm(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.withBigramLogProb(Sources.documents(s, dir))
      .select("doc_id", "n_bigrams", "avg_neg_logprob2")
      .orderBy("doc_id")

  /** Perceptual-hash duplicate clusters — m2's banded hamming pairs
    * folded into connected components by the d6 min-label propagation
    * (the image-side analog of d6: transitive near-dup groups, one
    * canonical representative per cluster). */
  def m4PhashClusters(s: SparkSession, dir: String): DataFrame = {
    val hashed = Sources.documents(s, dir).select(col("doc_id"),
      expr(ext.Multimodal.syntheticPhashSql(
        "div", (a, b) => s"($a ^ $b)",
        p => s"shiftleft(CAST(1 AS BIGINT), $p)")).as("phash"))
    val pairs = ext.Multimodal.phashNearDupPairs(hashed, maxBits = 4, maxPerBucket = 8)
      .select("doc_a", "doc_b")
    ext.Dedup.duplicateClusters(pairs).orderBy("doc_id")
  }

  /** Corpus bigram collocations with PMI (see
    * [[graft.ext.TextOps.bigramCollocations]]). */
  def t27Collocations(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.bigramCollocations(Sources.documents(s, dir), k = 20)

  /** Weekly DAU/WAU stickiness (see
    * [[graft.analytics.ActiveUsers.weeklyStickiness]]). */
  def ev14Stickiness(s: SparkSession, dir: String): DataFrame =
    analytics.ActiveUsers.weeklyStickiness(Sources.events(s, dir))
      .orderBy("wk")

  /** Per-symbol winsorization — clamp close into its exact [p05, p95]
    * (the robust-cleaning transform next to w13's outlier FILTER: training
    * pipelines clip features more often than they drop rows). Both bounds
    * are exact `percentile` (a5-proven bit-identical to the oracle's
    * quantile_cont, so the clamp branch and the clamped value agree
    * cross-engine with no tie-safety dance), computed as unbounded window
    * aggregates over ONE symbol exchange — no join, no second scan of the
    * upstream (the Derive.withVolumeCategory argument). */
  def f9Winsorize(s: SparkSession, dir: String): DataFrame = {
    bars(s, dir)
      .withColumn("q05", percentile(col("close"), lit(0.05)).over(bySymbol))
      .withColumn("q95", percentile(col("close"), lit(0.95)).over(bySymbol))
      .select(col("symbol"), col("date"),
        Num.cround(col("close"), 6).as("close"),
        Num.cround(least(greatest(col("close"), col("q05")), col("q95")), 6)
          .as("w_close"),
        (col("close") < col("q05") || col("close") > col("q95")).as("is_clipped"))
      .orderBy("symbol", "date")
  }

  // ===== aggregates (A1-A5, A7) ============================================

  def a1Count(s: SparkSession, dir: String): DataFrame =
    Sources.lineitem(s, dir).agg(count(lit(1)).as("total_records"))

  def a2CountDistinct(s: SparkSession, dir: String): DataFrame =
    Sources.lineitem(s, dir).agg(countDistinct(col("l_partkey")).as("unique_symbols"))

  def a3MinMaxDate(s: SparkSession, dir: String): DataFrame =
    Sources.lineitem(s, dir).agg(
      min(col("l_shipdate").cast("date")).as("earliest_date"),
      max(col("l_shipdate").cast("date")).as("latest_date"))

  def a4AvgTable(s: SparkSession, dir: String): DataFrame = {
    val f = bars(s, dir).withColumn("daily_change_percent", pctChange(prevClose))
    rounded(f.agg(
      avg(col("close")).as("avg_close"),
      avg(col("volume")).as("avg_volume"),
      avg(col("daily_change_percent")).as("avg_daily_change_percent")),
      Seq("avg_close", "avg_volume", "avg_daily_change_percent"), 2)
  }

  def a5Quantiles(s: SparkSession, dir: String): DataFrame =
    rounded(Derive.volumeQuartiles(cleanedStock(s, dir)),
      Seq("vol_q1", "vol_q2", "vol_q3")).orderBy("symbol")

  /** Bivariate statistics per symbol: Pearson correlation, sample
    * covariance, and the OLS slope/intercept of close on volume — the
    * exploratory-stats aggregate family, one hash aggregate. The unit-free
    * correlation rounds at 6; the price-scaled co-moments (covar, slope,
    * intercept) follow the multi-term-float-aggregation convention and
    * round at 2 — both far above the engines' one-pass co-moment
    * summation-order noise. */
  def a13Corr(s: SparkSession, dir: String): DataFrame =
    rounded(
      rounded(cleanedStock(s, dir)
        .groupBy("symbol")
        .agg(
          corr(col("close"), col("volume")).as("corr_cv"),
          covar_samp(col("close"), col("volume")).as("covar_cv"),
          regr_slope(col("close"), col("volume")).as("slope"),
          regr_intercept(col("close"), col("volume")).as("intercept")),
        Seq("corr_cv")),
      Seq("covar_cv", "slope", "intercept"), 2)
      .orderBy("symbol")

  /** Distinct part-key cardinality per return flag, three ways in ONE hash
    * aggregate: exact (`count_distinct`, the a2 family — plans an Expand
    * that shuffles every distinct key), and the bounded-state KMV sketch
    * ([[graft.functions.KmvSketch]] — ships <= 64 longs per group no
    * matter the cardinality; the 100 TB path). The estimator
    * `(k-1) * 2^32 / kth` is a single exact-int division — deterministic,
    * so est_distinct rounds at 6 and hash-compares against the DuckDB
    * twin, which rebuilds the same sketch from DISTINCT hashes + a window
    * rank. Exact sitting beside the estimate makes the query its own
    * accuracy report (~11% expected rel-err at k=64). */
  def a14KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    Sources.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"), col("l_partkey"),
        conv(substring(md5(col("l_partkey").cast("string")), 1, 8), 16, 10)
          .cast("long").as("h"))
      .groupBy("flag")
      .agg(graft.functions.GraftFunctions.call("kmv_sketch", col("h"), lit(k))
          .as("sk"),
        countDistinct(col("l_partkey")).as("exact_distinct"))
      .select(col("flag"), col("sk.n_kept").as("n_kept"),
        col("sk.kth").as("kth_hash"),
        Num.cround(
          when(col("sk.n_kept") < k, col("sk.n_kept").cast("double"))
            .otherwise(lit((k - 1).toDouble * 4294967296.0) / col("sk.kth")),
          6).as("est_distinct"),
        col("exact_distinct"))
      .orderBy("flag")
  }

  /** Histogram-estimated per-symbol close quantiles — the mergeable scale
    * path next to a5's exact `percentile` (see
    * [[graft.ops.HistogramQuantiles]]; the fact table never shuffles,
    * only (group, bin) counts do). */
  def a15BinnedQuantiles(s: SparkSession, dir: String): DataFrame =
    rounded(
      ops.HistogramQuantiles.estimate(
        bars(s, dir), "symbol", "close"),
      Seq("est_q25", "est_q50", "est_q75"))
      .orderBy("symbol")

  def a7Stddev(s: SparkSession, dir: String): DataFrame = {
    val f = bars(s, dir).withColumn("dcp", pctChange(prevClose))
    rounded(f.groupBy("symbol").agg(stddev_samp(col("dcp")).as("stddev_dcp")),
      Seq("stddev_dcp"), 2).orderBy("symbol")
  }

  // ===== analytics (A6, A9, A10, X7, W6) ===================================

  /** The per-symbol performance table (A6), rounded at 2. */
  private def performance(s: SparkSession, dir: String): DataFrame =
    rounded(Performance.performanceTable(features(s, dir)),
      Seq("latest_close", "first_close", "min_close", "max_close", "avg_close",
        "avg_daily_change_percent", "overall_change_percent"), 2)

  def a6Performance(s: SparkSession, dir: String): DataFrame =
    performance(s, dir).orderBy("symbol")

  def a9UpDays(s: SparkSession, dir: String): DataFrame =
    rounded(Summary.upDayStats(features(s, dir)), Seq("positive_day_ratio"))

  def a10ValueCounts(s: SparkSession, dir: String): DataFrame =
    Summary.valueCounts(features(s, dir), "volatility_category")

  def x7Predictions(s: SparkSession, dir: String): DataFrame =
    Predictions.nextDayForecast(features(s, dir))

  def w6Signals(s: SparkSession, dir: String): DataFrame =
    rounded(rounded(Predictions.tradingSignals(features(s, dir)),
      Seq("price")), Seq("ma_5", "ma_20"), 2)
      .orderBy(desc("date"), col("symbol"))

  def a11QualityReport(s: SparkSession, dir: String): DataFrame =
    graft.quality.Expectations.qualityReport(features(s, dir))

  // ===== sorts / limits (O3, O4, O6, S4) ===================================

  def o3SortLimit(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.stockFromLineitem(s, dir)
      .select(col("symbol"), col("date"), col("rid"), col("close")),
      Seq("close"))
      .orderBy(desc("date"), col("rid")).limit(2000)

  def o4TopK(s: SparkSession, dir: String): DataFrame =
    Performance.topK(performance(s, dir), "overall_change_percent", 5)

  def o6StrideSample(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.stockFromLineitem(s, dir), Seq("close"))
      .filter(col("rid") % 13 === 0)
      .select("rid", "symbol", "close")
      .orderBy("rid")

  def s4ScanLimit(s: SparkSession, dir: String): DataFrame = {
    val f = features(s, dir).select("symbol", "date", "close", "ma_5", "ma_20")
    rounded(rounded(f, Seq("close")), Seq("ma_5", "ma_20"), 2)
      .orderBy(desc("date"), col("symbol")).limit(2000)
  }

  // ===== scalar functions (X2, X3, X8, X9, X10, X11) =======================

  def x2Calendar(s: SparkSession, dir: String): DataFrame =
    Sources.orders(s, dir).select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("d"),
      year(col("o_orderdate").cast("date")).as("year"),
      month(col("o_orderdate").cast("date")).as("month"),
      quarter(col("o_orderdate").cast("date")).as("quarter"),
      weekday(col("o_orderdate").cast("date")).as("day_of_week"),
      weekofyear(col("o_orderdate").cast("date")).as("week_of_year"))
      .orderBy("o_orderkey")

  def x3DateArith(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderdate").cast("date").as("d"))
    val maxd = o.agg(max(col("d")).as("max_d"))
    o.crossJoin(broadcast(maxd)).select(
      col("o_orderkey"),
      date_format(date_add(col("d"), 1), "yyyy-MM-dd").as("next_date"),
      date_format(col("d"), "yyyy-MM-dd").as("formatted_date"),
      datediff(col("max_d"), col("d")).as("days_from_max"))
      .orderBy("o_orderkey")
  }

  def x8RoundFormat(s: SparkSession, dir: String): DataFrame =
    Sources.lineitem(s, dir).select(
      col("l_orderkey"), col("l_linenumber"),
      Num.cround(col("l_extendedprice"), 2).as("price_rounded"),
      concat(lit("$"), Num.cround(col("l_extendedprice"), 2).cast("string")).as("price_label"))
      .orderBy("l_orderkey", "l_linenumber")

  def x9StringOps(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "part").select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_upper"),
      trim(concat(lit("  "), col("p_name"), lit("  "))).as("name_trimmed"),
      element_at(split(col("p_type"), " "), 1).as("type_first_word"),
      size(split(col("p_type"), " ")).as("type_word_count"))
      .orderBy("p_partkey")

  def x10NullHandling(s: SparkSession, dir: String): DataFrame =
    dirtyStock(s, dir).select(
      col("rid"),
      when(col("open").isNull, "N/A")
        .otherwise(Num.cround(col("open"), 2).cast("string")).as("open_display"),
      Num.cround(coalesce(col("open"), lit(0.0)), 6).as("open_filled"))
      .orderBy("rid")

  def x11JsonAccess(s: SparkSession, dir: String): DataFrame =
    Sources.events(s, dir).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k_value"),
      col("event_type"))
      .orderBy("event_id")

  // ===== joins (beyond-reference; engine must support them) ================

  def j1JoinDims(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.orders(s, dir)
    val c = Sources.customer(s, dir)
    val n = Sources.nation(s, dir)
    val r = Sources.region(s, dir)
    rounded(o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice")).as("revenue")),
      Seq("revenue"), 2)
      .orderBy("r_name", "n_name")
  }

  def j2SemiAnti(s: SparkSession, dir: String): DataFrame = {
    val c = Sources.customer(s, dir)
    val o = Sources.orders(s, dir)
    val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("customers_with_orders"))
    val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("customers_without_orders"))
    semi.crossJoin(anti)
  }

  def j3LeftJoinAgg(s: SparkSession, dir: String): DataFrame = {
    val c = Sources.customer(s, dir)
    val o = Sources.orders(s, dir)
    // Revenue totals sum in EXACT decimal: a double SUM at sf1.0 magnitude
    // (~7.5e10) drifts ~0.01 across engines from summation order alone —
    // past the 2-dp rounding guard — while the per-term double -> DECIMAL
    // (18,2) cast is unambiguous (doubles never land on .005 midpoints),
    // so the sum is bit-identical at ANY corpus size. avg divides the
    // exact sum by the exact count.
    val agg = c.join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(col("o_orderkey")).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_dec"))
    rounded(agg
      .withColumn("total_revenue",
        coalesce(col("rev_dec").cast("double"), lit(0.0)))
      .withColumn("avg_order_value",
        when(col("n_orders") === 0, lit(null).cast("double"))
          .otherwise(col("rev_dec").cast("double") / col("n_orders")))
      .drop("rev_dec"),
      Seq("total_revenue", "avg_order_value"), 2)
      .orderBy("c_mktsegment")
  }

  // ===== streaming-shaped (tumbling window over events) ====================

  /** Sessionization (gaps-and-islands): a new session starts after a
    * > 30 min silence per user ([[Events.sessions]]). The
    * batch-declarative twin of session_window — same semantics,
    * oracle-checkable. */
  def st2Sessionize(s: SparkSession, dir: String): DataFrame =
    rounded(Events.sessions(Sources.events(s, dir)).drop("day"),
      Seq("total_value"), 2)
      .orderBy("user_id", "session_seq")

  /** Top session event-paths — discovery-mode funnel mining (which
    * journeys actually happen, before ev1 asks about a PRESCRIBED one):
    * sessionize with st2's 30-min gap rule, render each session's first 8
    * events as an ordered `a>b>c` path, count paths, keep the 20 most
    * common. All three window passes (lag, session sum, in-session rank)
    * and the session aggregate ride ONE user_id exchange — the rank
    * window's (user_id, session_seq) clustering is satisfied by the
    * hash(user_id) distribution (subset rule), and the rn <= 8 filter
    * bounds the per-session collect state at 8 BEFORE the path aggregate,
    * so a bot session costs sort time, never aggregation state. The path
    * table is tiny (distinct truncated paths); top-20 is
    * TakeOrderedAndProject. */
  def ev7SessionPaths(s: SparkSession, dir: String): DataFrame = {
    val sessions = Events.sessionized(Sources.events(s, dir))
    val rnW = Window.partitionBy("user_id", "session_seq")
      .orderBy("ts", "event_id")
    val first8 = sessions
      .withColumn("rn", row_number().over(rnW))
      .filter(col("rn") <= 8)
    first8.groupBy("user_id", "session_seq")
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("rn"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Event-volume anomaly detection (see
    * [[graft.analytics.Anomaly.volumeAnomalies]]): per-type hourly counts
    * z-scored against a trailing 24-observed-hour baseline that excludes
    * the current row. The windows run over the hours x types aggregate,
    * never the raw events. */
  def ev8VolumeAnomaly(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Anomaly.volumeAnomalies(Sources.events(s, dir))
      .orderBy("event_type", "hour")

  /** DAU + rolling 7-day distinct active users per day — one (user, day)
    * distinct exchange, a bounded ×7 contribution explode, plain counts;
    * no count-distinct Expand anywhere (see
    * [[graft.analytics.ActiveUsers.rollingActive]]). */
  def ev9ActiveUsers(s: SparkSession, dir: String): DataFrame =
    graft.analytics.ActiveUsers.rollingActive(Sources.events(s, dir))
      .orderBy("day")

  /** RFM user segmentation over purchase events — the classic
    * growth-marketing cut: per user, recency (days since last purchase,
    * anchored at the corpus's last observed day), frequency (purchase
    * count) and monetary (value sum), each scored into quintiles via
    * `ntile(5)`, then labeled (champions / loyal / recent / at_risk /
    * hibernating / regular).
    *
    * Shape at scale: ONE user-keyed aggregate reduces the event log
    * (partial map-side combine); every window after that runs over the
    * users-sized RFM table, never events — the global ntile sort is over
    * one row per purchasing user, and a deployment at billions of users
    * swaps it for the a15 histogram-quantile cut without touching the
    * aggregate. Determinism: every ntile orders (metric, user_id) — the
    * monetary sort key is the tie-safe-ROUNDED sum (scale 6) so a
    * cross-engine summation-order ulp can never flip a quintile
    * boundary; displayed monetary rounds at 2. */
  def ev10Rfm(s: SparkSession, dir: String): DataFrame = {
    val rfm = Events.rfm(Sources.events(s, dir))
      .withColumn("__m6", Num.cround(col("value_sum"), 6))
    val r5 = ntile(5).over(Window.orderBy(col("recency_days").desc, col("user_id")))
    val f5 = ntile(5).over(Window.orderBy(col("frequency"), col("user_id")))
    val m5 = ntile(5).over(Window.orderBy(col("__m6"), col("user_id")))
    rfm
      .withColumn("r_score", r5)
      .withColumn("f_score", f5)
      .withColumn("m_score", m5)
      .select(col("user_id"), col("recency_days"), col("frequency"),
        Num.cround(col("value_sum"), 2).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"),
        when(col("r_score") >= 4 && col("f_score") >= 4, "champions")
          .when(col("f_score") >= 4, "loyal")
          .when(col("r_score") >= 4, "recent")
          .when(col("r_score") <= 2 && col("f_score") >= 3, "at_risk")
          .when(col("r_score") <= 2, "hibernating")
          .otherwise("regular").as("segment"))
      .orderBy("user_id")
  }

  /** Power-user concentration (Lorenz/Pareto cut): users ranked by event
    * count into activity deciles (ntile 10 over (count desc, user_id) —
    * the ev10 tie-safe ordering), then per decile the user count, event
    * count, event share, and the cumulative share from the most-active
    * decile down ("the top 10% of users generate X% of all events").
    *
    * Shape at scale: ONE user-keyed count reduces the event log with
    * map-side partial aggregation; the ntile sorts the users-sized count
    * table, the decile aggregate collapses it to exactly 10 rows, and the
    * share/cumulative windows run over those 10 — the grand total rides a
    * broadcast of a 1-row aggregate, never a second events pass. */
  def ev11PowerUsers(s: SparkSession, dir: String): DataFrame = {
    val perUser = Sources.events(s, dir).groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
    val byDecile = perUser
      .withColumn("decile",
        ntile(10).over(Window.orderBy(col("n_events").desc, col("user_id"))))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("n_events").as("n_events"))
    byDecile
      .crossJoin(broadcast(byDecile.agg(sum("n_events").as("__tot"))))
      .withColumn("event_share",
        Num.cround(col("n_events") / col("__tot"), 6))
      .withColumn("cum_share",
        Num.cround(sum("n_events").over(
            Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0))
          / col("__tot"), 6))
      .select("decile", "n_users", "n_events", "event_share", "cum_share")
      .orderBy("decile")
  }

  /** Conversion-latency distribution by cohort week: for every user who
    * completed the full view->click->purchase funnel (ev1's strict
    * event-time ordering, reusing [[graft.analytics.Funnel.userFunnel]]),
    * seconds from first view to first ordered purchase, summarized per
    * first-view week as exact p25/p50/p75/p90 + mean — the
    * "time-to-convert" report product analytics pairs with the funnel
    * counts.
    *
    * Shape at scale: the funnel's single user_id exchange does all the
    * heavy lifting; this adds one aggregate over the CONVERTERS-sized
    * table keyed by ~52 cohort weeks/year. Percentiles are exact
    * (`percentile` == quantile_cont bit-identical, the a5/f9 contract) —
    * at billions of converters per week swap for a15's mergeable binned
    * quantiles without touching the funnel. Latency is an exact long
    * microsecond difference scaled by 1e6 — identical doubles
    * cross-engine, so the interpolated order statistics agree bit-for-bit
    * (tie-safe round at 6 anyway); the mean rounds at 2 (summation-order
    * ulps sit far below a centisecond). */
  def ev12TimeToConvert(s: SparkSession, dir: String): DataFrame = {
    val conv = analytics.Funnel.userFunnel(Sources.events(s, dir))
      .filter(col("funnel_stage") === 3)
      .select(
        Events.week(timestamp_micros(col("first_view_us"))).as("cohort_week"),
        ((col("first_purchase_us") - col("first_view_us")) / lit(1e6))
          .as("latency_sec"))
    conv.groupBy("cohort_week")
      .agg(
        count(lit(1)).as("n_converted"),
        Num.cround(percentile(col("latency_sec"), lit(0.25)), 6).as("p25_sec"),
        Num.cround(percentile(col("latency_sec"), lit(0.50)), 6).as("p50_sec"),
        Num.cround(percentile(col("latency_sec"), lit(0.75)), 6).as("p75_sec"),
        Num.cround(percentile(col("latency_sec"), lit(0.90)), 6).as("p90_sec"),
        Num.cround(avg(col("latency_sec")), 2).as("avg_sec"))
      .orderBy("cohort_week")
  }

  /** Funnel step-conversion summary — the 3-row report product analytics
    * draws as the funnel chart: per stage (view -> click -> purchase,
    * ev1's strict-order semantics), users reaching it, conversion from
    * the previous stage and from the funnel top. One aggregate over the
    * users-sized funnel table collapses to a single row; the 3-row long
    * form is a constant stack — nothing after the funnel's one user_id
    * exchange scales with events. Ratios round tie-safe at 6 (exact
    * integer divisions); a zero-user previous stage yields NULL
    * conversion on both engines (0/0 guarded to null); stage counts are
    * `count`s, so no events read 0 users (the oracle's), not NULL. */
  def ev13FunnelSummary(s: SparkSession, dir: String): DataFrame = {
    val f = analytics.Funnel.userFunnel(Sources.events(s, dir))
      .agg(
        count(when(col("funnel_stage") >= 1, 1L)).as("s1"),
        count(when(col("funnel_stage") >= 2, 1L)).as("s2"),
        count(when(col("funnel_stage") >= 3, 1L)).as("s3"))
    val stages = f.selectExpr(
      "stack(3, 1, 'view', s1, s1, 2, 'click', s2, s1, 3, 'purchase', s3, s2) " +
        "as (stage, step, n_reached, prev)")
      .withColumn("first", first("n_reached").over(
        Window.orderBy("stage").rowsBetween(Window.unboundedPreceding, 0)))
    stages.select(col("stage"), col("step"), col("n_reached"),
      when(col("prev") === 0, lit(null).cast("double"))
        .otherwise(Num.cround(col("n_reached") / col("prev"), 6))
        .as("conv_from_prev"),
      when(col("first") === 0, lit(null).cast("double"))
        .otherwise(Num.cround(col("n_reached") / col("first"), 6))
        .as("conv_from_top"))
      .orderBy("stage")
  }

  /** Rollup aggregate beyond the reference surface: revenue by
    * (region, segment) with subtotals and grand total. */
  def j4Rollup(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.orders(s, dir)
    val c = Sources.customer(s, dir)
    val n = Sources.nation(s, dir)
    val r = Sources.region(s, dir)
    // project to fresh aliases before rollup: rollup's null-extended
    // grouping columns otherwise clash with the join-side attributes
    val base = o.join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("r_name").as("region"), col("c_mktsegment").as("segment"),
        col("o_totalprice"))
    // rollup through the SQL path: in Spark 4.1 ANY Dataset.rollup after a
    // join trips the ambiguous-self-join checker (the Expand duplicates the
    // dataset-id-tagged grouping attributes); the SQL planner carries no
    // dataset ids and resolves cleanly
    base.createOrReplaceTempView("rollup_base")
    s.sql(
      s"""SELECT COALESCE(region, 'ALL') AS r_name,
         |       COALESCE(segment, 'ALL') AS c_mktsegment,
         |       COUNT(*) AS n_orders,
         |       ${Num.croundSql("SUM(o_totalprice)", 2)} AS revenue
         |FROM rollup_base
         |GROUP BY ROLLUP (region, segment)
         |ORDER BY r_name, c_mktsegment""".stripMargin)
  }

  /** CUBE over (status, priority): all four grouping sets in one Expand +
    * one hash aggregate — the full cross-dimensional subtotal lattice
    * (rollup's j4 covers the hierarchical prefix sets). No join upstream,
    * so Dataset.cube resolves directly. */
  def j7Cube(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), sum("o_totalprice").as("revenue"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        col("n_orders"), col("revenue")),
      Seq("revenue"), 2)
      .orderBy("o_orderstatus", "o_orderpriority")

  /** Full outer join of two monthly series with PARTLY-overlapping date
    * ranges — both exclusive branches are genuinely exercised (months with
    * orders but no shipments, months with shipments but no orders, and the
    * overlap). */
  def j8FullOuter(s: SparkSession, dir: String): DataFrame = {
    val a = Sources.orders(s, dir)
      .filter(col("o_orderdate").between("1995-01-01", "1995-08-31"))
      .groupBy(trunc(col("o_orderdate"), "month").as("month"))
      .agg(sum("o_totalprice").as("order_revenue"))
    val b = Sources.lineitem(s, dir)
      .filter(col("l_shipdate").between("1995-05-01", "1996-02-28"))
      .groupBy(trunc(col("l_shipdate"), "month").as("month"))
      .agg(sum("l_extendedprice").as("shipped_value"))
    rounded(a.join(b, Seq("month"), "full_outer"),
      Seq("order_revenue", "shipped_value"), 2)
      .orderBy("month")
  }

  /** RANGE-frame rolling mean: the trailing-7-CALENDAR-DAY average close —
    * unlike the ROWS frames of w3/w4, the frame follows the date VALUE, so
    * gaps in the trading calendar shrink the window instead of reaching
    * further back. Ordering by unix_date keeps the range arithmetic in
    * exact integer days. */
  def w11RangeMean(s: SparkSession, dir: String): DataFrame = {
    val wr = bySymbol.orderBy(expr("unix_date(date)"))
      .rangeBetween(-6, 0)
    windowQuery(s, dir)(df => rounded(df.select(col("symbol"), col("date"),
      avg("close").over(wr).as("range_ma7")), Seq("range_ma7"), 2))
  }

  /** Keyset-free pagination: page 3 of the (symbol, date) ordering via
    * OFFSET + LIMIT (Dataset.offset, Spark 3.4+). A global sort is
    * unavoidable for positional pagination; the limit still caps what
    * reaches the driver side of the collect-limit. */
  def o7Paginate(s: SparkSession, dir: String): DataFrame =
    rounded(cleanedStock(s, dir)
      .select(col("symbol"), col("date"), col("close"))
      .orderBy("symbol", "date")
      .offset(1000).limit(500), Seq("close"))

  /** Keyset (seek-method) pagination — the scale-correct replacement for
    * o7's positional OFFSET: the page starts AFTER a (symbol, date)
    * cursor, so the predicate reaches the scan and the plan is
    * TakeOrderedAndProject over only qualifying rows — page cost is
    * independent of page depth, where OFFSET n pays the global sort of
    * all n skipped rows on every page (o7's inherent cost, documented
    * there). Cursor comparison is the row-value (symbol, date) >
    * (cursor) lexicographic contract, binary string collation on both
    * engines. */
  def o8KeysetPage(s: SparkSession, dir: String): DataFrame = {
    val cSym = "500"
    val cDate = "1995-06-01"
    rounded(bars(s, dir)
      .filter(col("symbol") > cSym ||
        (col("symbol") === cSym && col("date") > lit(cDate).cast("date")))
      .select(col("symbol"), col("date"), col("close"))
      .orderBy("symbol", "date")
      .limit(50), Seq("close"))
  }

  /** The as-of family's two sides: the cleaned price bars, and the
    * order-book marks — the mean order price per (part as symbol, order
    * date), unique per (symbol, mark_date) as the joins require. */
  private def asofBars(s: SparkSession, dir: String): DataFrame =
    cleanedStock(s, dir).select("symbol", "date", "close")
  private def orderMarks(s: SparkSession, dir: String): DataFrame =
    Sources.lineitem(s, dir)
      .join(Sources.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_partkey").cast("string").as("symbol"),
        col("o_orderdate").cast("date").as("mark_date"))
      .agg(avg("o_totalprice").as("mark_price"))
  private def asofReport(joined: DataFrame): DataFrame =
    rounded(rounded(joined, Seq("close")), Seq("mark_price"), 2)
      .orderBy("symbol", "date")

  /** As-of join (backward): attach to every price bar the most recent
    * order-book mark at or before the bar date, per symbol. The naive form
    * is a theta join (BroadcastNestedLoopJoin, quadratic per key);
    * TemporalJoins.asofBackward plans one hash shuffle + one sort. */
  def j5AsofJoin(s: SparkSession, dir: String): DataFrame =
    asofReport(TemporalJoins.asofBackward(
      asofBars(s, dir), orderMarks(s, dir), Seq("symbol"), "date", "mark_date"))

  /** Forward as-of join — the event-study direction of j5: every bar
    * attaches the EARLIEST mark at or after it ("the next observation"),
    * where j5 attaches the latest at or before. Same union-and-window
    * plan, frame reversed (see [[graft.ops.TemporalJoins.asofForward]]);
    * one hash shuffle + one sort, never a per-key theta join. */
  def j9AsofForward(s: SparkSession, dir: String): DataFrame =
    asofReport(TemporalJoins.asofForward(
      asofBars(s, dir), orderMarks(s, dir), Seq("symbol"), "date", "mark_date"))

  /** Nearest as-of join — j5/j9's third direction: every bar attaches the
    * mark CLOSEST in time on either side, ties to the backward match,
    * matches farther than 45 days discarded (null payloads). One fused
    * union — a single symbol hash exchange with two in-partition sorts —
    * instead of composing j5+j9 (which would exchange the bars twice);
    * see [[graft.ops.TemporalJoins.asofNearest]]. */
  def j10AsofNearest(s: SparkSession, dir: String): DataFrame =
    asofReport(TemporalJoins.asofNearest(
      asofBars(s, dir), orderMarks(s, dir), Seq("symbol"), "date", "mark_date",
      tolerance = Some(45), timeToLong = unix_date))

  /** Range join via time-bucketed equi-join: all orders landing inside the
    * 7-day aftermath window of each big urgent order. Bucket width = max
    * range length, so each range replicates to at most 2 buckets and the
    * join is a plain equi-join — never a cartesian. */
  def j6RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Sources.orders(s, dir)
    // Aggregation PUSHED BELOW the range join (round-7 scaling probe: the
    // raw form measured alpha 1.24 — with a fixed calendar, 10x denser data
    // grows the matched (order, range) pair volume ~100x, and that growth
    // is inherent to joining raw rows. The per-range count/sum is
    // algebraic, so points pre-aggregate to DAY rollups first: the join's
    // left side is then bounded by the calendar (|days|), candidate pairs
    // by |ranges| x window_days — linear in data at any density.)
    val daily = o.groupBy(col("o_orderdate").cast("date").as("p_date"))
      .agg(count(lit(1)).as("n_day"), sum("o_totalprice").as("day_price"))
    val rng = o
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 300000)
      .select(col("o_orderkey").as("range_key"),
        col("o_orderdate").cast("date").as("start_date"))
    val joined = TemporalJoins.rangeJoinBucketed(
      daily, unix_date(col("p_date")),
      rng, unix_date(col("start_date")), unix_date(col("start_date")) + 7,
      bucketWidth = 7)
    rounded(joined.groupBy("range_key", "start_date")
      .agg(sum("n_day").as("n_orders"), sum("day_price").as("window_revenue")),
      Seq("window_revenue"), 2)
      .orderBy("range_key")
  }

  /** Heavy hitters via the native Misra-Gries sketch aggregate. Capacity 8
    * >= the 5 distinct priorities, so the sketch is exact here and the
    * DuckDB groupBy-count oracle applies; at cluster scale the same call
    * bounds aggregation state to `capacity` counters per partition. */
  def a12HeavyHitters(s: SparkSession, dir: String): DataFrame =
    Sources.orders(s, dir)
      .agg(graft.functions.GraftFunctions.call("heavy_hitters",
        col("o_orderpriority"), lit(8)).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.item").as("o_orderpriority"),
        col("h.min_count").as("n_orders"))
      .orderBy("o_orderpriority")

  def st1TumblingWindow(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        avg(col("value")).as("avg_value"),
        sum(col("value")).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("avg_value"), col("sum_value")),
      Seq("avg_value", "sum_value"), 2)
      .orderBy("window_start", "event_type")

  /** Sliding-window event rates (1-hour windows every 15 minutes) — the
    * smoothing read tumbling st1 can't give (a spike straddling a
    * tumbling boundary halves; the slide sees it whole). Spark's
    * `window(ts, 1h, 15m)` is epoch-aligned, so every event lands in
    * EXACTLY length/slide = 4 windows — the oracle replays that as a
    * range(0,4) explode off the integer-floored epoch micros (exact
    * integer arithmetic in both engines; the funnel epoch_us contract).
    * Same operator runs stateful under readStream (watermark evicts
    * windows as they close) — StreamingSpec proves stream == batch under
    * shuffled micro-batches. */
  def st4SlidingWindow(s: SparkSession, dir: String): DataFrame =
    rounded(streaming.StreamPipeline.slidingRates(Sources.events(s, dir))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
          .as("window_start"),
        col("event_type"), col("n_events"), col("avg_value")),
      Seq("avg_value"), 2)
      .orderBy("window_start", "event_type")

  /** Click->purchase attribution within 1 hour per user — the batch twin of
    * [[graft.streaming.StreamPipeline.clickPurchase]] (a watermarked
    * stream-stream interval join). Equi-join on user_id (hash-partitioned
    * both sides) with the time range as a post-join filter; microsecond
    * longs keep the delay arithmetic exact across engines. */
  def st3IntervalJoin(s: SparkSession, dir: String): DataFrame =
    graft.streaming.StreamPipeline.clickPurchase(Sources.events(s, dir))
      .orderBy("click_id", "purchase_id")

  // ===== projections & small filters (P1-P4, F5-F8) ========================

  def p1Rename(s: SparkSession, dir: String): DataFrame =
    rounded(Cleaning.renamePresent(
        Sources.lineitem(s, dir).select(
          col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("1. open"),
          col("l_quantity").as("5. volume")),
        Map("1. open" -> "open", "5. volume" -> "volume",
          "2. high" -> "high" /* absent -> ignored */)),
      Seq("open", "volume")).orderBy("l_orderkey", "l_linenumber")

  def p2Cast(s: SparkSession, dir: String): DataFrame =
    Sources.table(s, dir, "part").select(
      col("p_partkey"),
      expr("try_cast(p_brand AS DOUBLE)").as("brand_as_double"),
      expr("try_cast(CAST(p_size AS STRING) AS DOUBLE)").as("size_as_double"))
      .orderBy("p_partkey")

  def p3Literals(s: SparkSession, dir: String): DataFrame =
    Sources.orders(s, dir).select(
      col("o_orderkey"),
      lit("Alpha Vantage").as("data_source"),
      lit(1).as("schema_version"),
      date_format(lit("2026-01-01 00:00:00").cast("timestamp"),
        "yyyy-MM-dd HH:mm:ss").as("extracted_at"))
      .orderBy("o_orderkey")

  def p4Reorder(s: SparkSession, dir: String): DataFrame =
    Cleaning.reorderColumns(
      Sources.customer(s, dir),
      Seq("c_mktsegment", "c_custkey", "nonexistent_column"))
      .orderBy("c_custkey")

  def f5Isin(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.stockFromLineitem(s, dir)
      .filter(col("symbol").isin("1", "10", "100", "42", "7"))
      .select("rid", "symbol", "close"), Seq("close")).orderBy("rid")

  def f6DateRange(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.stockFromLineitem(s, dir)
      .filter(col("date").between("1996-01-01", "1996-12-31"))
      .select("rid", "date", "close"), Seq("close")).orderBy("rid")

  def f7SymbolEq(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.stockFromLineitem(s, dir)
      .filter(col("symbol") === "42")
      .select("rid", "symbol", "close"), Seq("close")).orderBy("rid")

  /** F8: failed fetches arrive as null payload envelopes and are dropped
    * before parsing (reference src/transform.py:87). */
  def f8NullEnvelope(s: SparkSession, dir: String): DataFrame =
    Sources.orders(s, dir).select(
      col("o_orderkey"),
      when(col("o_orderkey") % 10 === 3, lit(null))
        .otherwise(col("o_orderstatus")).as("payload"))
      .filter(col("payload").isNotNull)
      .orderBy("o_orderkey")

  // ===== remaining scalars / sorts (X1, X4, X5, A8, O1, O2, O5) ===========

  def x1Arithmetic(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.stockFromLineitem(s, dir).select(
      col("rid"),
      (col("high") - col("low")).as("price_range"),
      ((col("high") - col("low")) / col("close") * 100).as("price_range_percent"),
      ((col("close") - col("open")) / col("open") * 100).as("intraday_percent")),
      Seq("price_range", "price_range_percent", "intraday_percent"))
      .orderBy("rid")

  def x4UpdownFlags(s: SparkSession, dir: String): DataFrame = {
    val f = bars(s, dir).withColumn("daily_change", change(prevClose))
    f.select(col("symbol"), col("date"),
      positiveDay(col("daily_change")).as("is_positive_day"),
      negativeDay(col("daily_change")).as("is_negative_day"))
      .orderBy("symbol", "date")
  }

  def x5VolCategory(s: SparkSession, dir: String): DataFrame = {
    // exercise every branch incl. null -> Unknown on a derived column
    val f = Sources.stockFromLineitem(s, dir)
      .withColumn("vol_pct",
        when(col("rid") % 11 === 0, lit(null))
          .otherwise((col("high") - col("low")) / col("close") * 10))
    f.select(col("rid"), Derive.volatilityCategory(col("vol_pct")).as("volatility_category"))
      .orderBy("rid")
  }

  def a8WindowMean(s: SparkSession, dir: String): DataFrame = {
    val f = bars(s, dir).withColumn("dcp", pctChange(prevClose))
    rounded(f.select(col("symbol"), col("date"),
      avg("dcp").over(w.rowsBetween(-4, 0)).as("recent_avg_change")),
      Seq("recent_avg_change"), 2).orderBy("symbol", "date")
  }

  def o1SortDate(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.stockFromLineitem(s, dir)
      .select("date", "rid", "close"), Seq("close"))
      .orderBy("date", "rid").limit(500)

  def o2CompositeSort(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.stockFromLineitem(s, dir)
      .select("symbol", "date", "rid", "close"), Seq("close"))
      .orderBy("symbol", "date", "rid").limit(500)

  def o5SortMeasureDesc(s: SparkSession, dir: String): DataFrame =
    rounded(Sources.orders(s, dir)
      .select("o_orderkey", "o_totalprice"), Nil)
      .orderBy(desc("o_totalprice"), col("o_orderkey")).limit(100)

  def w7LatestRow(s: SparkSession, dir: String): DataFrame = {
    rounded(bars(s, dir)
      .withColumn("rn", row_number().over(bySymbolDateDesc))
      .filter(col("rn") === 1)
      .select("symbol", "date", "close"), Seq("close"))
      .orderBy("symbol")
  }

  /** Running maximum + drawdown per symbol — the classic "how far below
    * the all-time high" series. One cumulative window over the same
    * (symbol, date) sort every other w-query uses. */
  def w10Drawdown(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir)(df => rounded(df.select(col("symbol"), col("date"),
      col("close"),
      max("close").over(w.rowsBetween(Window.unboundedPreceding, 0)).as("cummax"),
      (col("close") / max("close").over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
        .as("drawdown")),
      Seq("close", "cummax", "drawdown")))

  /** Unpivot/melt — the inverse of x12's pivot: OHLC columns stack into
    * (field, value) rows. Zero shuffle: unpivot is a generate-style
    * projection (each input row emits 4 output rows in place); the only
    * exchange is the final presentation sort. */
  def u3Unpivot(s: SparkSession, dir: String): DataFrame =
    rounded(cleanedStock(s, dir)
      .select(col("symbol"), col("date"), col("open"), col("high"),
        col("low"), col("close"))
      .unpivot(
        Array(col("symbol"), col("date")),
        Array(col("open"), col("high"), col("low"), col("close")),
        "field", "value"),
      Seq("value"))
      .orderBy("symbol", "date", "field")

  def w8TrailingK(s: SparkSession, dir: String): DataFrame = {
    rounded(bars(s, dir)
      .withColumn("rn", row_number().over(bySymbolDateDesc))
      .filter(col("rn") <= 5)
      .select("symbol", "date", "rn", "close"), Seq("close"))
      .orderBy("symbol", "date")
  }

  /** W9+X6 standalone: per-symbol volume quartiles (W9) feeding the
    * data-driven bucket chain (X6) — previously only exercised inside the
    * flagship. Same single-exchange window path as the pipeline. */
  def w9VolumeBucket(s: SparkSession, dir: String): DataFrame =
    Derive.withVolumeCategory(bars(s, dir))
      .select("symbol", "date", "volume", "volume_category")
      .orderBy("symbol", "date")

  /** S2: company fundamentals (OVERVIEW dimension) joined to prices —
    * sector-level rollup. The dimension is one row per symbol, so it
    * broadcasts; the fact side never shuffles for the join. */
  def s2OverviewJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = Sources.overviewFromPart(s, dir)
      .select("symbol", "sector", "pe_ratio")
    rounded(Sources.stockFromLineitem(s, dir)
      .join(broadcast(dim), "symbol")
      .groupBy("sector")
      .agg(
        countDistinct(col("symbol")).as("n_symbols"),
        count(lit(1)).as("n_days"),
        avg(col("close")).as("avg_close"),
        max(col("pe_ratio")).as("max_pe")),
      Seq("avg_close", "max_pe"), 2)
      .orderBy("sector")
  }

  // ===== training-data extensions (documents / embeddings) ================

  def d1DedupExact(s: SparkSession, dir: String): DataFrame =
    ext.Dedup.exactDuplicates(Sources.documents(s, dir)).orderBy("text_hash")

  /** Exact-dedup survivor rows via the payload-free winner election
    * (curate step 1): min-doc_id row per content digest survives. */
  def d7KeepFirst(s: SparkSession, dir: String): DataFrame =
    ext.Dedup.keepFirstPerDigest(Sources.documents(s, dir))
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")

  // signatures materialize before the band self-join (same reason as
  // CorpusPipeline.curate): both join sides otherwise re-tokenize and
  // re-md5 every document — value-identical, half the signature work.
  // Materialize (not bare localCheckpoint) so the cluster deployment can
  // switch to the lineage-preserving persist via spark.graft.materialize.
  def d2MinhashLsh(s: SparkSession, dir: String): DataFrame =
    ext.Dedup.lshCandidatePairs(
      Materialize(
        ext.Dedup.minhashSignatures(Sources.documents(s, dir))))
      .orderBy("doc_a", "doc_b")

  /** Exact-Jaccard verification of the d2 candidates — the correlated-
    * signature guard (Dedup.jaccardVerifyPairs) hash-verified end-to-end:
    * only candidates with true trigram Jaccard >= 0.5 survive, with the
    * exact value attached. */
  def d8VerifiedPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(s, dir)
    val pairs = ext.Dedup.lshCandidatePairs(
      Materialize(ext.Dedup.minhashSignatures(docs)))
    rounded(ext.Dedup.jaccardVerifyPairs(docs, pairs)
      .select("doc_a", "doc_b", "jaccard"), Seq("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  def d6DupClusters(s: SparkSession, dir: String): DataFrame =
    ext.Dedup.duplicateClusters(
      ext.Dedup.lshCandidatePairs(
        Materialize(
          ext.Dedup.minhashSignatures(Sources.documents(s, dir)))))
      .orderBy("doc_id")

  def d3Simhash(s: SparkSession, dir: String): DataFrame =
    ext.Dedup.simhash(Sources.documents(s, dir)).orderBy("doc_id")

  /** Best-quality canonical per near-dup cluster (see
    * [[graft.ext.Dedup.qualityCanonical]]): d6's clusters, survivors
    * elected by t2 quality score instead of min id. */
  def d11BestOfCluster(s: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(s, dir)
    ext.Dedup.qualityCanonical(docs,
      ext.Dedup.duplicateClusters(
        ext.Dedup.lshCandidatePairs(
          Materialize(ext.Dedup.minhashSignatures(docs)))))
      .orderBy("cluster_rep")
  }

  /** Edit-distance fuzzy dedup (see [[graft.ext.Dedup.fuzzyDupPairs]]):
    * blocking on (lang, normalized 16-char prefix) with the d2 hot-bucket
    * cap, levenshtein verification over 64-char normalized prefixes. */
  def d10FuzzyDedup(s: SparkSession, dir: String): DataFrame =
    rounded(ext.Dedup.fuzzyDupPairs(Sources.documents(s, dir)),
      Seq("sim_ratio")).orderBy("doc_a", "doc_b")

  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    rounded(ext.Dedup.ngramJaccardPairs(Sources.documents(s, dir)),
      Seq("jaccard")).orderBy("doc_a", "doc_b")

  def d5EmbeddingNeardup(s: SparkSession, dir: String): DataFrame =
    rounded(ext.Dedup.embeddingNearDupPairs(Sources.embeddings(s, dir)),
      Seq("cosine")).orderBy("vec_a", "vec_b")

  def sim1CosineTopk(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.bruteForceTopK(Sources.embeddings(s, dir))
      .orderBy("query_id", "rank")

  /** Two-stage Matryoshka-style retrieval: coarse rank on the first 16
    * dims (4x fewer multiplies on the corpus-wide pass), exact rerank of a
    * 20-deep shortlist on all 64 — see
    * [[graft.ext.Similarity.prefixRerankTopK]]. */
  def sim5PrefixRerank(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.prefixRerankTopK(Sources.embeddings(s, dir))
      .orderBy("query_id", "rank")

  /** Product-quantization ADC top-k (IVF-PQ's search kernel): corpus
    * encoded once to 8 subspace codes per vector (32x memory shrink),
    * queries broadcast 128-entry ADC tables, distances are 8 lookups
    * summed (see [[graft.ext.Similarity.pqTopK]]). */
  def sim7PqTopk(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.pqTopK(Sources.embeddings(s, dir),
      ext.Similarity.pqCodebook(s))
      .orderBy("query_id", "rank")

  /** IVF-PQ search end-to-end (the FAISS IVFADC configuration): IVF
    * routes each query to its 2 nearest lists, PQ/ADC scores only those
    * candidates over 8-byte codes — the engine's asymptotic ANN scale
    * path with compressed-index memory economics (see
    * [[graft.ext.Similarity.ivfPqTopK]]). */
  def sim8IvfPq(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.ivfPqTopK(Sources.embeddings(s, dir),
      ext.Similarity.ivfAnchors(s), ext.Similarity.pqCodebook(s))
      .orderBy("query_id", "rank")

  /** sim7 + the exact-rerank tier (Jegou et al. 2011 §V / FAISS
    * IndexRefine): ADC proposes a 50-deep shortlist per query, exact
    * cosine re-scores ONLY those 50 and keeps 5 — recall becomes ADC's
    * COVERAGE at depth 50 instead of its point accuracy at 5 (measured
    * 0.020 -> 0.110 on the driver fixture with this fixed codebook; the
    * learned-codebook variant reaches 0.300 and is ExtSpec-gated). See
    * [[graft.ext.Similarity.pqTopKRerank]]. */
  def sim9PqRerank(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.pqTopKRerank(Sources.embeddings(s, dir),
      ext.Similarity.pqCodebook(s))
      .orderBy("query_id", "rank")

  /** sim8 + the exact-rerank tier — the full production retrieval stack
    * (IVF routing x compressed ADC proposal x exact refine) under the
    * cross-engine oracle. See
    * [[graft.ext.Similarity.ivfPqTopKRerank]]. */
  def sim10IvfPqRerank(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.ivfPqTopKRerank(Sources.embeddings(s, dir),
      ext.Similarity.ivfAnchors(s), ext.Similarity.pqCodebook(s))
      .orderBy("query_id", "rank")

  /** sim9's PRODUCTION shape, registered as sim17 (r10 verdict item #1
    * — the e4 recipe): the
    * query batch is FIXED at vec_id ≡ 0 (mod 100) below 2000, i.e. it
    * stops growing once the corpus passes the driver's sf0.1 size, so the
    * ADC scan (corpus × queries table lookups) and the rerank tier are
    * LINEAR in the corpus — the regime a production retrieval deployment
    * actually runs (a bounded query batch against a growing index), where
    * sim9's corpus-growing queryMod sample inherits sim7's
    * declared-quadratic probe regime. Same codebook, shortlist and rank
    * contract as sim9. */
  def sim17PqRerankBatch(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.pqTopKRerank(Sources.embeddings(s, dir),
      ext.Similarity.pqCodebook(s), queryCap = 2000L)
      .orderBy("query_id", "rank")

  /** sim10's PRODUCTION shape, registered as sim18 — the full IVF × ADC
    * × exact-rerank stack
    * under the FIXED query batch (vec_id ≡ 0 mod 100, below 2000). IVF
    * routing already divides the candidate work by ~nLists/nprobe; pinning
    * the batch removes the probe artifact that multiplied it back by the
    * corpus, so the whole stack is linear in the corpus at a routed
    * constant. */
  def sim18IvfPqRerankBatch(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.ivfPqTopKRerank(Sources.embeddings(s, dir),
      ext.Similarity.ivfAnchors(s), ext.Similarity.pqCodebook(s),
      queryCap = 2000L)
      .orderBy("query_id", "rank")

  /** Contrastive hard negatives: k nearest DIFFERENT-label vectors per
    * sampled anchor — the corpus reduces through the bounded `top_k_by`
    * aggregate, never a per-anchor corpus sort (see
    * [[graft.ext.Similarity.hardNegatives]]). */
  def e3HardNegatives(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.hardNegatives(Sources.embeddings(s, dir))
      .orderBy("anchor_id", "rank")

  /** e3's PRODUCTION shape (r9 verdict item #4): a FIXED anchor batch —
    * vec_id ≡ 50 (mod 100) below 2000, i.e. a batch that stops growing
    * once the corpus passes the driver's sf0.1 size — mined against the
    * whole corpus. e3's corpus-sampled anchors make the scan corpus ×
    * anchors (declared quadratic in COVERAGE.md's round-8 scaling read);
    * this shape is what a fine-tune actually runs (a bounded training
    * batch against a growing corpus) and is linear in the corpus: one
    * broadcast-anchor scan reduced by the bounded `top_k_by` (see
    * [[graft.ext.Similarity.hardNegativesFor]]). */
  def e4HardNegativesBatch(s: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(s, dir)
    ext.Similarity.hardNegativesFor(emb,
      emb.filter(col("vec_id") % 100 === 50 && col("vec_id") < 2000))
      .orderBy("anchor_id", "rank")
  }

  /** PQ quantization-distortion report on the fixed md5 codebook (see
    * [[graft.ext.Similarity.pqDistortion]]); ExtSpec separately gates the
    * learned codebook's distortion strictly below this fixed baseline —
    * the k-means objective, measured. */
  def sim16PqDistortion(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.pqDistortion(Sources.embeddings(s, dir),
        ext.Similarity.pqCodebook(s))
      .orderBy("s")

  /** Language-ID confusion matrix: t1's stopword classifier against the
    * corpus's labeled `lang` column, with per-true-label recall — the
    * text-side sibling of e6's centroid confusion (NULL labels fold to
    * 'none' so both engines group and order them identically). */
  def t29LangConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = ext.TextOps.withLangId(Sources.documents(s, dir))
      .select(coalesce(col("lang"), lit("none")).as("label"),
        col("detected_lang"))
    pred.groupBy("label", "detected_lang").agg(count(lit(1)).as("n"))
      .withColumn("n_true", sum("n").over(Window.partitionBy("label")))
      .withColumn("recall_frac", Num.cround(col("n") / col("n_true"), 6))
      .orderBy("label", "detected_lang")
  }

  def sim2LshTopk(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.lshTopK(Sources.embeddings(s, dir), ext.Similarity.planes(s))
      .orderBy("query_id", "rank")

  /** LSH radius search — "every neighbor with cosine >= 0.1", the
    * data-dependent-result sibling of sim2's fixed-k retrieval (see
    * [[graft.ext.Similarity.lshRangeSearch]]). queryMod 10 because the
    * near-uniform fixture leaves 8-plane buckets thin at small SF — the
    * denser query set keeps the threshold set non-empty at sf0.001. */
  def sim15RangeSearch(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.lshRangeSearch(Sources.embeddings(s, dir),
        ext.Similarity.planes(s), queryMod = 10, tau = 0.1)
      .orderBy("query_id", "vec_id")

  /** Confusion matrix + per-cell recall/precision of e2's nearest-centroid
    * classifier against the true labels — the evaluation readout that
    * turns e2's per-vector `correct` flags into the per-class error
    * structure (which labels bleed into which). Rides e2's exact plan
    * (broadcast centroids, one partial-agg distance pass) reduced to a
    * labels² table; the window sums run over that tiny aggregate, not the
    * corpus. */
  def e6Confusion(s: SparkSession, dir: String): DataFrame = {
    val pred = ext.Similarity.nearestCentroid(Sources.embeddings(s, dir))
    val cells = pred.groupBy("label", "predicted").agg(count(lit(1)).as("n"))
    cells
      .withColumn("n_true", sum("n").over(Window.partitionBy("label")))
      .withColumn("n_pred", sum("n").over(Window.partitionBy("predicted")))
      .withColumn("recall_frac", Num.cround(col("n") / col("n_true"), 6))
      .withColumn("precision_frac", Num.cround(col("n") / col("n_pred"), 6))
      .orderBy("label", "predicted")
  }

  /** Multi-probe LSH top-k: the query's bucket plus the 2 buckets behind
    * its lowest-margin hyperplanes — recovers boundary-split neighbors at
    * 3x the candidate cost instead of 16x (fewer planes). See
    * [[graft.ext.Similarity.lshTopKMultiProbe]]. */
  def sim6LshMultiprobe(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.lshTopKMultiProbe(Sources.embeddings(s, dir),
        ext.Similarity.planes(s))
      .orderBy("query_id", "rank")

  def sim3IvfTopk(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.ivfTopK(Sources.embeddings(s, dir), ext.Similarity.ivfAnchors(s))
      .orderBy("query_id", "rank")

  /** Hybrid retrieval via reciprocal-rank fusion (see
    * [[graft.ext.Similarity.rrfFusion]]): sim2's LSH and sim3's IVF
    * 10-deep shortlists merged by Σ 1/(60+rank), top-5 out. */
  def sim14Rrf(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.rrfFusion(Sources.embeddings(s, dir),
      ext.Similarity.planes(s), ext.Similarity.ivfAnchors(s))
      .orderBy("query_id", "rank")

  /** Per-label embedding drift between snapshot halves (see
    * [[graft.ext.Similarity.embeddingDrift]]): centroid L2 shift + cosine
    * between vec_id-parity snapshot proxies — the model/mix-change
    * monitor. */
  def sim13Drift(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.embeddingDrift(Sources.embeddings(s, dir),
      col("vec_id") % 2 === 0)
      .orderBy("label")

  /** k-NN (k=5) majority-vote classification over the IVF shortlist (see
    * [[graft.ext.Similarity.knnClassify]]) — the local-boundary companion
    * to e2's nearest-centroid classifier. */
  def sim12KnnClassify(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.knnClassify(Sources.embeddings(s, dir),
      ext.Similarity.ivfAnchors(s))
      .orderBy("query_id")

  /** Metadata-filtered vector search (see
    * [[graft.ext.Similarity.ivfTopKFiltered]]): sim3's IVF probe over the
    * label%3==0 slice only — the tenant/category-filter retrieval shape. */
  def sim11FilteredAnn(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.ivfTopKFiltered(Sources.embeddings(s, dir),
      ext.Similarity.ivfAnchors(s), col("label") % 3 === 0)
      .orderBy("query_id", "rank")

  /** SemDeDup-style semantic duplicate clusters over the embeddings: IVF
    * list assignment -> within-list tie-safe cosine pairs -> min-label
    * connected components (the d6 machinery on an embedding pair graph).
    * theta=0.3 because the synthetic embeddings carry no planted
    * high-cosine twins (max pairwise cosine ~0.51) — at 0.3 the graph has
    * ~hundreds of real edges, so the oracle verifies genuine clustering
    * work, not two empty sets. */
  def d9SemanticClusters(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.semanticClusters(Sources.embeddings(s, dir),
      ext.Similarity.ivfAnchors(s))
      .orderBy("doc_id")

  /** Round-trip verification of the int8 quantization tier
    * (quantizeInt8 -> dequantizeInt8) plus l2Normalize: per-vector scale,
    * whole-vector fingerprints of the quantized array (signed + L1 element
    * sums — any flipped element changes both), the dequantization error
    * (bounded by scale/2 per element), and the head of the unit vector.
    * Scalars rather than raw arrays so the DuckDB hash compare stays on
    * engine-portable types. */
  def sim4Quantize(s: SparkSession, dir: String): DataFrame = {
    // sort-first: keeps the range sampling off the per-element array math
    val q = ext.Similarity.quantizeInt8(
        Sources.embeddings(s, dir).orderBy("vec_id"))
      .withColumn("deq", ext.Similarity.dequantizeInt8())
      .withColumn("unit", ext.Similarity.l2Normalize())
    rounded(q.select(
      col("vec_id"),
      col("q_scale"),
      aggregate(col("q_vec"), lit(0L), (a, v) => a + v.cast("long")).as("q_sum"),
      aggregate(col("q_vec"), lit(0L), (a, v) => a + abs(v.cast("long"))).as("q_l1"),
      aggregate(zip_with(col("deq"), col("embedding"),
          (d, x) => abs(d - x.cast("double"))),
        lit(0.0), (a, v) => greatest(a, v)).as("max_abs_err"),
      element_at(col("unit"), 1).as("unit_head")),
      Seq("q_scale", "max_abs_err", "unit_head"))
  }

  def t1LangId(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.withLangId(Sources.documents(s, dir))
      .select("doc_id", "lang", "score_en", "score_de", "score_es", "score_fr",
        "detected_lang")
      .orderBy("doc_id")

  def t5LangNgram(s: SparkSession, dir: String): DataFrame =
    // sort-first: keeps the range sampling off the trigram-regex scan
    ext.TextOps.withLangIdNgram(Sources.documents(s, dir).orderBy("doc_id"))
      .select("doc_id", "ngram_score_en", "ngram_score_de", "ngram_score_es",
        "ngram_score_fr", "detected_lang_ngram")

  // shardBlock=64 so even the 500-doc sf0.01 fixture spans ~8 prefix-sum
  // shards — the oracle hash then actually proves the two-phase cumsum
  // (result is shard-boundary-invariant, so any block size hash-matches).
  def t6PackSequences(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.packSequences(Sources.documents(s, dir), budgetTokens = 256,
      shardBlock = 64L)
      .select("doc_id", "source", "n_tokens", "cum_tokens", "pack_id")
      .orderBy("doc_id")

  /** Downsample src0 4:1 and src1 2:1, keep the rest — the "re-weight a
    * noisy source" curation move. */
  def t7SourceMix(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.sourceMix(Sources.documents(s, dir),
      Map("src0" -> 4, "src1" -> 2), shardBlock = 64L)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Benchmark decontamination: documents sharing an 8-word n-gram with the
    * held-out benchmark slice (doc_id % 29 == 0 plays the eval set). n=8
    * keeps random word-salad collisions out — a hit is a near-certain
    * leak, modulo the ~B*C/2^64 xxhash64 false-positive odds quantified in
    * [[graft.ext.Decontaminate]] (zero at this scale in expectation). */
  def c1Decontam(s: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(s, dir)
    ext.Decontaminate.contamination(
      corpus = docs.filter(col("doc_id") % 29 =!= 0),
      benchmark = docs.filter(col("doc_id") % 29 === 0),
      n = 8)
      .orderBy("doc_id")
  }

  /** Semantic decontamination twin of c1: corpus vectors too close in
    * cosine to the held-out slice (vec_id % 37 plays the eval set). The
    * 0.3 threshold matches d5's near-dup regime — the synthetic embeddings
    * are not semantically clustered, so the production ~0.9 paraphrase
    * threshold would match nothing at this scale. */
  def c2EmbedDecontam(s: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(s, dir)
    ext.Similarity.embeddingContamination(
      corpus = emb.filter(col("vec_id") % 37 =!= 0),
      benchmark = emb.filter(col("vec_id") % 37 === 0),
      threshold = 0.3)
      .orderBy("vec_id")
  }

  def t8Repetition(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.withRepetitionStats(Sources.documents(s, dir))
      .select("doc_id", "n_tokens", "distinct_tokens", "top_tok_frac",
        "n_bigrams", "distinct_bigrams", "dup_bigram_frac", "repetitive")
      .orderBy("doc_id")

  def t9Split(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.withSplitAssignment(Sources.documents(s, dir))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")

  /** Cap every source at 400 tokens (doc_id order) — shardBlock=64 for the
    * same fixture-spans-shards reason as t6/t7. */
  def t10Budget(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.tokenBudgetFilter(Sources.documents(s, dir),
      budgetTokens = 400L, shardBlock = 64L)
      .select("doc_id", "source", "n_tokens", "cum_tokens")
      .orderBy("doc_id")

  /** Top-20 corpus vocabulary — deterministic (count desc, token asc). */
  def t11Vocab(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.vocabulary(Sources.documents(s, dir), k = 20)

  /** Zipf slope of the top-100 token frequency spectrum (see
    * [[graft.ext.TextOps.zipfFit]]). */
  /** Vocabulary coverage curve (see
    * [[graft.ext.TextOps.vocabCoverage]]): occurrence share covered by
    * top-{10,100,1000,10000} vocabularies — t25's Zipf fit made
    * operational. */
  def t26VocabCoverage(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.vocabCoverage(Sources.documents(s, dir))
      .orderBy("vocab_size")

  def t25ZipfFit(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.zipfFit(Sources.documents(s, dir))

  /** Top-3 TF-IDF keywords per document. */
  def t12Tfidf(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.withTfIdfKeywords(Sources.documents(s, dir), topK = 3)
      .orderBy("doc_id", "keyword_rank")

  def t2QualityScore(s: SparkSession, dir: String): DataFrame =
    rounded(ext.TextOps.withQualityScore(Sources.documents(s, dir))
      .select("doc_id", "n_tokens", "text_len", "punct_ratio",
        "stopword_ratio", "quality_score"),
      Seq("punct_ratio", "stopword_ratio", "quality_score"))
      .orderBy("doc_id")

  def t3TokenCount(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.withTokenCounts(Sources.documents(s, dir))
      .select("doc_id", "ws_tokens", "word_tokens", "bpe_estimate")
      .orderBy("doc_id")

  def t4Fingerprint(s: SparkSession, dir: String): DataFrame =
    // sort-first: keeps the range sampling off the shingle+md5 projection
    // (the t21 fix; decade-2 measured 1.13 before)
    ext.TextOps.withFingerprints(Sources.documents(s, dir).orderBy("doc_id"))
      .select("doc_id", "md5_fingerprint", "min_shingle_fingerprint")

  /** Unigram-LM surprise score per document (KenLM-filter analog). */
  def t13UnigramLm(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.withUnigramLogProb(Sources.documents(s, dir))
      .select("doc_id", "n_tokens", "avg_neg_logprob")
      .orderBy("doc_id")

  /** Per-label embedding centroids, long (label, dim) form. */
  def e1Centroids(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.labelCentroids(Sources.embeddings(s, dir))
      .orderBy("label", "dim")

  /** Nearest-centroid classification of every vector (Rocchio eval). */
  def e2NearestCentroid(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.nearestCentroid(Sources.embeddings(s, dir))
      .orderBy("vec_id")

  /** Cross-tab / pivot: per-symbol average close by calendar month, wide
    * form. The EXPLICIT pivot value list matters twice: no
    * distinct-discovery pass over the fact table, and the pivot lowers to
    * ONE hash aggregate with 12 conditional agg expressions — same single
    * shuffle as a plain groupBy(symbol), deterministic column order. */
  def x12Pivot(s: SparkSession, dir: String): DataFrame =
    rounded(
      cleanedStock(s, dir)
        .withColumn("m", concat(lit("m"), month(col("date"))))
        .groupBy("symbol").pivot("m", (1 to 12).map("m" + _)).agg(avg("close")),
      (1 to 12).map("m" + _))
      .orderBy("symbol")

  /** The x14/x15 daily spine: each % 97 symbol's min→max calendar days,
    * left-joined to its bars (close NULL on a day it did not trade). */
  private def dailySpine(s: SparkSession, dir: String): DataFrame = {
    val f = cleanedStock(s, dir)
      .filter(col("symbol").cast("long") % 97 === 0)
      .select("symbol", "date", "close")
    f.groupBy("symbol")
      .agg(min("date").as("d0"), max("date").as("d1"))
      .select(col("symbol"),
        explode(expr("sequence(d0, d1, interval 1 day)")).as("date"))
      .join(f, Seq("symbol", "date"), "left")
  }

  /** Calendar gap-fill + forward-fill (LOCF): densify each symbol's bar
    * series onto its own min→max daily spine, carrying the last observed
    * close across the gaps and flagging imputed rows — the resample
    * primitive every downstream daily-grain join assumes. The % 97 symbol
    * slice keeps the output calendar-bounded at the test scales (the
    * operator itself is linear: the spine is |symbols| × span rows, the
    * LOCF is a running last() with O(1) frame state over ONE symbol
    * exchange). */
  def x14Gapfill(s: SparkSession, dir: String): DataFrame = {
    val upTo = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailySpine(s, dir)
      .withColumn("filled_close",
        Num.cround(last("close", ignoreNulls = true).over(upTo), 6))
      .withColumn("is_imputed", col("close").isNull)
      .select("symbol", "date", "filled_close", "is_imputed")
      .orderBy("symbol", "date")
  }

  /** view->click->purchase funnel, strict event-time order, per user. */
  def ev1Funnel(s: SparkSession, dir: String): DataFrame =
    Funnel.userFunnel(Sources.events(s, dir))
      .orderBy("user_id")

  /** The skew-hardened funnel, verified against the SAME oracle as ev1 —
    * hash equality proves the salted plan changes the shuffle shape, not
    * the answer. */
  def ev2FunnelSalted(s: SparkSession, dir: String): DataFrame =
    Funnel.userFunnelSalted(Sources.events(s, dir))
      .orderBy("user_id")

  /** The salted funnel with SHUFFLED gate joins (`broadcastGates=false`) —
    * the hundreds-of-millions-of-users configuration where the per-user
    * gate tables no longer fit a broadcast. Verified against the SAME
    * oracle as ev1/ev2: hash equality proves the gate distribution
    * strategy changes only the join shape, never the answer. */
  def ev3FunnelShuffledGates(s: SparkSession, dir: String): DataFrame =
    Funnel.userFunnelSalted(Sources.events(s, dir), broadcastGates = false)
      .orderBy("user_id")

  /** The salted funnel with its bucket count chosen by the hottest-user
    * pre-pass (`Skew.adaptiveSaltBuckets`) instead of a hand constant.
    * Same oracle as ev1/ev2/ev3: the adaptive sizing is an answer-invariant
    * knob, and hash equality against the window-funnel SQL proves it
    * through the full cross-engine gate. targetPerBucket=1000 so the
    * fixture actually picks >1 bucket (the driver corpora are
    * near-uniform; the default 1M target would choose 1 everywhere and
    * test nothing). */
  def ev4FunnelAdaptive(s: SparkSession, dir: String): DataFrame =
    Funnel.userFunnelAdaptive(Sources.events(s, dir),
        targetPerBucket = 1000L)
      .orderBy("user_id")

  /** Weekly cohort retention triangle — see
    * [[graft.analytics.Retention.cohortRetention]]. */
  def ev5Retention(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Retention.cohortRetention(Sources.events(s, dir))
      .orderBy("cohort_week", "week_offset")

  /** Weighted stratified sampling (Efraimidis–Spirakis key over n_chars —
    * longer docs proportionally likelier; see
    * [[graft.ext.TextOps.weightedSample]]). Same bounded-aggregate plan
    * as t18. */
  def t23WeightedSample(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.weightedSample(Sources.documents(s, dir))

  /** First-order Markov event-transition matrix (see
    * [[graft.analytics.Transitions.eventTransitions]]): one user-keyed
    * window pass over the events, then a matrix-sized aggregate; the
    * probability denominator windows over the tiny matrix. */
  def ev6Transitions(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Transitions.eventTransitions(Sources.events(s, dir))
      .orderBy("prev_type", "event_type")

  /** Corpus mix balance report: source shares -> Shannon entropy,
    * normalized entropy, and effective source count (exp H — the
    * perplexity of the mix) — the data-mix diagnostic read BEFORE
    * reaching for t17's temperature reweighting. The corpus reduces to
    * (source, count) rows map-side; everything after runs on the tiny
    * share table. Entropy terms are a handful of double products (round
    * 2's summation-order concern at 1e-16 scale — round 6 is far above
    * it), and ln/exp agree across engines to 1 ulp. */
  def t22SourceEntropy(s: SparkSession, dir: String): DataFrame = {
    val counts = Sources.documents(s, dir)
      .groupBy("source").agg(count(lit(1)).as("n"))
    val withTot = counts.withColumn("tot",
      sum("n").over(Window.partitionBy()))
    val p = col("n").cast("double") / col("tot")
    withTot
      .agg(count(lit(1)).as("n_sources"), (-sum(p * log(p))).as("h"))
      .select(col("n_sources"),
        Num.cround(col("h"), 6).as("entropy_nats"),
        // n_sources = 1 makes this 0/ln(1) = 0/0: Spark renders NaN where
        // DuckDB's NULL/IEEE treatment can differ, flipping the hash on a
        // degenerate single-source corpus. Normalized entropy is simply
        // undefined there — say NULL explicitly (oracle mirrors the CASE).
        when(col("n_sources") > 1,
          Num.cround(col("h") / log(col("n_sources").cast("double")), 6))
          .otherwise(lit(null).cast("double"))
          .as("norm_entropy"),
        Num.cround(exp(col("h")), 6).as("eff_sources"))
  }

  /** RAG chunking of the documents table: 64-token windows, 16 overlap. */
  def t15Chunks(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.chunkDocuments(Sources.documents(s, dir))
      .orderBy("doc_id", "chunk_id")

  def t16SpanDedup(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.dedupSpans(Sources.documents(s, dir))
      .orderBy("doc_id")

  /** Temperature-flattened LANGUAGE mixture (tau=2) — the lang column is
    * the corpus's one genuinely skewed grouping (en is ~3.4x fr), so the
    * oracle verifies real downsampling, not a uniform no-op. A
    * deterministic slice (doc_id % 13) has its lang NULLed — identically
    * in the oracle — so the null-safe stride join (`<=>` engine-side,
    * `IS NOT DISTINCT FROM` oracle-side) is exercised with a REAL
    * missing-language group at every verified scale, not just by reading
    * the code (real corpora have un-identified documents). */
  def t17TempMix(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.temperatureMix(
      Sources.documents(s, dir)
        .withColumn("lang",
          when(col("doc_id") % 13 === 0, lit(null).cast("string"))
            .otherwise(col("lang"))),
      "lang", tau = 2.0)
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Deterministic per-source eval sample (bottom-5-by-hash per stratum) —
    * see [[graft.ext.TextOps.stratifiedSample]]. */
  def t18StratSample(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.stratifiedSample(Sources.documents(s, dir), "source", k = 5)

  /** Power-of-two sequence-length histogram with per-bucket padding waste
    * — see [[graft.ext.TextOps.packingWasteStats]]. */
  def t19PackStats(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.packingWasteStats(Sources.documents(s, dir))
      .select("bin_len", "n_docs", "sum_tokens", "waste", "waste_frac")

  /** PII detect + redact over the documents corpus ([[graft.ext.Pii]]).
    * The synthetic corpus carries no real PII, so — like `dirtyStock` for
    * F1-F3 — deterministic PII is injected first (email on doc_id % 17,
    * dashed phone on % 23, IPv4 on % 29; the oracle injects the identical
    * strings), which also exercises multi-class rows at the modulus
    * intersections. Output keeps the counts and an md5 of the redacted
    * text, proving both engines redacted byte-identically without hauling
    * full text through the compare. */
  def t20PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val seeded = Sources.documents(s, dir).withColumn("text",
      concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 17 === 0,
          concat(lit(" Contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 23 === 0,
          concat(lit(" Call 415-555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" today"))).otherwise(lit("")),
        when(col("doc_id") % 29 === 0,
          concat(lit(" Host 10."), (col("doc_id") % 256).cast("string"),
            lit(".0."), (col("doc_id") % 100).cast("string"),
            lit(" up"))).otherwise(lit(""))))
    // sort-LAST here, deliberately (the t21 sort-first fix was tried and
    // measured WORSE at sf10: 117 s vs 94 s): this query's filter keeps
    // ~13% of rows, so ordering last shuffles a narrow survivor table
    // while sort-first would shuffle every document's full text — the 2x
    // regex recompute from the range sampling costs less than 8x the
    // shuffle bytes. Sort-first wins only for row-preserving expensive
    // projections (t4/t5/t21/sim4/m1).
    ext.Pii.redactPii(seeded)
      .filter(col("n_emails") + col("n_phones") + col("n_ips") > 0)
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Unicode text normalization (NFC + lowercase + diacritic strip via the
    * native [[graft.functions.FoldText]], then explicit-class whitespace
    * collapse). Deterministic accent/case/whitespace dirt is injected
    * t20-style so the pass does real work on the driver corpus; md5 of the
    * normalized text proves byte-identical folding across engines. */
  def t21Normalize(s: SparkSession, dir: String): DataFrame = {
    // \uXXXX escapes keep the source pure ASCII (the build host's POSIX
    // locale must never get a chance to mis-decode the fixture bytes)
    val seeded = Sources.documents(s, dir).withColumn("text",
      concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 13 === 0,
          lit("  Caf\u00e9\tNA\u00cfVE   r\u00e9sum\u00e9 \u00dcBER " +
            "Z\u00fcrich\n\u00c9cole d\u00e9j\u00e0-vu  "))
          .otherwise(lit("")),
        when(col("doc_id") % 19 === 0,
          lit(" \u00c5ngstr\u00f6m Se\u00f1or Fa\u00e7ade CR\u00c8ME  " +
            "br\u00fbl\u00e9e "))
          .otherwise(lit(""))))
    // sort BEFORE the fold: the oracle's total order needs only doc_id,
    // which exists at the scan — ordering first makes the range
    // partitioner's sampling pass recompute the cheap scan instead of the
    // whole normalization (measured 41 s -> ~15 s at 5 M docs; the fold
    // runs once, post-exchange, still 32-way parallel, order preserved
    // through the projection)
    ext.TextOps.normalizeDocuments(seeded.orderBy("doc_id"))
      .select(col("doc_id"), md5(col("norm_text")).as("norm_md5"),
        col("raw_len"), col("norm_len"))
  }

  /** URL host extraction + per-domain stats — the read that feeds a
    * per-domain cap (t14) in a web-corpus pipeline. Deterministic URLs
    * injected t20-style; extraction is one Java/RE2-common regex (no
    * lookarounds — the t20 contract), identical text on both engines;
    * the per-host aggregate partial-combines to domain-cardinality rows.
    * Both engines return '' for a non-matching extract, so URL-less docs
    * filter identically. */
  def t24UrlHosts(s: SparkSession, dir: String): DataFrame = {
    val seeded = Sources.documents(s, dir).withColumn("text",
      concat(coalesce(col("text"), lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" see https://sub"), (col("doc_id") % 7).cast("string"),
            lit(".example"), (col("doc_id") % 5).cast("string"),
            lit(".com/p/a"), (col("doc_id") % 3).cast("string"),
            lit(" now"))).otherwise(lit(""))))
    seeded
      .withColumn("host", regexp_extract(col("text"), "https?://([^/ ]+)", 1))
      .filter(col("host") =!= "")
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("doc_id")).as("n_distinct_docs"))
      .withColumn("tld", regexp_extract(col("host"), "\\.([a-z0-9]+)$", 1))
      .orderBy("host")
  }

  /** Top-3 quality documents per source via the native bounded `top_k_by`
    * aggregate — a quality-ranked per-domain cap (RefinedWeb-style) with NO
    * per-source window sort: each map partition reduces to <= k pairs per
    * source before the shuffle (see [[graft.functions.TopKByScore]]).
    * Scores are tie-safe rounded BEFORE ranking so the (score desc, doc_id
    * asc) order is engine-stable. */
  def t14BestPerSource(s: SparkSession, dir: String): DataFrame =
    graft.functions.GraftFunctions.topKBy(
        ext.TextOps.withQualityScore(Sources.documents(s, dir))
          .withColumn("q", Num.cround(col("quality_score"), 6))
          .groupBy("source"), col("q"), col("doc_id"), 3)
      .select(col("source"), col("rank"), col("id").as("doc_id"),
        col("score").as("quality_score"))
      .orderBy("source", "rank")

  def m1MultimodalMeta(s: SparkSession, dir: String): DataFrame =
    // sort-first (both shapes measured at sf1.0/sf10): ordering the raw
    // docs first costs a payload-carrying exchange but runs the ImageIO
    // decode ONCE — measured faster at BOTH scales (1.5/26 s vs 3.4/37 s)
    // because the decode attempt, not the ~1 KB payload shuffle,
    // dominates; mapPartitions preserves the established order
    ext.Multimodal.decodeMeta(s,
      ext.Multimodal.asMediaTable(Sources.documents(s, dir).orderBy("doc_id")))
      .toDF

  /** Perceptual-hash near-dup pair join over a synthetic deterministic
    * (doc_id, phash) table (Multimodal.syntheticPhashSql — one formula,
    * both engine dialects). maxBits=4 makes nBands=5, which does NOT divide
    * 64, so the remainder band (the subtle pigeonhole edge) is on the
    * verified path; maxPerBucket=8 is below the hot every-23rd-doc bucket
    * size at sf0.01+, so the cap path is verified too. */
  def m2PhashPairs(s: SparkSession, dir: String): DataFrame = {
    val hashed = Sources.documents(s, dir).select(col("doc_id"),
      expr(ext.Multimodal.syntheticPhashSql(
        "div", (a, b) => s"($a ^ $b)",
        p => s"shiftleft(CAST(1 AS BIGINT), $p)")).as("phash"))
    ext.Multimodal.phashNearDupPairs(hashed, maxBits = 4, maxPerBucket = 8)
      .orderBy("doc_a", "doc_b")
  }

  /** Frame sampling over binary payloads (see
    * [[graft.ext.Multimodal.frameDigests]]): every 2nd 16-byte frame of
    * each payload as (frame_idx, length, digest) — the declarative,
    * codegen'd twin of the imperative sampleFrames chunker. */
  def m3FrameSample(s: SparkSession, dir: String): DataFrame =
    // sort-first (the t4/t21 layout): ordering the raw docs keeps the
    // range sampling off the hex+explode+md5 projection and the exchange
    // carries docs, not the ~32x frame explosion; explode then emits
    // frame_idx in array order, so (doc_id, frame_idx) stays globally
    // sorted with no trailing sort. Probed alpha fell 1.33 -> see
    // COVERAGE.md round-10 continuation.
    ext.Multimodal.frameDigests(
      ext.Multimodal.asMediaTable(Sources.documents(s, dir).orderBy("doc_id")))

  /** Audio-header metadata parse over opaque payloads (see
    * [[graft.ext.Multimodal.audioMeta]]): sample rate / channels / sample
    * width from the synthetic 4-byte header, duration from the real WAV
    * arithmetic — the audio sibling of m1's image decode, row-wise and
    * codegen'd (sort-first, the m1/m3 layout). */
  def m5AudioMeta(s: SparkSession, dir: String): DataFrame =
    ext.Multimodal.audioMeta(
      ext.Multimodal.asAudioTable(Sources.documents(s, dir).orderBy("doc_id")))

  /** Wilder's True Range + 14-row SMA Average True Range per symbol — the
    * volatility-channel primitive next to w15's Bollinger bands. TR needs
    * the previous close, so one lag over the shared symbol window, then a
    * single 14-row frame mean: the whole query is ONE symbol exchange. TR
    * is per-row arithmetic (round 6); ATR is a 14-term frame mean
    * (round 2, the w3/w15 aggregation contract; the frame order is the
    * window order, identical in both engines, but 2 dp absorbs any
    * accumulation-scheme ulp). */
  def w21Atr(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir) { df =>
      val withTr = df
        .withColumn("__pc", prevClose)
        .withColumn("tr", trueRange(col("__pc")))
      rounded(rounded(withTr
        .withColumn("atr14", avg("tr").over(w.rowsBetween(-13, 0)))
        .select("symbol", "date", "tr", "atr14"),
        Seq("tr"), 6), Seq("atr14"), 2)
    }

  /** Keltner channels (20, 2, 14) — EMA20 of the typical price
    * (high+low+close)/3 as the middle line, bands at ±2 × ATR14: the
    * volatility channel that pairs w15's Bollinger (stddev bands) with
    * w21's true-range machinery. Both kernels are the PROVEN ones: the
    * truncated adjust=true FIR EMA ([[graft.ops.Derive.fir]], shared
    * constants with the oracle — the w14 contract) and w21's TR/rolling
    * mean. Warm-up rows (rn < 20) hold NULL mid and bands, the w14
    * convention. Bands compute over RAW mid/atr and round at 2 (price
    * units); the ~1e-13 window-summation ulp sits far under the tie-safe
    * guard. One symbol exchange serves the lag, the FIR lags, the rank,
    * and the ATR frame. */
  def w23Keltner(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir) { df =>
      val withTr = df
        .withColumn("__tp", (col("high") + col("low") + col("close")) / 3)
        .withColumn("__pc", prevClose)
        .withColumn("__tr", trueRange(col("__pc")))
        .withColumn("__rn", row_number().over(w))
      rounded(withTr
        .withColumn("k_mid", fir(col("__tp"), 20, 20))
        .withColumn("__atr", avg("__tr").over(w.rowsBetween(-13, 0)))
        .withColumn("k_upper", col("k_mid") + lit(2.0) * col("__atr"))
        .withColumn("k_lower", col("k_mid") - lit(2.0) * col("__atr"))
        .select("symbol", "date", "k_mid", "k_upper", "k_lower"),
        Seq("k_mid", "k_upper", "k_lower"), 2)
    }

  /** Donchian channels (20) — completes the volatility-channel triple
    * (w15 Bollinger = stddev bands, w23 Keltner = ATR bands, Donchian =
    * the raw 20-day high/low envelope, the turtle-trader breakout rule).
    * Channel bounds are window MIN/MAX — order-independent and exact, so
    * only the midpoint (hi+lo)/2 needs the round-2 price convention.
    * Breakout flag compares close to the PRIOR row's channel (a breakout
    * must pierce a band built without today's bar); first rows carry NULL
    * flags. One symbol exchange serves both frames and the lags. */
  def w26Donchian(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir) { df =>
      val f20 = w.rowsBetween(-19, 0)
      val withC = df
        .withColumn("dc_high", max("high").over(f20))
        .withColumn("dc_low", min("low").over(f20))
        .withColumn("__ph", lag("dc_high", 1).over(w))
        .withColumn("__pl", lag("dc_low", 1).over(w))
      withC.select(col("symbol"), col("date"),
        Num.cround(col("dc_high"), 2).as("dc_high"),
        Num.cround(col("dc_low"), 2).as("dc_low"),
        Num.cround((col("dc_high") + col("dc_low")) / 2, 2).as("dc_mid"),
        when(col("__ph").isNull, lit(null).cast("int"))
          .otherwise(when(col("close") > col("__ph"), 1)
            .when(col("close") < col("__pl"), -1)
            .otherwise(0)).as("breakout"))
    }

  /** On-balance volume — the signed-volume running total. The direction
    * sign compares exact doubles (identical branches in both engines) and
    * everything summed is BIGINT volume, so the cumulative sum is exact
    * integer arithmetic — no rounding anywhere. One symbol exchange, one
    * running frame. */
  def w22Obv(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir) { df =>
      df.withColumn("__pc", prevClose)
        .withColumn("__sv",
          when(col("__pc").isNull, lit(0L))
            .when(col("close") > col("__pc"), col("volume"))
            .when(col("close") < col("__pc"), -col("volume"))
            .otherwise(lit(0L)))
        .withColumn("obv",
          sum("__sv").over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("symbol", "date", "obv")
    }

  /** Two-sample Welch's t between each symbol's first- and second-half
    * daily returns — the parametric drift companion to a18's distributional
    * KS test. Halves split on the date-ordered row number (first floor(n/2)
    * rows are half 1), then ONE (symbol, half) aggregate and a max-when
    * self-pivot back to one row per symbol; avg/var_samp follow the w16
    * cross-engine contract (tie-safe round 6). Symbols where either half
    * has < 2 returns, or both halves have zero variance, yield NULL t. The
    * Welch degrees-of-freedom renders with identical parenthesization on
    * both sides (the a16 raw-moment discipline). */
  def a20Ttest(s: SparkSession, dir: String): DataFrame = {
    val r = returns(s, dir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(bySymbol))
      .withColumn("half",
        when(col("rn") * 2 <= col("n"), lit(1)).otherwise(lit(2)))
    val byHalf = r.groupBy("symbol", "half")
      .agg(count(lit(1)).as("nh"), avg("r").as("m"), var_samp(col("r")).as("v"))
    val piv = byHalf.groupBy("symbol")
      .agg(
        max(when(col("half") === 1, col("nh"))).as("n1"),
        max(when(col("half") === 1, col("m"))).as("m1"),
        max(when(col("half") === 1, col("v"))).as("v1"),
        max(when(col("half") === 2, col("nh"))).as("n2"),
        max(when(col("half") === 2, col("m"))).as("m2"),
        max(when(col("half") === 2, col("v"))).as("v2"))
    val se2 = col("v1") / col("n1") + col("v2") / col("n2")
    rounded(piv.select(col("symbol"), col("n1"), col("n2"),
      when(col("v1").isNull || col("v2").isNull || se2 <= 0.0,
        lit(null).cast("double"))
        .otherwise((col("m1") - col("m2")) / sqrt(se2)).as("t_welch"),
      when(col("v1").isNull || col("v2").isNull || se2 <= 0.0,
        lit(null).cast("double"))
        .otherwise(se2 * se2 /
          (col("v1") / col("n1") * (col("v1") / col("n1")) / (col("n1") - 1) +
           col("v2") / col("n2") * (col("v2") / col("n2")) / (col("n2") - 1)))
        .as("df_welch")),
      Seq("t_welch", "df_welch"))
      .orderBy("symbol")
  }

  /** Benford first-digit audit on trade volume — observed digit frequencies
    * against the Benford expectation log10(1 + 1/d). The first digit comes
    * from the decimal string, never floor(log10(v)): IEEE log10 of an exact
    * power of 10 can land just below the integer and misclassify it, and
    * the two engines' libm need not err the same way. Counts are exact; the
    * frequency is exact-integer division; log10(1 + 1.0/d) runs on the same
    * nine doubles in both engines. Global 9-row output, one aggregate. */
  def a21Benford(s: SparkSession, dir: String): DataFrame = {
    val v = cleanedStock(s, dir).filter(col("volume") >= 1)
      .withColumn("digit",
        substring(col("volume").cast("string"), 1, 1).cast("int"))
    val tot = v.agg(count(lit(1)).as("__tot"))
    rounded(v.groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("__tot")).as("freq"),
        log10(lit(1.0) + lit(1.0) / col("digit")).as("benford")),
      Seq("freq", "benford"))
      .orderBy("digit")
  }

  /** Session bounce rate per day — sessionize by ev7's 30-minute-gap rule,
    * then single-event sessions over all sessions, keyed by session start
    * day. Rides the same one user_id exchange as the whole session family;
    * the per-day report is exact-integer division (round 6 is exact). The
    * tail is [[graft.streaming.StreamingBounce.fromSessions]] — the same
    * fold the session_window stream twin runs. */
  def ev17BounceRate(s: SparkSession, dir: String): DataFrame =
    streaming.StreamingBounce.fromSessions(Events.sessions(Sources.events(s, dir)))

  /** Weekly-cohort revenue triangle — users cohorted by their first event
    * week, purchase value summed per (cohort_week, week_index): the LTV
    * matrix growth teams read down the diagonal. Shape at scale: ONE
    * user-keyed aggregate derives the cohort key and the purchase join
    * rides the same user_id exchange; everything after is
    * (cohorts x weeks)-sized. Revenue sums as DECIMAL(38,6) of tie-safe
    * pre-rounded terms (the ev16 associative-sum contract), so distributed
    * summation order can't move a cent, then casts back to double. */
  def ev18CohortValue(s: SparkSession, dir: String): DataFrame = {
    val ev = Sources.events(s, dir)
    val cohort = ev.groupBy("user_id")
      .agg(Events.week(min(col("ts"))).as("cohort_week"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .withColumn("week_index",
        Events.weekIndex(Events.week(col("ts")), col("cohort_week")))
    p.groupBy("cohort_week", "week_index")
      .agg(count(lit(1)).as("n_purchases"),
        countDistinct(col("user_id")).as("n_buyers"),
        sum(Num.cround(col("value"), 6).cast("decimal(38,6)"))
          .cast("double").as("revenue"))
      .orderBy("cohort_week", "week_index")
  }

  /** Canonical-URL duplicate election — the web-curation dedup that folds
    * ?utm_* and #fragment variants (and host-case variants) of one page
    * into one canonical row. URLs are seeded deterministically (the t24
    * idiom — the corpus lacks a url column), canonicalized by lowercasing
    * scheme+host and stripping query+fragment, then each canonical group
    * elects min(doc_id) and reports its variant counts. ONE exchange on
    * the canonical key; the regexes are single-pass scans. */
  def d14UrlDedup(s: SparkSession, dir: String): DataFrame = {
    val urled = Sources.documents(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 2 === 0, lit("https://")).otherwise(lit("HTTPS://")),
        when(col("doc_id") % 4 < 2, lit("News.Example")).otherwise(lit("news.example")),
        (col("doc_id") % 5).cast("string"),
        lit(".com/article/a"), (col("doc_id") % 13).cast("string"),
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=s"), (col("doc_id") % 7).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0, lit("#top")).otherwise(lit(""))).as("url"))
    urled.withColumn("canonical_url",
      concat(lower(regexp_extract(col("url"), "^([a-zA-Z]+://[^/?#]+)", 1)),
        regexp_extract(col("url"), "^[a-zA-Z]+://[^/?#]+([^?#]*)", 1)))
      .groupBy("canonical_url")
      .agg(min("doc_id").as("canonical_doc"),
        count(lit(1)).as("n_variants"),
        countDistinct(col("url")).as("n_distinct_urls"))
      .filter(col("n_variants") > 1)
      .orderBy("canonical_url")
  }

  /** Flesch-style readability proxy per document — words/sentence and
    * chars/word (the syllable stand-in: no dictionary lookup survives
    * 100 TB) composed into the classic 206.835 linear form. All counts use
    * regexp/split primitives with proven cross-engine twins (the t3
    * contract); the score is per-row arithmetic, round 6. One scan, no
    * shuffle before the output sort. */
  def t32Readability(s: SparkSession, dir: String): DataFrame = {
    val d = Sources.documents(s, dir)
      .withColumn("n_words", ext.TextOps.wordCount(col("text")))
      .withColumn("n_sentences",
        greatest(lit(1), regexp_count(col("text"), lit("[.!?]"))))
      .withColumn("n_letter_chars",
        length(regexp_replace(col("text"), "\\s", "")))
    rounded(d.select(col("doc_id"), col("n_words"), col("n_sentences"),
      (lit(206.835)
        - lit(1.015) * (col("n_words").cast("double") / col("n_sentences"))
        - lit(84.6) * (col("n_letter_chars").cast("double") / col("n_words") / lit(3.0)))
        .as("flesch_proxy")),
      Seq("flesch_proxy"))
      .orderBy("doc_id")
  }

  /** Linear-interpolation imputation over the x14 daily spine — the
    * training-data gap treatment when forward-fill's step function is too
    * crude (sensor/price series): each missing day takes
    * `prev + (next - prev) * elapsed/gap`. The bracketing known points
    * come from two RUNNING `last(ignoreNulls)` frames — ascending for the
    * previous, DESCENDING for the next — over ONE symbol exchange (two
    * in-partition sorts, the j10 shape). Never `[current, unbounded
    * following]`: Spark's UnboundedFollowing frame recomputes the
    * aggregate per row — O(rows²) per partition, measured 55 s at sf0.1
    * where this form runs in the w-family band. Spine endpoints are
    * always known (the spine spans min..max of known dates) so the
    * bracket never dangles. Per-row arithmetic on identical doubles,
    * round 6. */
  def x15Interpolate(s: SparkSession, dir: String): DataFrame = {
    val wb = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = bySymbolDateDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dailySpine(s, dir)
      .withColumn("pv", last("close", ignoreNulls = true).over(wb))
      .withColumn("pd", last(when(col("close").isNotNull, col("date")),
        ignoreNulls = true).over(wb))
      .withColumn("nv", last("close", ignoreNulls = true).over(wf))
      .withColumn("nd", last(when(col("close").isNotNull, col("date")),
        ignoreNulls = true).over(wf))
      .withColumn("interp_close", Num.cround(
        when(col("close").isNotNull, col("close"))
          .otherwise(col("pv") + (col("nv") - col("pv"))
            * (datediff(col("date"), col("pd")).cast("double")
               / datediff(col("nd"), col("pd")))), 6))
      .withColumn("is_imputed", col("close").isNull)
      .select("symbol", "date", "interp_close", "is_imputed")
      .orderBy("symbol", "date")
  }

  /** Session-duration distribution per day — p50/p90/mean seconds over
    * ev7's 30-minute-gap sessions. Durations are exact integer seconds
    * (floor-epoch diffs), percentiles are the a5-proven exact
    * `percentile` == `quantile_cont` contract, the mean rounds at 2. */
  def ev19SessionDuration(s: SparkSession, dir: String): DataFrame =
    streaming.StreamingBounce.fromSessionDurations(
      Events.sessions(Sources.events(s, dir)))

  /** PageRank over the synthetic host link graph (damping 0.85, 10 power
    * iterations) — the graph-analytics companion to d6's label
    * propagation. Links are seeded deterministically from doc_ids (13
    * hosts, the d14/t24 idiom); the ONLY corpus-sized work is the one
    * edge-count aggregate — the iteration is
    * [[graft.analytics.Graph.pagerank]] (distributed join form, rank
    * vector broadcast per step; see its scaladoc for the shape and
    * cross-engine rounding argument). Every host has out-links by
    * construction (all 13 residues occur), so no dangling-mass leak. */
  def g1Pagerank(s: SparkSession, dir: String): DataFrame = {
    // edge projection shared verbatim with the streaming twin
    // (StreamingGraph.toEdgeEvents — the ev20 one-code-path invariant)
    val links = streaming.StreamingGraph.toEdgeEvents(
      Sources.documents(s, dir))
    analytics.Graph.pagerank(links)
  }

  /** Character-trigram entropy per document (first 256 chars) — the
    * gibberish/boilerplate detector next to t8's token repetition: random
    * noise maxes the entropy, templated boilerplate craters it.
    *
    * Shape: ZERO shuffles — the per-doc trigram set is bounded (<= 254),
    * so frequencies come from run lengths of the SORTED in-row trigram
    * array (boundary indices via a guarded position scan, counts via
    * zip_with against the shifted boundaries) and the entropy reduces
    * in-row. The first form shuffled the 254x explode into a
    * (doc_id, tri) groupBy — ~500M intermediate rows at sf10, page-
    * allocation stalls, 210 s passes; this form follows bytes. Entropy
    * sums <= 254 terms in sorted order (the oracle sums them in its own
    * order — noise ~1e-14, far under round 6); the p*ln(p) terms are
    * identical doubles from exact-integer divisions. */
  def t33TrigramEntropy(s: SparkSession, dir: String): DataFrame = {
    val d = Sources.documents(s, dir)
      .select(col("doc_id"), lower(substring(col("text"), 1, 256)).as("t"))
      .filter(length(col("t")) >= 3)
    val arr = d
      .withColumn("tris", array_sort(expr(
        "transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))")))
      .withColumn("n", size(col("tris")))
      // 1-based start index of each run; the j=1 branch guards the
      // element_at(j-1) lookup (CaseWhen evaluates branches lazily)
      .withColumn("starts", filter(
        transform(sequence(lit(1), col("n")), j =>
          when(j === 1, j)
            .when(element_at(col("tris"), j) =!=
              element_at(col("tris"), j - 1), j)
            .otherwise(lit(0))),
        x => x =!= 0))
      .withColumn("counts", zip_with(
        col("starts"),
        concat(slice(col("starts"), lit(2), size(col("starts")) - 1),
          array(col("n") + 1)),
        (st, en) => en - st))
    val p = (c: Column) => c.cast("double") / col("n")
    rounded(arr.select(col("doc_id"),
      col("n").cast("long").as("n_trigrams"),
      size(col("starts")).cast("long").as("distinct_trigrams"),
      (-aggregate(col("counts"), lit(0.0),
        (acc, c) => acc + p(c) * log(p(c))) / log(lit(2.0)))
        .as("trigram_entropy_bits")),
      Seq("trigram_entropy_bits"))
      .orderBy("doc_id")
  }

  /** Per-symbol OLS time trend — slope/intercept/R² of close regressed on
    * the epoch-day index, the drift readout under a20's t-test. ONE hash
    * aggregate per symbol; slope and R2 follow the w16 co-moment contract
    * (round 6). The intercept rounds at 2 (the a13 regr_intercept
    * convention): it is avg - slope*avg(x) at ~1e5 magnitude — a
    * big-number cancellation whose co-moment ulps exceed 1e-6 (found at
    * the synthesized sf1.0: 3 of 200k symbols diverged at round 6).
    * Single-day symbols yield NULLs. A constant-close symbol (>=2 rows,
    * zero close variance) yields NULL r2: Spark's corr returns NaN on a
    * zero-variance argument where DuckDB's CORR returns NULL — the same
    * latent 0/0 divergence a20 guards with its se2 <= 0 branch (round-12
    * ADVICE), so the var_samp gate maps both engines to NULL. */
  def a22OlsTrend(s: SparkSession, dir: String): DataFrame = {
    val d = bars(s, dir)
      .withColumn("x", Events.epochDay(col("date")).cast("double"))
    val slope = covar_samp(col("x"), col("close")) / var_samp(col("x"))
    rounded(rounded(d.groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
        slope.as("slope"),
        (avg(col("close")) - slope * avg(col("x"))).as("intercept"),
        when(var_samp(col("close")) === 0, lit(null).cast("double"))
          .otherwise(corr(col("x"), col("close")) *
            corr(col("x"), col("close")))
          .as("r2")),
      Seq("slope", "r2")), Seq("intercept"), 2)
      .orderBy("symbol")
  }

  /** Gini coefficient of per-symbol volume concentration — the market
    * (or corpus-source) inequality read: 0 = every symbol trades the same
    * total volume, →1 = one symbol holds it all. Computed by the sorted
    * rank-sum identity G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over ascending
    * totals (rank ties in x are sum-invariant; the symbol tiebreak only
    * pins per-row determinism).
    *
    * Shape: the corpus reduces through ONE per-symbol aggregate; the rank
    * window runs over the aggregated ENTITY frame (symbols, not rows —
    * the ev8 windows-over-aggregates rule). Every product and sum is
    * exact integer arithmetic (Σ i·x ≲ 1e15 at sf10, well under 2^53 and
    * 2^63 — the double conversion in the final ratio is exact; a sf100+
    * deployment would move the rank-sum to DECIMAL). */
  def a23Gini(s: SparkSession, dir: String): DataFrame = {
    val v = cleanedStock(s, dir)
      .groupBy("symbol").agg(sum("volume").as("x"))
    val ranked = v.withColumn("i",
      row_number().over(Window.orderBy("x", "symbol")))
    ranked
      .agg(count(lit(1)).as("n"), sum("x").as("t"),
        sum(col("i").cast("long") * col("x")).as("s"))
      .select(col("n").as("n_symbols"), col("t").as("total_volume"),
        Num.cround((lit(2.0) * col("s")) / (col("n") * col("t"))
          - (col("n") + lit(1.0)) / col("n"), 6).as("gini"))
  }

  /** Population stability index of the close-price distribution — first
    * half of the corpus's date range vs the second (the feature-drift
    * monitor an ML platform schedules per feature before retraining:
    * PSI < 0.1 stable, < 0.2 moderate, else shifted). 10 equal-width
    * buckets over the global range (the a15 bucket idiom, LEAST-capped
    * top edge, flat-range guard); zero shares floor at the industry
    * 0.0001 so empty buckets contribute finitely; PSI sums 10 exact
    * per-bucket terms (ln agrees cross-engine to 1 ulp — t22), tie-safe
    * round 6, and the drift level branches on the ROUNDED value so the
    * label can never straddle an ulp.
    *
    * Shape: two corpus aggregates (global extents; per-(period, bucket)
    * counts, map-side combined to ≤ 20 rows) — everything downstream is
    * the 20-row grid. Degenerate single-day corpora put every row in
    * period 'a' and the report carries NULLs (n_b, psi, AND drift_level —
    * the label CASE guards NULL psi explicitly so neither engine's falsy
    * NULL-comparison chain can mislabel it 'shifted'). */
  def a24Psi(s: SparkSession, dir: String): DataFrame = {
    val d = cleanedStock(s, dir).select(col("date"), col("close"))
    val ext = d.agg(min("date").as("dmn"), max("date").as("dmx"),
      min("close").as("cmn"), max("close").as("cmx"))
    val pb = d.crossJoin(broadcast(ext))
      .withColumn("period", when(col("date") <= date_add(col("dmn"),
        floor(datediff(col("dmx"), col("dmn")) / 2).cast("int")), lit("a"))
        .otherwise(lit("b")))
      .withColumn("bucket", when(col("cmx") === col("cmn"), lit(0))
        .otherwise(least(lit(9), floor((col("close") - col("cmn"))
          / ((col("cmx") - col("cmn")) / 10))).cast("int")))
    val cnt = pb.groupBy("period", "bucket").agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("period").agg(sum("n").as("t"))
    val grid = s.range(10).withColumnRenamed("id", "bucket")
      .select(col("bucket"), explode(array(lit("a"), lit("b"))).as("period"))
    val sh = grid
      .join(cnt, Seq("period", "bucket"), "left")
      .join(tot, "period")
      .withColumn("sh", greatest(
        coalesce(col("n"), lit(0L)).cast("double") / col("t"), lit(0.0001)))
    val ab = sh.groupBy("bucket").agg(
      max(when(col("period") === "a", col("sh"))).as("p"),
      max(when(col("period") === "b", col("sh"))).as("q"))
    val psi = ab.agg(Num.cround(
      sum((col("p") - col("q")) * log(col("p") / col("q"))), 6).as("psi"))
    val nPer = tot.agg(
      max(when(col("period") === "a", col("t"))).as("n_a"),
      max(when(col("period") === "b", col("t"))).as("n_b"))
    psi.crossJoin(broadcast(nPer))
      .select(col("n_a"), col("n_b"), col("psi"),
        when(col("psi").isNull, lit(null).cast("string"))
          .when(col("psi") < 0.1, lit("stable"))
          .when(col("psi") < 0.2, lit("moderate"))
          .otherwise(lit("shifted")).as("drift_level"))
  }

  /** Stochastic oscillator %K / %D — close's position inside the 14-row
    * high-low channel, %D its 3-row SMA. The channel bounds are window
    * MIN/MAX (order-independent, exact), so %K is per-row arithmetic on
    * identical doubles (round 6); %D is a 3-term frame mean (round 2, the
    * w3 contract; AVG skips the flat-channel NULLs identically in both
    * engines). One symbol exchange, two materialized frame aggregates
    * (the w15 ExtractWindowExpressions lesson). */
  def w24Stochastic(s: SparkSession, dir: String): DataFrame =
    windowQuery(s, dir) { df =>
      val f14 = w.rowsBetween(-13, 0)
      val lo = col("__lo"); val hi = col("__hi")
      rounded(rounded(df
        .withColumn("__lo", min("low").over(f14))
        .withColumn("__hi", max("high").over(f14))
        .withColumn("pct_k",
          when(hi === lo, lit(null).cast("double"))
            .otherwise(lit(100.0) * (col("close") - lo) / (hi - lo)))
        .withColumn("pct_d", avg("pct_k").over(w.rowsBetween(-2, 0)))
        .select("symbol", "date", "pct_k", "pct_d"),
        Seq("pct_k"), 6), Seq("pct_d"), 2)
    }

  /** Stationary distribution of the ev6 event-transition kernel — where a
    * long-running user session spends its time, the Markov companion to
    * ev6's one-step matrix. The ONLY corpus-sized work is the one
    * transition-count aggregate (ev6's); the power iteration is
    * [[graft.analytics.Transitions.stationaryDistribution]] (single-row
    * HOF form, shared verbatim with the streaming twin — see its
    * scaladoc for the shape and cross-engine argument). The fixture's
    * kernel is proper (every observed state has outgoing transitions),
    * so mass is conserved without a dangling term. */
  def ev20MarkovStationary(s: SparkSession, dir: String): DataFrame =
    analytics.Transitions.stationaryDistribution(
      Events.transitionCounts(Sources.events(s, dir))
        .filter(col("prev_type").isNotNull))

  /** Weekly OHLC resample — the classic bar-downsampling transform (daily
    * -> weekly candles): first open / max high / min low / last close per
    * (symbol, ISO week), volume summed. ONE hash aggregate; the
    * first/last selections are arg-aggregates on the unique (symbol,
    * date) key (the a6 min_by/arg_min contract), never a window sort.
    * high/low/volume are exact; open/close round 2 (multi-source doubles
    * through arg selection, the a6 scale). */
  def w25WeeklyOhlc(s: SparkSession, dir: String): DataFrame =
    rounded(bars(s, dir)
      .groupBy(col("symbol"),
        date_trunc("week", col("date")).cast("date").as("week"))
      .agg(
        min_by(col("open"), col("date")).as("w_open"),
        max(col("high")).as("w_high"),
        min(col("low")).as("w_low"),
        max_by(col("close"), col("date")).as("w_close"),
        sum(col("volume")).as("w_volume"),
        count(lit(1)).as("n_days")),
      Seq("w_open", "w_high", "w_low", "w_close"), 2)
      .orderBy("symbol", "week")

  /** Per-host triangle participation over the g1 link graph — the local
    * clustering signal (spam/link-farm detection reads it) and the second
    * operator of the graph family. Edges canonicalize to undirected
    * (a < b) pairs; triangles come from two equi-joins with the
    * orderly a < b < c constraint (each triangle counted once), then
    * per-node participation via one explode. Everything after the one
    * corpus-sized edge aggregate is bounded by the host graph. */
  def g2Triangles(s: SparkSession, dir: String): DataFrame = {
    // two link targets per doc (affine + quadratic residue): g1's single
    // functional target yields a triangle-free cycle — this graph has 23
    // undirected edges and exactly 4 triangles over the 13 hosts. It is
    // g4's edge projection.
    val links = streaming.StreamingGraph.toHitsEdgeEvents(Sources.documents(s, dir))
    val und = Materialize(links.select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct())
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .join(und.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("host"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("host")
  }

  /** Connected components over a 40-host link graph with PLANTED
    * components — the mirror-farm / site-family detector next to g1's
    * rank and g2's clustering signal (components group hosts that
    * interlink at all; the d6 duplicate-cluster idiom lifted to the host
    * graph). Links are seeded deterministically from doc_ids with every
    * edge step a multiple of 4, so hosts partition into the 4 residue
    * classes mod 4 by construction — the min-label propagation
    * ([[graft.analytics.Graph.connectedComponents]], capped at 10 rounds
    * >= the within-class diameter, stopping at the fixpoint) must recover
    * exactly those classes. Each class is a complete graph, so round 1
    * labels every host and round 2 changes nothing. Corpus pays one
    * distinct-edge aggregate; every round runs on the bounded host graph.
    * Labels are strings; the whole query is float-free. */
  def g3Components(s: SparkSession, dir: String): DataFrame =
    // edge projection shared verbatim with the streaming twin (the g1
    // one-code-path invariant)
    analytics.Graph.connectedComponents(
      streaming.StreamingGraph.toComponentEdgeEvents(
        Sources.documents(s, dir)))

  /** HITS hubs-and-authorities over the g2 two-target host graph (the
    * richer directed shape — g1's single-target graph is a functional
    * cycle where hub==authority by symmetry). 10 mutual-reinforcement
    * rounds, L1-normalized per half, tie-safe round 12 per step
    * ([[graft.analytics.Graph.hits]]; the oracle unrolls identical
    * iterations). The read: high-authority hosts are linked BY many good
    * hubs (canonical sources), high-hub hosts link TO many good
    * authorities (directories/aggregators) — PageRank's one score can't
    * separate the two roles. */
  def g4Hits(s: SparkSession, dir: String): DataFrame =
    analytics.Graph.hits(
      streaming.StreamingGraph.toHitsEdgeEvents(Sources.documents(s, dir)))

  /** First BPE merge iteration — corpus-weighted adjacent character-pair
    * counts (Sennrich et al. 2016's trainer computes exactly this table
    * before each merge; this is merge 0 over raw words). The
    * tokenizer-training prep next to t11's word vocabulary and t27's
    * word-bigram collocations: the top pair is the first merge a BPE
    * vocabulary would learn on this corpus.
    *
    * Shape at 100 TB: the CORPUS pays exactly one word-count aggregate
    * (map-side combined) — the pair explode then runs over the DISTINCT
    * word VOCABULARY (Heaps-law sublinear in the corpus), weighted by the
    * word counts, and the pair aggregate partial-combines into a table
    * bounded by |charset|². Top-30 is a TakeOrderedAndProject with the
    * pair itself as the deterministic tiebreak. Repeated pairs inside a
    * word count once per occurrence ("aaa" contributes "aa" twice per
    * word occurrence), exactly as BPE counts; n_vocab_words counts
    * DISTINCT words containing the pair (array_distinct before the second
    * vocab-sized explode — never a count-distinct Expand). Exact integers
    * end to end. */
  def t34BpePairs(s: SparkSession, dir: String): DataFrame = {
    val wp = ext.TextOps.bpeWords(Sources.documents(s, dir))
      .withColumn("pairs", expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
    val counts = wp.select(col("wc"), explode(col("pairs")).as("pair"))
      .groupBy("pair").agg(sum("wc").as("pair_count"))
    val dfreq = wp.select(explode(array_distinct(col("pairs"))).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_vocab_words"))
    counts.join(dfreq, "pair")
      .orderBy(col("pair_count").desc, col("pair").asc)
      .limit(30)
  }

  /** Iterated BPE merge TRAINING — t34 gave merge 0's candidate table;
    * this runs Sennrich et al. 2016's actual loop
    * ([[ext.TextOps.bpeStates]]) for [[ext.TextOps.BpeRounds]] rounds:
    * count corpus-weighted adjacent symbol pairs, merge the most frequent
    * pair everywhere, re-pair, repeat. The output is the learned merge
    * list in order — the artifact a tokenizer trainer ships — read off
    * each round's merged-vocab checkpoint, which carries its winning pair.
    *
    * Shape at 100 TB (the sim21/ev24 training-as-relational-dataflow
    * contract): the CORPUS pays exactly one word-count aggregate before
    * round 1; every round after that runs on the DISTINCT word VOCABULARY,
    * materialized once per round so the 8-round lineage stays flat (the
    * g4 half-round lesson). Exact integers end to end; the oracle unrolls
    * identical rounds as CTEs (bpeIterCtes). */
  def t35BpeTrain(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.bpeStates(Sources.documents(s, dir)).zipWithIndex.tail
      .map { case (vocab, r) =>
        vocab.limit(1).select(lit(r).as("round"), col("left_sym"),
          col("right_sym"), col("pair_count"))
      }
      .reduce(_ union _)
      .withColumn("merged", concat(col("left_sym"), col("right_sym")))
      .select("round", "left_sym", "right_sym", "merged", "pair_count")
      .orderBy("round")

  /** BPE compression curve — the metric a tokenizer trainer actually
    * watches while t35 learns its merges: after each merge round, how
    * many symbols does the corpus tokenize into, and how large has the
    * symbol alphabet grown? (Vocab-size selection reads exactly this
    * curve — train until the marginal merge stops buying compression.)
    * Rounds are the SAME loop as t35 ([[ext.TextOps.bpeStates]]: same
    * tops, same vocab states — the two queries must agree or one of them
    * lies); per state the stats are two aggregates over the
    * marked-vocabulary frame: corpus_tokens = SUM(wc x symbols-per-word) —
    * exact, counts every word occurrence — and distinct_symbols = the live
    * alphabet size. Round 0 is the pre-merge character baseline. Corpus
    * cost: the one word-count aggregate t35 pays; everything else is
    * vocab-frame work (Heaps-sublinear), and the oracle unrolls identical
    * stats CTEs over bpeIterCtes' vocab states. */
  def t36BpeCompression(s: SparkSession, dir: String): DataFrame =
    ext.TextOps.bpeStates(Sources.documents(s, dir)).zipWithIndex
      .map { case (vocab, round) =>
        val syms = vocab.select(col("wc"),
          split(expr("substring(sw, 2, length(sw) - 2)"), "><").as("syms"))
        val tok = syms.agg(
          sum(col("wc") * size(col("syms"))).as("corpus_tokens"))
        val alpha = syms.select(explode(col("syms")).as("sym"))
          .agg(countDistinct(col("sym")).as("distinct_symbols"))
        tok.crossJoin(broadcast(alpha))
          .select(lit(round).as("round"), col("corpus_tokens"),
            col("distinct_symbols"))
      }
      .reduce(_ union _).orderBy("round")

  /** Inter-arrival cadence per event type — per-user gaps between
    * consecutive events of the SAME type, reduced to p50/p90/mean
    * seconds: the engagement-frequency read behind ev14's stickiness
    * ratio (how often does a returning user view vs purchase?), and the
    * rate table a capacity planner reads next to ev8's volume anomalies.
    *
    * One exchange on (user_id, event_type) serves the lag; the gaps then
    * reduce to the (event_type, gap_sec) HISTOGRAM (bounded by types ×
    * distinct integer gap widths — the shape the streaming twin keeps as
    * state), and the report is
    * [[graft.streaming.StreamingInterarrival.fold]], shared verbatim with
    * the twin: frequency-weighted percentile == raw-multiset percentile.
    * Gaps are exact integer seconds (the ev19 FLOOR-epoch contract,
    * same-instant rows tie-broken by event_id); percentile ==
    * quantile_cont (the a5 contract), rounded 6, mean rounded 2. */
  def ev22Interarrival(s: SparkSession, dir: String): DataFrame = {
    val gaps = Sources.events(s, dir)
      .withColumn("prev_ts", lag("ts", 1).over(Events.byUserType))
      .filter(col("prev_ts").isNotNull)
      .select(col("event_type"), Events.gapSec(col("prev_ts")).as("gap_sec"))
    streaming.StreamingInterarrival.fold(Events.gapHistogram(gaps))
  }

  /** Cross-table fuzzy record linkage — entity resolution between the
    * part catalog and a deterministically-dirtied twin (dropped last
    * token / replaced first token / unchanged, by key residue): the
    * blocking-then-verify ER shape d10 runs WITHIN one table, here across
    * two. Blocking keys on the second name token (untouched by both dirt
    * patterns — blocking-key choice is domain knowledge), with a 64-row
    * per-block cap on EACH side (TPC-H's ~92-word p_name vocabulary makes
    * uncapped blocks quadratic — the d2 hot-bucket discipline); the
    * verify is token-set Jaccard >= 0.5 on the tie-safe-ROUNDED ratio
    * (exact-integer division, the d8 convention). */
  def j11FuzzyLinkage(s: SparkSession, dir: String): DataFrame = {
    // entity name = name + type + brand (4 tokens on this corpus — p_name
    // alone is 2, too thin for meaningful Jaccard); the last-token class
    // is [^ ]+ because brand tokens contain '#'
    val part = Sources.table(s, dir, "part")
      .select(col("p_partkey"), lower(concat_ws(" ",
        col("p_name"), col("p_type"), col("p_brand"))).as("name"))
    val catalog = part.select(col("p_partkey").as("catalog_id"),
      when(col("p_partkey") % 3 === 0,
        regexp_replace(col("name"), " [^ ]+$", ""))
        .when(col("p_partkey") % 3 === 1,
          regexp_replace(col("name"), "^[a-z]+", "unknown"))
        .otherwise(col("name")).as("cname"))
    def bkey(c: Column): Column = split(c, " ").getItem(1)
    val pB = part.withColumn("bk", bkey(col("name")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("bk").orderBy("p_partkey")))
      .filter(col("rn") <= 64).drop("rn")
    val cB = catalog.withColumn("bk", bkey(col("cname")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("bk").orderBy("catalog_id")))
      .filter(col("rn") <= 64).drop("rn")
    val ta = array_distinct(split(col("name"), " "))
    val tb = array_distinct(split(col("cname"), " "))
    pB.join(cB, "bk")
      .withColumn("jaccard", Num.cround(
        size(array_intersect(ta, tb)).cast("double")
          / size(array_union(ta, tb)), 6))
      .filter(col("jaccard") >= 0.5)
      .select("p_partkey", "catalog_id", "jaccard")
      .orderBy("p_partkey", "catalog_id")
  }

  /** Learned RFM segments — ev10's features under an embedded k-means
    * training loop instead of rule buckets (see
    * [[graft.analytics.Segments.rfmSegments]]: md5 seed centroids, three
    * tie-safe Lloyd rounds mirrored by the oracle's unrolled CTEs — the
    * sim21 "training as relational dataflow" contract on the events
    * surface). */
  def ev24RfmSegments(s: SparkSession, dir: String): DataFrame =
    analytics.Segments.rfmSegments(Sources.events(s, dir))

  /** Markov removal-effect attribution — the data-driven multi-touch
    * model next to ev16's last-touch ledger: each non-conversion channel
    * is credited by how much finite-horizon conversion probability the
    * journey chain loses when that channel is removed (see
    * [[graft.analytics.Transitions.removalAttribution]] for the model,
    * the ev20 in-row iteration shape, and the round-12 lockstep). */
  def ev23MarkovAttribution(s: SparkSession, dir: String): DataFrame =
    analytics.Transitions.removalAttribution(Sources.events(s, dir))

  /** Weekly growth accounting — new / retained / resurrected / churned
    * users per week (see [[graft.analytics.Lifecycle.growthAccounting]]);
    * the "quality of growth" decomposition next to ev5's triangle. */
  def ev21GrowthAccounting(s: SparkSession, dir: String): DataFrame =
    analytics.Lifecycle.growthAccounting(Sources.events(s, dir))

  /** ANN recall observability as a FIRST-CLASS query — recall@5 of the
    * three approximate retrieval tiers (sim2 LSH, sim6 multiprobe, sim3
    * IVF) against sim1's brute-force truth, the production health check a
    * vector platform schedules next to its index builds (COVERAGE.md
    * rounds 9-10 hold the full per-config recall sweep; this is the
    * operator). Truth materializes once
    * and broadcasts into three left-semi membership joins; each report row
    * is exact-integer division. Cost is the three index scans it measures
    * — the observability is as cheap as the thing observed.
    *
    * Every tier retrieves at the SAME k=5 as the brute-force truth (the
    * registered sim2/sim6/sim3 queries run their default k=3 — a
    * health-check at k<k_truth would cap the metric at k/k_truth even
    * under perfect retrieval and read as permanently degraded recall). */
  def sim20Recall(s: SparkSession, dir: String): DataFrame =
    recallReport(s, dir, queryCap = Long.MaxValue)

  /** sim20's PRODUCTION shape, registered as sim22 (r11 verdict item #3 —
    * the sim17/e4 fixed-query-batch recipe): the recall health check runs
    * over the FIXED query batch vec_id ≡ 0 (mod 100) below 2000, which
    * stops growing once the corpus passes the driver's sf0.1 size — so the
    * brute-force truth scan and every tier it measures are LINEAR in the
    * corpus, the regime a vector platform's scheduled recall monitor
    * actually runs. sim20's corpus-growing queryMod sample inherits sim1's
    * declared-quadratic probe regime; this is the shape with clean decade
    * alphas. */
  def sim22RecallBatch(s: SparkSession, dir: String): DataFrame =
    recallReport(s, dir, queryCap = 2000L)

  /** PQ codebook-configuration scorecard as a FIRST-CLASS query (r11
    * verdict item #4): [[graft.ext.Similarity.pqConfigScorecard]]'s
    * measured selection, registered so a production pipeline can read the
    * decision the way sim20/sim22 expose recall. Each candidate
    * configuration runs the SAME IVF routing / code budget / shortlist /
    * exact-rerank stack over the FIXED vec_id < 2000 query batch; recall@5
    * scores against the brute-force truth on that batch; the winner flag
    * ([[graft.ext.Similarity.flagWinner]]) breaks ties toward the CHEAPER
    * config in build-cost order (fixed < learned < residual).
    *
    * Scope: the three RELATIONAL codebook families carry measured scores
    * (gate = 'oracle' — the cross-engine hash verifies them). The fourth
    * configuration (OPQ) trains its rotation through a driver-side
    * eigendecomposition — the one computation no SQL oracle can express —
    * so it appears as a DOCUMENTED-EXCLUSION row (r12 verdict item #5):
    * config 'opq' with NULL scores and gate naming the ScalaTest suite
    * that measures it (ExtSpec scores it through the same recall kernel
    * on both recall fixtures). A pipeline reading this scorecard sees all
    * FOUR candidates with provenance explicit, and the oracle gate still
    * verifies everything it can express. */
  def sim21CodebookSelector(s: SparkSession, dir: String): DataFrame = {
    // the three candidate stacks and the truth scan all consume the same
    // corpus — checkpoint it once instead of re-reading parquet per stack
    val emb = Materialize(Sources.embeddings(s, dir))
    val scored = ext.Similarity.flagWinner(
        ext.Similarity.pqConfigScorecard(emb, ext.Similarity.ivfAnchors(s)))
      .withColumn("gate", lit("oracle"))
    val opqRow = s.range(1).select(
      lit("opq").as("config"), lit(3).as("build_cost"),
      lit(null).cast("long").as("hits"),
      lit(null).cast("long").as("n_truth"),
      lit(null).cast("double").as("recall_at_5"),
      lit(false).as("is_winner"),
      lit("ExtSpec: opq rotation trains driver-side (eigendecomposition), no SQL oracle")
        .as("gate"))
    scored.unionByName(opqRow).orderBy("config")
  }

  private def recallReport(s: SparkSession, dir: String,
                           queryCap: Long): DataFrame = {
    val emb = Sources.embeddings(s, dir)
    val truth = Materialize(
      ext.Similarity.bruteForceTopK(emb, queryCap = queryCap)
        .select("query_id", "vec_id"))
    def report(method: String, approx: DataFrame): DataFrame =
      ext.Similarity.recall(truth, approx)
        .select(lit(method).as("method"), col("hits"), col("n_truth"),
          col("recall").as("recall_at_5"))
    report("lsh",
        ext.Similarity.lshTopK(emb, ext.Similarity.planes(s), k = 5,
          queryCap = queryCap))
      .unionByName(report("lsh_multiprobe",
        ext.Similarity.lshTopKMultiProbe(emb, ext.Similarity.planes(s),
          k = 5, queryCap = queryCap)))
      .unionByName(report("ivf",
        ext.Similarity.ivfTopK(emb, ext.Similarity.ivfAnchors(s), k = 5,
          queryCap = queryCap)))
      .orderBy("method")
  }

  /** Graph-based ANN top-k — k-NN-graph beam search (see
    * [[graft.ext.Similarity.knnGraph]] /
    * [[graft.ext.Similarity.graphAnnTopK]]), the navigable-graph
    * architecture class (HNSW/NSG family) completing the engine's ANN
    * survey next to the LSH (sim2/sim6), IVF (sim3), and PQ (sim7-sim18)
    * tiers. Build: LSH-seeded NN-descent, bounded-degree m=8; search:
    * 3-hop beam-10 greedy from the query's own node. Per-query search
    * cost is CONSTANT in the corpus (beam x m x hops) — the build is the
    * only corpus-sized pass. */
  def sim23GraphAnn(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.graphAnnTopK(Sources.embeddings(s, dir),
      ext.Similarity.planes(s))
      .orderBy("query_id", "rank")

  /** Ingest-then-search over the INCREMENTALLY-maintained k-NN-graph
    * index — the production path a vector platform actually runs
    * ([[graft.ext.IncrementalAnnIndex]]): the corpus arrives as three
    * vec_id-ordered value-range batches (tercile split on a broadcast
    * max — fully in-plan, no driver-side slicing), each folded into the
    * capped memberships and the mergeable top-m edge table, and the
    * report is the beam search over the resulting SNAPSHOT.
    *
    * The cross-engine gate is the equivalence contract itself: the
    * oracle is sim23's BATCH build+search unroll, so a green row proves
    * the three-fold ingest reproduces the batch index bit-exactly —
    * top-m's mergeability, the order-independent smallest-vec_id bucket
    * election, and the cross-batch pair dedup all land in one hash
    * (IncrementalAnnIndexSpec proves the same equality per stage,
    * including with bucketCap = 2 engaged). Per batch the work is
    * delta × capped co-occupants pair scorings plus one bounded top-m
    * merge — never a corpus rebuild. */
  def sim24IncrementalAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = Sources.embeddings(s, dir)
    val state = terciles(emb, "vec_id")
      .foldLeft(ext.IncrementalAnnIndex.init(s, emb)) { (st, batch) =>
        ext.IncrementalAnnIndex.ingestBatch(st, batch, ext.Similarity.planes(s))
      }
    ext.IncrementalAnnIndex.snapshotSearch(state)
      .orderBy("query_id", "rank")
  }

  /** `df` as three `id`-ordered value-range batches, the arrival order of
    * the ingest queries d15 and sim24: a tercile split on a broadcast max,
    * fully in-plan, no driver-side slicing. The width floor(max/3)+1 keeps
    * id/width <= 2 for every id <= max with no multiplication of the id,
    * so no overflow at any id scale (the g2 residue lesson). */
  private def terciles(df: DataFrame, id: String): Seq[DataFrame] = {
    val w = Materialize(df.agg((floor(max(id) / 3) + 1).as("__w")))
    (0 until 3).map(i => df.crossJoin(broadcast(w))
      .filter(floor(col(id) / col("__w")) === i)
      .drop("__w"))
  }

  /** Epochs the e7 perceptron trainer runs — shared with the oracle's
    * unrolled CTEs (the BpeRounds convention). */
  val PerceptronEpochs = 12

  /** Perceptron quality-classifier TRAINING as relational dataflow — the
    * fourth trained model next to sim21/ev24's k-means and t35's BPE:
    * an LLM data pipeline distills its hand-written quality rule into a
    * learned filter (the fastText-classifier pattern), and this runs that
    * training loop relationally. Features are t2's three quality
    * components (length score, 1 - punct ratio, stopword score), rounded
    * at 6 and then CENTERED on their corpus means (one extra aggregate —
    * without it the near-constant punctuation feature dominates every
    * gradient and the loop oscillates for dozens of epochs; centered, it
    * reaches 0.994 accuracy by epoch 12 on the sf0.001 fixture). The
    * label is the hand rule itself (quality >= 0.5 → +1) — the classic
    * distillation setup. [[PerceptronEpochs]] Rosenblatt batch epochs,
    * unrolled: margin = b + w·x on the previous epoch's weights, miss =
    * y·margin <= 0 (zero-margin counts as miss — epoch 1 updates on
    * every row from w = 0, the class-mean direction), gradient = the
    * corpus MEAN of y·x over misses (zeros elsewhere — no empty-set NULL
    * edge), weights += gradient. Batch-perceptron accuracy is NOT
    * monotone (the loop overshoots and recovers — visible in the curve),
    * so the report also carries the POCKET read (Gallant 1990): the best
    * miss count seen so far, the weights a pocket trainer would ship.
    *
    * Determinism (the g4 per-step lockstep contract): per-row margins
    * are IEEE-identical cross-engine (same rounded inputs, same textual
    * association), so the miss predicate needs no rounding; only the
    * corpus-mean aggregates round (9 — absorbs summation-order ulps),
    * and the updated weights round at 9 per epoch. n_miss is an exact
    * integer per epoch — the strongest hash signal. Shape at 100 TB:
    * the centered feature frame materializes once (two corpus passes:
    * features, means); each epoch is ONE map-side-combined aggregate
    * over it with the 1-row weight frame broadcast — the ev24
    * Lloyd-pass shape; the pocket window runs on the epochs-sized frame
    * (bounded, the annotated-unpartitioned-window convention). Reported
    * weights are POST-update; n_miss/accuracy are measured with the
    * PRE-update weights (the curve a trainer actually logs). */
  def e7PerceptronQuality(s: SparkSession, dir: String): DataFrame = {
    val raw = ext.TextOps.withQualityScore(Sources.documents(s, dir))
      .filter(col("text").isNotNull && col("text_len") > 0)
      .select(
        Num.cround(least(col("n_tokens").cast("double") / 100, lit(1.0)), 6)
          .as("r1"),
        Num.cround(lit(1.0) - col("punct_ratio"), 6).as("r2"),
        Num.cround(least(col("stopword_ratio") * 5, lit(1.0)), 6).as("r3"),
        when(Num.cround(col("quality_score"), 6) >= 0.5, lit(1.0))
          .otherwise(lit(-1.0)).as("y"))
    val means = raw.agg(
      Num.cround(avg("r1"), 6).as("m1"),
      Num.cround(avg("r2"), 6).as("m2"),
      Num.cround(avg("r3"), 6).as("m3"))
    val feats = Materialize(raw.crossJoin(broadcast(means)).select(
      Num.cround(col("r1") - col("m1"), 6).as("f1"),
      Num.cround(col("r2") - col("m2"), 6).as("f2"),
      Num.cround(col("r3") - col("m3"), 6).as("f3"),
      col("y")))
    var w = Materialize(s.range(1).select(
      lit(0.0).as("wb"), lit(0.0).as("w1"),
      lit(0.0).as("w2"), lit(0.0).as("w3")))
    val epochs = (1 to PerceptronEpochs).map { t =>
      val m = feats.crossJoin(broadcast(w))
        .withColumn("margin", col("wb") + col("w1") * col("f1")
          + col("w2") * col("f2") + col("w3") * col("f3"))
        .withColumn("miss", col("y") * col("margin") <= 0.0)
      val agg = m.agg(
        count(lit(1)).as("n"),
        sum(when(col("miss"), lit(1L)).otherwise(lit(0L))).as("n_miss"),
        Num.cround(avg(when(col("miss"), col("y"))
          .otherwise(lit(0.0))), 9).as("gb"),
        Num.cround(avg(when(col("miss"), col("y") * col("f1"))
          .otherwise(lit(0.0))), 9).as("g1"),
        Num.cround(avg(when(col("miss"), col("y") * col("f2"))
          .otherwise(lit(0.0))), 9).as("g2"),
        Num.cround(avg(when(col("miss"), col("y") * col("f3"))
          .otherwise(lit(0.0))), 9).as("g3"))
      val stats = Materialize(agg.crossJoin(broadcast(w)).select(
        lit(t).as("epoch"),
        Num.cround(col("wb") + col("gb"), 9).as("bias"),
        Num.cround(col("w1") + col("g1"), 9).as("w_len"),
        Num.cround(col("w2") + col("g2"), 9).as("w_punct"),
        Num.cround(col("w3") + col("g3"), 9).as("w_stop"),
        col("n_miss"),
        Num.cround(lit(1.0) - col("n_miss").cast("double") / col("n"), 6)
          .as("accuracy")))
      // the next epoch's weights are a projection of the checkpointed
      // stats frame — a second per-epoch checkpoint bought nothing
      w = stats.select(col("bias").as("wb"),
        col("w_len").as("w1"), col("w_punct").as("w2"),
        col("w_stop").as("w3"))
      stats
    }
    // epochs-sized frame: the unpartitioned running-min window is the
    // point, not a smell (the sim21 annotation convention)
    val wP = Window.orderBy("epoch")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    epochs.reduce(_ union _)
      .withColumn("pocket_n_miss", min("n_miss").over(wP))
      .withColumn("pocket_accuracy", max("accuracy").over(wP))
      .select("epoch", "w_len", "w_punct", "w_stop", "bias",
        "n_miss", "accuracy", "pocket_n_miss", "pocket_accuracy")
      .orderBy("epoch")
  }

  /** Ingest-then-snapshot over the INCREMENTAL curation state — the
    * [[graft.ext.IncrementalCuration]] sibling of sim24, closing the
    * last unregistered ingest path: documents arrive as three
    * doc_id-ordered tercile batches, each folded through the per-batch
    * exact-dedup (digest vs history) + fresh-vs-all banded LSH + exact-
    * Jaccard verify + union-find merge, and the report is the NEAR-DEDUP
    * SURVIVOR SET of the snapshot (accepted docs minus demoted cluster
    * members) — the front end a continuous curator maintains between
    * nightly tail materializations.
    *
    * The oracle is the BATCH formulation (keep-first digests over the
    * whole corpus, signature banding, capped candidates, verified pairs,
    * recursive-closure clusters, min-rep survivors), so a green row
    * proves ingest == batch end to end — keep-first-arrival == global
    * min-doc_id under ordered batches, the cross-batch transitive chain
    * folding, and the per-batch candidate union. Validity domain: bucket
    * caps must not engage (an engaged cap elects per-batch, not globally
    * — IncrementalCurationSpec documents this); measured occupancy on
    * the keep-first population is ≤ 5 per (band, value) at sf0.1 vs the
    * 128 cap, 25× headroom. redact=false keeps the digest/shingle
    * material oracle-expressible (t20's redaction is its own gated
    * query). */
  def d15IncrementalCuration(s: SparkSession, dir: String): DataFrame = {
    val docs = Sources.documents(s, dir)
    val cfg = ext.CorpusPipeline.CurationConfig(redact = false)
    val st = terciles(docs, "doc_id")
      .foldLeft(ext.IncrementalCuration.init(s, docs, cfg.nHashes)) {
        (acc, batch) => ext.IncrementalCuration.ingestBatch(acc, batch, cfg)
      }
    ext.Dedup.dedupByClusters(st.docs, st.labels)
      .select("doc_id", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** MMR diversified top-k retrieval over the fixed query batch (see
    * [[graft.ext.Similarity.mmrTopK]]): relevance proposes, the greedy
    * marginal-relevance loop (lambda 0.7) demotes candidates redundant
    * with what's already selected. */
  def sim19Mmr(s: SparkSession, dir: String): DataFrame =
    ext.Similarity.mmrTopK(Sources.embeddings(s, dir))
      .orderBy("query_id", "rank")

  // ===== registry ==========================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_features" -> (pipelineFeatures _),
    "f1_null_drop" -> (f1NullDrop _),
    "f2_ohlc_consistency" -> (f2OhlcConsistency _),
    "f3_non_positive" -> (f3NonPositive _),
    "f4_dedup_keep_last" -> (f4DedupKeepLast _),
    "u1_union_all" -> (u1UnionAll _),
    "u2_distinct" -> (u2Distinct _),
    "u4_intersect" -> (u4Intersect _),
    "u5_except" -> (u5Except _),
    "w1_lag_diff" -> (w1LagDiff _),
    "w2_pct_change" -> (w2PctChange _),
    "w3_ma5" -> (w3Ma5 _),
    "w4_ma20" -> (w4Ma20 _),
    "w5_volatility" -> (w5Volatility _),
    "a1_count" -> (a1Count _),
    "a2_count_distinct" -> (a2CountDistinct _),
    "a3_minmax_date" -> (a3MinMaxDate _),
    "a4_avg_table" -> (a4AvgTable _),
    "a5_quantiles" -> (a5Quantiles _),
    "a7_stddev" -> (a7Stddev _),
    "a6_performance" -> (a6Performance _),
    "a9_up_days" -> (a9UpDays _),
    "a10_value_counts" -> (a10ValueCounts _),
    "a11_quality_report" -> (a11QualityReport _),
    "x7_predictions" -> (x7Predictions _),
    "w6_signals" -> (w6Signals _),
    "o3_sort_limit" -> (o3SortLimit _),
    "o4_top_k" -> (o4TopK _),
    "o6_stride_sample" -> (o6StrideSample _),
    "o7_paginate" -> (o7Paginate _),
    "o8_keyset_page" -> (o8KeysetPage _),
    "s4_scan_limit" -> (s4ScanLimit _),
    "x2_calendar" -> (x2Calendar _),
    "x3_date_arith" -> (x3DateArith _),
    "x8_round_format" -> (x8RoundFormat _),
    "x9_string_ops" -> (x9StringOps _),
    "x10_null_handling" -> (x10NullHandling _),
    "x11_json_access" -> (x11JsonAccess _),
    "j1_join_dims" -> (j1JoinDims _),
    "j2_semi_anti" -> (j2SemiAnti _),
    "j3_left_join_agg" -> (j3LeftJoinAgg _),
    "j5_asof_join" -> (j5AsofJoin _),
    "j6_range_join" -> (j6RangeJoin _),
    "a12_heavy_hitters" -> (a12HeavyHitters _),
    "a13_corr" -> (a13Corr _),
    "a14_kmv_distinct" -> (a14KmvDistinct _),
    "a15_binned_quantiles" -> (a15BinnedQuantiles _),
    "st1_tumbling_window" -> (st1TumblingWindow _),
    "st2_sessionize" -> (st2Sessionize _),
    "j4_rollup" -> (j4Rollup _),
    "j7_cube" -> (j7Cube _),
    "j8_full_outer" -> (j8FullOuter _),
    "w11_range_mean" -> (w11RangeMean _),
    "w12_rsi" -> (w12Rsi _),
    "w13_robust_outliers" -> (w13RobustOutliers _),
    "w14_macd" -> (w14Macd _),
    "w15_bollinger" -> (w15Bollinger _),
    "w16_beta" -> (w16Beta _),
    "w17_sharpe" -> (w17Sharpe _),
    "w18_vwap" -> (w18Vwap _),
    "w19_streaks" -> (w19Streaks _),
    "a16_moments" -> (a16Moments _),
    "x13_ranks" -> (x13Ranks _),
    "t27_collocations" -> (t27Collocations _),
    "ev14_stickiness" -> (ev14Stickiness _),
    "w20_autocorr" -> (w20Autocorr _),
    "d12_containment" -> (d12Containment _),
    "e5_silhouette" -> (e5Silhouette _),
    "j9_asof_forward" -> (j9AsofForward _),
    "j10_asof_nearest" -> (j10AsofNearest _),
    "a18_ks_test" -> (a18KsTest _),
    "a19_spearman" -> (a19Spearman _),
    "t30_dup_rate_by_source" -> (t30DupRateBySource _),
    "t31_bm25" -> (t31Bm25 _),
    "a17_chi2" -> (a17Chi2 _),
    "d13_minhash_calibration" -> (d13MinhashCalibration _),
    "ev15_funnel_windowed" -> (ev15FunnelWindowed _),
    "t28_bigram_lm" -> (t28BigramLm _),
    "m4_phash_clusters" -> (m4PhashClusters _),
    "u6_except_all" -> (u6ExceptAll _),
    "u7_intersect_all" -> (u7IntersectAll _),
    "ev16_attribution" -> (ev16Attribution _),
    "f9_winsorize" -> (f9Winsorize _),
    "d1_dedup_exact" -> (d1DedupExact _),
    "d7_keep_first" -> (d7KeepFirst _),
    "d2_minhash_lsh" -> (d2MinhashLsh _),
    "d8_verified_pairs" -> (d8VerifiedPairs _),
    "d9_semantic_clusters" -> (d9SemanticClusters _),
    "d3_simhash" -> (d3Simhash _),
    "d6_dup_clusters" -> (d6DupClusters _),
    "d4_ngram_jaccard" -> (d4NgramJaccard _),
    "d5_embedding_neardup" -> (d5EmbeddingNeardup _),
    "d10_fuzzy_dedup" -> (d10FuzzyDedup _),
    "d11_best_of_cluster" -> (d11BestOfCluster _),
    "sim1_cosine_topk" -> (sim1CosineTopk _),
    "sim2_lsh_topk" -> (sim2LshTopk _),
    "sim15_range_search" -> (sim15RangeSearch _),
    "sim16_pq_distortion" -> (sim16PqDistortion _),
    "e6_confusion" -> (e6Confusion _),
    "t29_lang_confusion" -> (t29LangConfusion _),
    "sim6_lsh_multiprobe" -> (sim6LshMultiprobe _),
    "sim7_pq_topk" -> (sim7PqTopk _),
    "sim8_ivfpq" -> (sim8IvfPq _),
    "sim9_pq_rerank" -> (sim9PqRerank _),
    "sim10_ivfpq_rerank" -> (sim10IvfPqRerank _),
    "sim17_pq_rerank_batch" -> (sim17PqRerankBatch _),
    "sim18_ivfpq_rerank_batch" -> (sim18IvfPqRerankBatch _),
    "sim11_filtered_ann" -> (sim11FilteredAnn _),
    "sim12_knn_classify" -> (sim12KnnClassify _),
    "sim13_drift" -> (sim13Drift _),
    "sim14_rrf" -> (sim14Rrf _),
    "sim3_ivf_topk" -> (sim3IvfTopk _),
    "sim4_quantize" -> (sim4Quantize _),
    "sim5_prefix_rerank" -> (sim5PrefixRerank _),
    "t1_lang_id" -> (t1LangId _),
    "t5_lang_ngram" -> (t5LangNgram _),
    "t6_pack_sequences" -> (t6PackSequences _),
    "t7_source_mix" -> (t7SourceMix _),
    "c1_decontam" -> (c1Decontam _),
    "c2_embed_decontam" -> (c2EmbedDecontam _),
    "t8_repetition" -> (t8Repetition _),
    "t9_split" -> (t9Split _),
    "t10_budget" -> (t10Budget _),
    "t11_vocab" -> (t11Vocab _),
    "t12_tfidf" -> (t12Tfidf _),
    "t13_unigram" -> (t13UnigramLm _),
    "t14_best_src" -> (t14BestPerSource _),
    "t15_chunks" -> (t15Chunks _),
    "t16_span_dedup" -> (t16SpanDedup _),
    "t17_temp_mix" -> (t17TempMix _),
    "t18_strat_sample" -> (t18StratSample _),
    "t19_pack_stats" -> (t19PackStats _),
    "t20_pii_redact" -> (t20PiiRedact _),
    "t21_normalize" -> (t21Normalize _),
    "t23_weighted_sample" -> (t23WeightedSample _),
    "t24_url_hosts" -> (t24UrlHosts _),
    "t25_zipf_fit" -> (t25ZipfFit _),
    "t26_vocab_coverage" -> (t26VocabCoverage _),
    "e1_centroids" -> (e1Centroids _),
    "e2_rocchio" -> (e2NearestCentroid _),
    "e3_hard_negatives" -> (e3HardNegatives _),
    "e4_hard_negatives_batch" -> (e4HardNegativesBatch _),
    "ev1_funnel" -> (ev1Funnel _),
    "ev2_funnel_salted" -> (ev2FunnelSalted _),
    "ev3_funnel_shuffled" -> (ev3FunnelShuffledGates _),
    "ev4_funnel_adaptive" -> (ev4FunnelAdaptive _),
    "ev5_retention" -> (ev5Retention _),
    "ev6_transitions" -> (ev6Transitions _),
    "ev7_session_paths" -> (ev7SessionPaths _),
    "ev8_volume_anomaly" -> (ev8VolumeAnomaly _),
    "ev9_active_users" -> (ev9ActiveUsers _),
    "ev10_rfm" -> (ev10Rfm _),
    "ev11_power_users" -> (ev11PowerUsers _),
    "ev12_time_to_convert" -> (ev12TimeToConvert _),
    "ev13_funnel_summary" -> (ev13FunnelSummary _),
    "t22_source_entropy" -> (t22SourceEntropy _),
    "x12_pivot" -> (x12Pivot _),
    "x14_gapfill" -> (x14Gapfill _),
    "st3_interval_join" -> (st3IntervalJoin _),
    "t2_quality_score" -> (t2QualityScore _),
    "t3_token_count" -> (t3TokenCount _),
    "t4_fingerprint" -> (t4Fingerprint _),
    "m1_multimodal_meta" -> (m1MultimodalMeta _),
    "m2_phash_pairs" -> (m2PhashPairs _),
    "m3_frame_sample" -> (m3FrameSample _),
    "m5_audio_meta" -> (m5AudioMeta _),
    "p1_rename" -> (p1Rename _),
    "p2_cast" -> (p2Cast _),
    "p3_literals" -> (p3Literals _),
    "p4_reorder" -> (p4Reorder _),
    "f5_isin" -> (f5Isin _),
    "f6_date_range" -> (f6DateRange _),
    "f7_symbol_eq" -> (f7SymbolEq _),
    "f8_null_envelope" -> (f8NullEnvelope _),
    "x1_arithmetic" -> (x1Arithmetic _),
    "x4_updown_flags" -> (x4UpdownFlags _),
    "x5_vol_category" -> (x5VolCategory _),
    "a8_window_mean" -> (a8WindowMean _),
    "w9_volume_bucket" -> (w9VolumeBucket _),
    "s2_overview_join" -> (s2OverviewJoin _),
    "w7_latest_row" -> (w7LatestRow _),
    "w8_trailing_k" -> (w8TrailingK _),
    "w10_drawdown" -> (w10Drawdown _),
    "u3_unpivot" -> (u3Unpivot _),
    "o1_sort_date" -> (o1SortDate _),
    "o2_composite_sort" -> (o2CompositeSort _),
    "o5_sort_measure_desc" -> (o5SortMeasureDesc _),
    "w21_atr" -> (w21Atr _),
    "w22_obv" -> (w22Obv _),
    "a20_ttest" -> (a20Ttest _),
    "a21_benford" -> (a21Benford _),
    "ev17_bounce_rate" -> (ev17BounceRate _),
    "ev18_cohort_value" -> (ev18CohortValue _),
    "d14_url_dedup" -> (d14UrlDedup _),
    "t32_readability" -> (t32Readability _),
    "sim19_mmr" -> (sim19Mmr _),
    "x15_interpolate" -> (x15Interpolate _),
    "ev19_session_duration" -> (ev19SessionDuration _),
    "g1_pagerank" -> (g1Pagerank _),
    "w24_stochastic" -> (w24Stochastic _),
    "ev20_markov_stationary" -> (ev20MarkovStationary _),
    "t33_trigram_entropy" -> (t33TrigramEntropy _),
    "a22_ols_trend" -> (a22OlsTrend _),
    "sim20_recall" -> (sim20Recall _),
    "sim22_recall_batch" -> (sim22RecallBatch _),
    "sim21_codebook_selector" -> (sim21CodebookSelector _),
    "sim23_graph_ann" -> (sim23GraphAnn _),
    "sim24_incremental_ann" -> (sim24IncrementalAnn _),
    "d15_incremental_curation" -> (d15IncrementalCuration _),
    "e7_perceptron_quality" -> (e7PerceptronQuality _),
    "ev21_growth_accounting" -> (ev21GrowthAccounting _),
    "w25_weekly_ohlc" -> (w25WeeklyOhlc _),
    "g2_triangles" -> (g2Triangles _),
    "j11_fuzzy_linkage" -> (j11FuzzyLinkage _),
    "g3_components" -> (g3Components _),
    "g4_hits" -> (g4Hits _),
    "t34_bpe_pairs" -> (t34BpePairs _),
    "t35_bpe_train" -> (t35BpeTrain _),
    "t36_bpe_compression" -> (t36BpeCompression _),
    "ev22_interarrival" -> (ev22Interarrival _),
    "w23_keltner" -> (w23Keltner _),
    "a23_gini" -> (a23Gini _),
    "ev23_markov_attribution" -> (ev23MarkovAttribution _),
    "ev24_rfm_segments" -> (ev24RfmSegments _),
    "a24_psi" -> (a24Psi _),
    "st4_sliding_window" -> (st4SlidingWindow _),
    "w26_donchian" -> (w26Donchian _)
  )
}
