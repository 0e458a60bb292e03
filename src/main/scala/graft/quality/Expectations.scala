package graft.quality

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** The reference's 13-item Great Expectations suite as Column-predicate
  * aggregates (reference: src/data_quality.py:8-128, operator A11).
  *
  * Each expectation evaluates in ONE shared aggregate pass over the frame
  * (partial+final hash agg — no per-check scans), then the single agg row is
  * exploded into one row per check. GX `mostly` semantics: the ratio is
  * computed over non-null values (avg ignores nulls), and a check passes when
  * observed_ratio >= threshold.
  *
  * The suite has two forms over one check list and one report tail:
  * [[qualityReport]], a query of its own, and [[observe]], which carries the
  * same ratios as observed metrics of an action that consumes the frame
  * anyway (the ETL's lake write), so validating costs no pass of its own.
  */
object Expectations {

  /** (name, ratio expression over the frame, mostly-threshold), sorted by
    * name, the report's order. `unique` is the compound (symbol, date)
    * uniqueness count, the one check whose form differs between the two
    * callers. */
  private def checks(df: DataFrame, unique: Column): Seq[(String, Column, Double)] = {
    def exists(c: String): Column =
      lit(if (df.columns.contains(c)) 1.0 else 0.0)
    def notNullRatio(c: String): Column =
      avg(when(col(c).isNotNull, 1.0).otherwise(0.0))
    def betweenRatio(c: String, lo: Double, hi: Double): Column =
      avg(when(col(c).isNull, lit(null))
        .when(col(c) >= lo && col(c) <= hi, 1.0).otherwise(0.0))

    Seq(
      ("exists:symbol", exists("symbol"), 1.0),
      ("exists:date", exists("date"), 1.0),
      ("exists:close", exists("close"), 1.0),
      ("exists:volume", exists("volume"), 1.0),
      ("not_null:symbol", notNullRatio("symbol"), 1.0),
      ("not_null:date", notNullRatio("date"), 1.0),
      ("not_null:close", notNullRatio("close"), 1.0),
      ("between:open:0:10000", betweenRatio("open", 0, 10000), 1.0),
      ("between:high:0:10000", betweenRatio("high", 0, 10000), 1.0),
      ("between:low:0:10000", betweenRatio("low", 0, 10000), 1.0),
      ("between:close:0:10000", betweenRatio("close", 0, 10000), 1.0),
      ("between:volume:0:inf", avg(when(col("volume").isNull, lit(null))
        .when(col("volume") >= 0, 1.0).otherwise(0.0)), 1.0),
      ("between:daily_change_percent:-50:50",
        betweenRatio("daily_change_percent", -50, 50), 0.95),
      ("pair:high_gt_low", avg(when(col("high").isNull || col("low").isNull, lit(null))
        .when(col("high") > col("low"), 1.0).otherwise(0.0)), 1.0),
      // try_divide: ANSI mode throws on /0, and an EMPTY frame (all rows
      // filtered away) must produce a null ratio, not crash the report
      ("compound_unique:symbol_date", try_divide(unique.cast("double"), count(lit(1))), 1.0)
    ).sortBy(_._1)
  }

  private def ratios(cs: Seq[(String, Column, Double)]): Seq[Column] =
    cs.zipWithIndex.map { case ((_, ratio, _), i) => ratio.as(s"__r$i") }

  /** The report tail: the one-row frame of ratios `__r<i>` -> one row per
    * check, in check order: (check_name, observed_ratio, threshold, passed).
    * `passed` is decided on the unrounded ratio; observed_ratio is rounded
    * to 6 decimals for engine-agnostic comparison. */
  private def report(ratioRow: DataFrame, cs: Seq[(String, Column, Double)]): DataFrame = {
    val rows = cs.zipWithIndex.map { case ((name, _, thr), i) =>
      struct(
        lit(name).as("check_name"),
        col(s"__r$i").as("observed_ratio"),
        lit(thr).as("threshold"))
    }
    ratioRow.select(explode(array(rows: _*)).as("c"))
      .select(col("c.check_name"), col("c.observed_ratio"), col("c.threshold"))
      .withColumn("passed", col("observed_ratio") >= col("threshold"))
      .withColumn("observed_ratio", graft.ops.Num.cround(col("observed_ratio"), 6))
  }

  /** One row per expectation, as a query of its own over `df`. */
  def qualityReport(df: DataFrame): DataFrame = {
    val cs = checks(df, countDistinct(col("symbol"), col("date")))
    val rs = ratios(cs)
    report(df.agg(rs.head, rs.tail: _*), cs).orderBy("check_name")
  }

  /** The suite attached to `df` as observed metrics, with `extra` metrics
    * alongside. Spark rejects DISTINCT aggregates in observed metrics, so
    * the uniqueness ratio counts the first row of each non-null
    * (symbol, date) instead: a row whose date differs from the previous
    * date of its symbol. That is exact against countDistinct, and over a
    * frame that already comes out of the per-symbol date-ordered windows
    * (Derive's) the lag needs no exchange or sort of its own. */
  def observe(df: DataFrame, extra: Column*): Observed = {
    val w = Window.partitionBy("symbol").orderBy("date")
    val firstOfKey = col("symbol").isNotNull && col("date").isNotNull &&
      !lag(col("date"), 1).over(w).eqNullSafe(col("date"))
    val cs = checks(df, count_if(col("__first_of_key")))
    val metrics = ratios(cs) ++ extra
    val observation = Observation()
    val frame = df.withColumn("__first_of_key", firstOfKey)
      .observe(observation, metrics.head, metrics.tail: _*)
      .drop("__first_of_key")
    new Observed(frame, observation, cs)
  }

  /** `frame` is the observed frame: run one action over it, then read the
    * metrics or the report. Both block until that action has finished. */
  final class Observed private[Expectations] (val frame: DataFrame,
      observation: Observation, cs: Seq[(String, Column, Double)]) {

    /** Every metric of the action: the checks' `__r<i>` and the extras. */
    def metrics: Map[String, Any] = observation.get

    /** The rows [[qualityReport]] gives for the observed frame, in its
      * order, built from the observed ratios as a one-row local frame (no
      * sort: the checks are already in name order). */
    def report(spark: SparkSession): DataFrame = {
      val m = metrics
      val names = cs.indices.map(i => s"__r$i")
      val ratioRow = spark.createDataFrame(
        java.util.List.of(Row.fromSeq(names.map(m))),
        StructType(names.map(StructField(_, DoubleType))))
      Expectations.report(ratioRow, cs)
    }
  }
}
