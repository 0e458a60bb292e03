package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AtLeastNNonNulls
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data-quality filters and normalization (reference: src/transform.py:113-204,
  * operators P1-P4, F1-F4, U1 in SURVEY §2.2/§2.3).
  *
  * All of these are narrow (no shuffle) except dedupKeepLast, which shuffles
  * once on (symbol, date) — at cluster scale that shuffle is shared with the
  * downstream per-symbol window stage when the data is pre-partitioned by
  * symbol (see Derive).
  */
object Cleaning {

  /** Columns a row must have for any downstream math to be meaningful
    * (reference: src/transform.py:168-170). */
  val criticalColumns: Seq[String] =
    Seq("open", "high", "low", "close", "volume", "date", "symbol")

  /** P1: conditional column rename — only renames columns actually present
    * (reference: src/transform.py:113-123). */
  def renamePresent(df: DataFrame, mapping: Map[String, String]): DataFrame = {
    val present = mapping.filter { case (from, _) => df.columns.contains(from) }
    df.withColumnsRenamed(present)
  }

  /** F1 predicate: no null (or NaN) in any critical column. It is the
    * expression `na.drop("any", criticalColumns)` plans (AtLeastNNonNulls),
    * which the public Column API cannot build, so it resolves as a session
    * function, like the native functions. */
  def hasCriticalValues: Column =
    graft.functions.GraftFunctions.resolve("has_critical_values",
      children => AtLeastNNonNulls(children.size, children))(
      criticalColumns.map(col): _*)

  /** F2 predicate: OHLC logical consistency (reference:
    * src/transform.py:174-184). False where high < low, high < open,
    * high < close, low > open or low > close. Applied after F1 so the
    * null-vs-false distinction of the negation cannot drop extra rows. */
  val ohlcConsistent: Column =
    !(col("high") < col("low") || col("high") < col("open") ||
      col("high") < col("close") || col("low") > col("open") ||
      col("low") > col("close"))

  /** F3 predicate: positive prices and non-negative volume
    * (reference: src/transform.py:187-197). */
  val positivePrices: Column =
    col("open") > 0 && col("high") > 0 && col("low") > 0 &&
      col("close") > 0 && col("volume") >= 0

  /** F1: drop rows with a null in any critical column
    * (reference: src/transform.py:168-170). */
  def dropNullCritical(df: DataFrame): DataFrame = df.filter(hasCriticalValues)

  /** F2: remove OHLC-inconsistent rows. */
  def filterOhlcConsistent(df: DataFrame): DataFrame = df.filter(ohlcConsistent)

  /** F3: remove non-positive prices and negative volume. */
  def filterPositivePrices(df: DataFrame): DataFrame = df.filter(positivePrices)

  /** F4: dedup on (symbol, date) keeping the "last" row. pandas keep='last'
    * relies on positional order (reference: src/transform.py:199-204); Spark
    * needs an explicit deterministic tiebreak (SURVEY §7.4 trap #2): the row
    * with the greatest `tiebreak` value wins. One hash shuffle on the group
    * key; at scale this is a single exchange reused by later per-symbol
    * windows. */
  def dedupKeepLast(df: DataFrame, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy("symbol", "date").orderBy(tiebreak.desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The full cleaning chain in reference order: F1 -> F2 -> F3 -> F4.
    *
    * The explicit repartition by `symbol` is the single exchange of the
    * whole downstream pipeline: HashPartitioning(symbol) satisfies the
    * dedup window's ClusteredDistribution(symbol, date) (subset rule) AND
    * every per-symbol feature window, so Catalyst inserts no further
    * shuffle and no re-sort (the dedup sort (symbol, date, tiebreak) has
    * the feature windows' (symbol, date) as a prefix). Without it the plan
    * exchanges twice: once on (symbol, date), again on symbol. */
  def clean(df: DataFrame, tiebreak: Column): DataFrame =
    dedupKeepLast(
      filterPositivePrices(filterOhlcConsistent(dropNullCritical(df)))
        .repartition(col("symbol")),
      tiebreak)

  /** P4: project to a fixed column order, passing through unknown trailing
    * columns (reference: src/transform.py:292-321). */
  def reorderColumns(df: DataFrame, ordered: Seq[String]): DataFrame = {
    val known = ordered.filter(df.columns.contains)
    val rest = df.columns.filterNot(known.contains)
    df.select((known ++ rest).map(col): _*)
  }

  /** U1: UNION ALL of same-schema frames (reference: src/transform.py:156-158).
    * unionByName is position-independent, matching pd.concat semantics. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))
}
