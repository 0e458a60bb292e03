package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew handling for hot keys.
  *
  * At 100 TB a per-symbol aggregation can meet a dominant key (one ticker
  * = half the volume, one boilerplate document = half the corpus). AQE
  * splits skewed JOIN partitions automatically, but a skewed AGGREGATION
  * key still lands on one task in the partial-agg shuffle when the
  * aggregate has no map-side combine benefit (e.g. exact distincts,
  * collect-style states). The classic fix is salting: two-phase
  * aggregation over (key, salt) then key.
  *
  * Only algebraic aggregates (sum/count/min/max and anything built from
  * them, e.g. avg = sum/count) can be salted this way — order-sensitive
  * or holistic aggregates (exact percentile) cannot.
  */
object Skew {

  /** Salted sum/count aggregation: phase 1 aggregates (key, salt) buckets
    * — spreading a hot key over `saltBuckets` tasks — phase 2 merges per
    * key. Returns one row per key with sum_<col>/cnt columns. */
  def saltedSumCount(df: DataFrame, key: String, valueCol: String,
                     saltBuckets: Int = 16): DataFrame = {
    // deterministic salt from row content, NOT monotonically_increasing_id:
    // a task retry after shuffle-fetch failure can reorder rows, and a
    // nondeterministic salt would double-count/lose rows across the two
    // phases (SPARK-23207 class). Identical rows share a salt — acceptable,
    // they spread across buckets only if the hot key has varied values.
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col): _*), lit(saltBuckets.toLong)))
    val phase1 = salted.groupBy(col(key), col("__salt")).agg(
      sum(col(valueCol)).as("__psum"),
      count(lit(1)).as("__pcnt"))
    phase1.groupBy(col(key)).agg(
      sum(col("__psum")).as(s"sum_$valueCol"),
      sum(col("__pcnt")).as("cnt"))
      .withColumn(s"avg_$valueCol", col(s"sum_$valueCol") / col("cnt"))
  }

  /** Choose a salt bucket count from a cheap pre-pass instead of a
    * hand-tuned constant — the knob a 100 TB deployment otherwise tunes by
    * hand per dataset. One aggregate computes the hottest key's row count
    * (map-side partial combine keeps the hot key's traffic at one partial
    * row per map partition, so the pre-pass itself cannot skew), and the
    * bucket count is ceil(hottest / targetPerBucket) clamped to
    * [1, maxBuckets]:
    *
    *   - a uniform dataset picks 1 — the salted two-phase plan degenerates
    *     to a plain partial+final aggregate, paying nothing for the
    *     hardening it doesn't need;
    *   - a dominant key picks exactly enough buckets to bound any task's
    *     share of that key at ~targetPerBucket rows.
    *
    * ONLY for answer-invariant knobs (salt bucket counts): the result of a
    * salted aggregation is identical for every bucket count, so adapting
    * it is free of correctness risk — proven by SkewSpec running the same
    * oracle across chosen counts. Result-CHANGING caps (LSH maxPerBucket,
    * IVF maxPerList) stay fixed constants on purpose: their value is part
    * of the operator's declared semantics, and an adaptive cap would make
    * the answer a function of cluster sizing.
    *
    * The single `.first()` is a one-row scalar pull (the same documented
    * pattern as TextOps' total-occurrence scalar): the bucket count must
    * be a plan literal, so it cannot stay distributed. */
  def adaptiveSaltBuckets(df: DataFrame, key: String,
                          targetPerBucket: Long = 1000000L,
                          maxBuckets: Int = 1024): Int = {
    require(targetPerBucket > 0, "targetPerBucket must be positive")
    val hottest = df.groupBy(col(key)).agg(count(lit(1)).as("__rows"))
      .agg(max(col("__rows"))).first().get(0) match {
        case null => 0L
        case n: java.lang.Number => n.longValue()
      }
    val want = (hottest + targetPerBucket - 1) / targetPerBucket
    math.max(1L, math.min(maxBuckets.toLong, want)).toInt
  }
}
