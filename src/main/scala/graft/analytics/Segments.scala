package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, Num}

/** Learned RFM segmentation — ev10's recency/frequency/monetary features
  * (the one purchase-only [[Events.rfm]] aggregate) segmented by an
  * EMBEDDED k-means training loop instead of rule buckets: the second
  * consumer of the engine's "model training as relational dataflow" path
  * (sim21's PQ codebook was the first), lifted from embedding subvectors
  * to behavioral features.
  *
  * Determinism/cross-engine discipline (the sim21 Lloyd contract, proven
  * at two recall fixtures there): deterministic md5 seed centroids (the
  * Similarity.planes recipe, salt "rfm"), features min-max normalized at
  * tie-safe round 9, assignment by argmin on the tie-safe-rounded (6)
  * squared distance with centroid-id tiebreak, centroid updates at
  * round 9, empty clusters keep their previous centroid. The oracle
  * unrolls the identical iterations.
  *
  * Scale shape: the corpus reduces through ONE per-user aggregate; the
  * normalized feature frame MATERIALIZES once (the iterative-training
  * cache, exactly what Spark ML does before Lloyd loops) and each of the
  * `iters`+1 passes is one broadcast join (k rows) + one k-row update
  * aggregate — no windows over users, no per-iteration shuffle growth. */
object Segments {

  /** Deterministic seed centroids over the 3 normalized features:
    * weight(cluster c, feature f) = (md5-derived int in [-1000, 1000]) /
    * 1000 — reproducible from public md5 alone, shared formula with the
    * oracle's cb0 CTE. */
  def seedCentroids(spark: SparkSession, k: Int): DataFrame = {
    def wgt(f: Int): Column =
      (conv(substring(md5(concat(col("c"), lit(s"_rfm_$f"))), 1, 8), 16, 10)
        .cast("long") % 2001 - 1000).cast("double") / 1000.0
    spark.range(k).withColumnRenamed("id", "c")
      .select(col("c"), wgt(0).as("wr"), wgt(1).as("wf"), wgt(2).as("wm"))
  }

  /** Per-segment report: k-means over per-user (recency, frequency,
    * monetary) from purchase events. Returns one row per NON-EMPTY
    * segment: n_users + mean raw features (round 2). */
  def rfmSegments(events: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    require(k >= 1 && iters >= 1, "k and iters must be >= 1")
    val spark = events.sparkSession
    val rfm = Events.rfm(events)
      .select(col("user_id"), col("recency_days").cast("double").as("recency"),
        col("frequency"), Num.cround(col("value_sum"), 6).as("monetary"))
    val stats = rfm.agg(
      min("recency").as("rmn"), max("recency").as("rmx"),
      min("frequency").as("fmn"), max("frequency").as("fmx"),
      min("monetary").as("mmn"), max("monetary").as("mmx"))
    def nrm(x: Column, mn: Column, mxc: Column): Column =
      when(mxc === mn, lit(0.0)).otherwise(Num.cround((x - mn) / (mxc - mn), 9))
    val rfmN = Materialize(rfm.crossJoin(broadcast(stats))
      .select(col("user_id"), col("recency"), col("frequency"),
        col("monetary"),
        nrm(col("recency"), col("rmn"), col("rmx")).as("nr"),
        nrm(col("frequency").cast("double"), col("fmn").cast("double"),
          col("fmx").cast("double")).as("nf"),
        nrm(col("monetary"), col("mmn"), col("mmx")).as("nm")))
    def assign(cb: DataFrame): DataFrame =
      rfmN.crossJoin(broadcast(cb))
        .withColumn("dist2", Num.cround(
          (col("nr") - col("wr")) * (col("nr") - col("wr"))
            + (col("nf") - col("wf")) * (col("nf") - col("wf"))
            + (col("nm") - col("wm")) * (col("nm") - col("wm")), 6))
        .groupBy("user_id").agg(
          min_by(col("c"), struct(col("dist2"), col("c"))).as("c"),
          max("nr").as("nr"), max("nf").as("nf"), max("nm").as("nm"),
          max("recency").as("recency"), max("frequency").as("frequency"),
          max("monetary").as("monetary"))
    var cb = Materialize(seedCentroids(spark, k))
    for (_ <- 1 to iters) {
      val upd = assign(cb).groupBy("c").agg(
        Num.cround(avg("nr"), 9).as("uwr"),
        Num.cround(avg("nf"), 9).as("uwf"),
        Num.cround(avg("nm"), 9).as("uwm"))
      cb = Materialize(cb.join(upd, Seq("c"), "left")
        .select(col("c"),
          coalesce(col("uwr"), col("wr")).as("wr"),
          coalesce(col("uwf"), col("wf")).as("wf"),
          coalesce(col("uwm"), col("wm")).as("wm")))
    }
    assign(cb)
      .groupBy(col("c").as("segment"))
      .agg(count(lit(1)).as("n_users"),
        Num.cround(avg("recency"), 2).as("avg_recency_days"),
        Num.cround(avg("frequency"), 2).as("avg_frequency"),
        Num.cround(avg("monetary"), 2).as("avg_monetary"))
      .orderBy("segment")
  }
}
