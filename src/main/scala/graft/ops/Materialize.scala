package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.count_if
import org.apache.spark.storage.StorageLevel

/** Materialization point for intermediates reused across passes (r10
  * verdict item #7 — the minhash signature table the dedup family shares,
  * the build-time probe tables).
  *
  * Two idioms, selected by `spark.graft.materialize`:
  *
  *  - `localCheckpoint` (default): eager in-memory checkpoint that
  *    TRUNCATES lineage. Right for local[] / bench scale — one JVM, the
  *    "executors" cannot be lost independently of the driver — and it
  *    keeps the reused plan small (the reason the dedup family adopted
  *    it). On a real cluster it is the RISKY idiom: the checkpointed
  *    partitions live only in executor block managers with NO recompute
  *    path, so losing one executor (preemption, OOM kill — routine at
  *    1000 executors) fails the whole job.
  *  - `persist`: lineage-PRESERVING MEMORY_AND_DISK persist. Same
  *    reuse-across-passes effect (later passes read the cached blocks);
  *    an executor loss recomputes the lost partitions from lineage
  *    instead of failing the job. The cluster default you'd deploy with.
  *
  * Both forms are eager and return a frame whose logical plan is one scan
  * (the checkpoint, or an RDD scan of the cached blocks), so an
  * `Observation` anywhere in the plan has filled when [[apply]] returns,
  * and loops that feed each result into the next do not nest plans (a
  * cached frame that keeps its plan repeats every cached plan below it in
  * the `explain` Spark renders per query; that ran both ingest kernels
  * out of heap within three batches). Both forms return the same rows, so
  * the registered oracles are indifferent to the switch.
  */
object Materialize {
  val ConfKey = "spark.graft.materialize"

  private def persistMode(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption(ConfKey).contains("persist")

  // a frame that IS a bare checkpoint scan (no transformations on top)
  // gains nothing from a second checkpoint — the copy costs a full pass and
  // doubles the block-manager footprint. Seen when a shared kernel
  // materializes an input its caller already materialized (descend over the
  // incremental index's edge state). CONTRACT (r13 advice item): the guard
  // matches ANY RDD-backed frame, so Materialize is deliberately a no-op for
  // every spark.createDataFrame(rdd, schema) scan too — in this codebase
  // those are the empty ingest init() states (zero rows, free to rescan)
  // and apply's own scans of cached blocks under `persist`. A caller with
  // an EXPENSIVE or non-deterministic source RDD must persist it itself
  // before wrapping it in a DataFrame.
  private def bareRdd(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  def apply(df: DataFrame): DataFrame =
    if (bareRdd(df)) df
    else if (persistMode(df)) {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      // count the cached frame itself, not the scan returned below: an
      // observation fills from the query whose plan holds the observed node
      cached.count()
      df.sparkSession.createDataFrame(cached.rdd, cached.schema)
    } else df.localCheckpoint(true)

  /** [[apply]], plus the number of materialized rows where `cond` holds —
    * the convergence read of the iterative min-label loops. The count is an
    * `Observation` on the materializing job, so it costs no job of its
    * own. */
  def counting(df: DataFrame, cond: Column): (DataFrame, Long) = {
    val obs = Observation()
    val out = apply(df.observe(obs, count_if(cond).as("n")))
    (out, observedCount(obs))
  }

  /** The count an observation holds as "n" once its query has run. Spark
    * replaces a plan it finds empty, observed node included, with an empty
    * relation and then reports no metric at all: that count is 0. */
  def observedCount(obs: Observation): Long =
    obs.get.getOrElse("n", 0L).asInstanceOf[Long]

  /** Batches folded between two compactions of an accumulated frame. */
  val CompactEvery: Int = 8

  /** The append rule of the incremental kernels' accumulated state: `acc`
    * ∪ `delta`, where `batchNo` is the 1-based number of the batch that
    * brings `delta`. Between compactions the result is a LAZY union of
    * materialized deltas, so a batch pays eager work only for its own
    * delta, not for the corpus; every [[CompactEvery]] batches the union
    * is materialized once, so plan depth stays bounded over a long ingest
    * stream. */
  def append(acc: DataFrame, delta: DataFrame, batchNo: Int): DataFrame = {
    val all = acc.unionByName(delta)
    if (batchNo % CompactEvery == 0) apply(all) else all
  }

  /** `.materialized` — chainable form for mid-pipeline reuse points. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize(df)
  }
}
