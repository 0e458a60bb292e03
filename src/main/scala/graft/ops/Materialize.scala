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
  *    reuse-across-passes effect (first action computes, later passes
  *    read the cached blocks); an executor loss recomputes the lost
  *    partitions from lineage instead of failing the job. The cluster
  *    default you'd deploy with.
  *
  * Both forms return the same rows, so the registered oracles are
  * indifferent to the switch.
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
  // those are only the empty ingest init() states (zero rows, free to
  // rescan). A caller with an EXPENSIVE or non-deterministic source RDD must
  // persist it itself before wrapping it in a DataFrame.
  private def bareRdd(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]

  def apply(df: DataFrame): DataFrame =
    if (persistMode(df)) df.persist(StorageLevel.MEMORY_AND_DISK)
    else if (bareRdd(df)) df
    else df.localCheckpoint(true)

  /** [[apply]], plus the number of materialized rows where `cond` holds —
    * the convergence read of the iterative min-label loops. The count is an
    * `Observation` on the checkpoint job, so it costs no job of its own.
    * Where [[apply]] runs no action (`persist` is lazy; a bare RDD scan is
    * returned as is), one action over the result fills the cache and
    * carries the observation, so reading the count never blocks. */
  def counting(df: DataFrame, cond: Column): (DataFrame, Long) = {
    val obs = Observation()
    val counted = count_if(cond).as("n")
    val out =
      if (persistMode(df) || bareRdd(df)) {
        val m = apply(df)
        m.observe(obs, counted).count()
        m
      } else apply(df.observe(obs, counted))
    (out, obs.get("n").asInstanceOf[Long])
  }

  /** `.materialized` — chainable form for mid-pipeline reuse points.
    * Note for the iterative loops (duplicateClusters, learnIvfAnchors):
    * under `persist` the LOGICAL plan still grows per round (persist does
    * not truncate lineage, it only caches blocks); that is fine for the
    * bounded round counts these loops run (≤20 / 3), and it is exactly
    * the property that makes executor loss survivable. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize(df)
  }
}
