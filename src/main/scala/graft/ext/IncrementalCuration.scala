package graft.ext

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import graft.ops.Materialize
import graft.ops.Materialize.MaterializeOps

/** Incremental (foreachBatch) variant of [[CorpusPipeline.curate]]: a
  * production training-data pipeline doesn't re-curate the whole corpus per
  * crawl drop — it ingests a DELTA, dedups it against the accumulated
  * corpus, and folds the survivors in. This module runs exactly that:
  *
  *   streaming docs -> per-batch exact dedup vs history ->
  *   per-batch LSH candidates (fresh-vs-all banded join, never all-vs-all)
  *   -> exact-Jaccard verification -> incremental union-find merge ->
  *   snapshot: identical tail stages as batch curate
  *
  * Equivalence contract (IncrementalCurationSpec proves snapshot ==
  * [[CorpusPipeline.curate]] on the union, packed rows and report):
  *  - keep-FIRST-ARRIVAL == keep-min-doc_id when batches arrive in doc_id
  *    order — the same event-order determinism contract as the streaming
  *    funnel twin (StreamingFunnel). Out-of-order ingest keeps a different
  *    (but equally valid) representative per duplicate class.
  *  - cluster state is a union-find label table folded batch-by-batch:
  *    each batch's verified edges merge into the accumulated labels via
  *    [[Dedup.duplicateClusters]] over (label-edges ∪ new edges) — the
  *    transitive closure over ALL edges seen, so cross-batch duplicate
  *    chains (A~B in batch 1, B~C in batch 2) cluster exactly as one
  *    batch run would. Survivors are derived from state AT SNAPSHOT — not
  *    append-only emission — so a later batch joining two earlier
  *    clusters retroactively demotes the losing representative, which an
  *    emit-on-arrival stream could never take back.
  *  - the LSH hot-bucket cap elects by smallest doc_id WITHIN the
  *    accumulated population at each batch, which can differ from the
  *    batch run's global election when a bucket overflows; candidate sets
  *    under an engaged cap are approximate in both modes (and every merge
  *    is still exact-Jaccard-verified). The equivalence spec keeps
  *    buckets under the cap.
  *
  * Scale shape: a batch pays bands(fresh) ⋈ bands(accumulated-capped) —
  * cost proportional to the DELTA times bucket occupancy, not to the
  * corpus — plus one digest anti-join against history. State carries
  * (digest, signature, label) per accepted doc and the doc rows
  * themselves; payload text never rides a dedup shuffle (the digest/band
  * joins move hashes, the verify step moves shingle hashes). The tail
  * (filters, decontam, mix, pack) runs once per SNAPSHOT, not per batch —
  * at production scale that's the nightly materialization over survivors,
  * while ingest dedup stays continuous. */
object IncrementalCuration {

  import CorpusPipeline.{CurationConfig, CurationReport}

  /** Accumulated curation state after some prefix of batches.
    * `docs`: exact-unique accepted docs (input columns). `digests`:
    * md5(text) of accepted docs. `signatures`: their MinHash signatures.
    * `labels`: union-find table (doc_id, cluster_rep) for every doc that
    * ever verified into a duplicate pair. `nIngested`: raw rows seen.
    * `nBatches`: batches folded so far. `docs`, `digests` and
    * `signatures` grow by [[graft.ops.Materialize.append]]. */
  case class CurationState(
      docs: DataFrame, digests: DataFrame, signatures: DataFrame,
      labels: DataFrame, nIngested: Long, nBatches: Int = 0)

  def init(spark: SparkSession, template: DataFrame,
           nHashes: Int = 16): CurationState = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], template.schema)
    CurationState(
      docs = empty,
      digests = empty.select(md5(col("text")).as("__digest")),
      signatures = Dedup.minhashSignatures(empty, nHashes),
      labels = empty.select(col("doc_id"),
        col("doc_id").as("cluster_rep")),
      nIngested = 0L)
  }

  /** Fold one arriving batch into the state: exact dedup (within batch +
    * against history), fresh-vs-all LSH candidates, exact-Jaccard
    * verification, union-find merge. Only the per-batch DELTAS are
    * eagerly materialized; the accumulated frames grow by the one
    * [[graft.ops.Materialize.append]] rule, so per-batch eager work is
    * proportional to the delta, not the corpus, and state lineage stays
    * bounded. The raw-arrival count is an `Observation` on the batch,
    * filled by the fresh delta's materialization — no job of its own. */
  def ingestBatch(state: CurationState, batch: DataFrame,
                  cfg: CurationConfig = CurationConfig()): CurationState = {
    val nb = state.nBatches + 1
    val arrived = Observation()
    val observedBatch = batch.observe(arrived, count(lit(1)).as("n"))
    val scrubbed = if (cfg.redact) TextOps.redact(observedBatch) else observedBatch

    // exact dedup: keep-first within the batch, drop anything history has
    val fresh = Dedup.keepFirstPerDigest(scrubbed)
      .withColumn("__digest", md5(col("text")))
      .join(state.digests, Seq("__digest"), "left_anti")
      .materialized
    // projection of an already-checkpointed frame — nothing to re-checkpoint
    val freshDocs = fresh.drop("__digest")

    // fresh-vs-all banded candidate join. The accumulated side is capped
    // per bucket (smallest doc_ids) exactly like the batch self-join; the
    // fresh probe side is not capped — every new doc gets its chance to
    // match. a < b normalization keeps pair ids ordered for the verifier.
    val freshSigs = Dedup.minhashSignatures(freshDocs, cfg.nHashes)
      .materialized
    val allSigs = Materialize.append(state.signatures, freshSigs, nb)
    val freshBands = Dedup.bands(freshSigs, cfg.nBands)
    // cap election is per (band, band_value) and the candidate join is an
    // inner join on that key — so only buckets the fresh probe actually
    // touches can produce candidates, and capping just those buckets is
    // row-identical while keeping the row_number window delta-sized
    // instead of corpus-sized
    val probedBuckets = freshBands.select("band", "band_value").distinct()
    val cappedAll = Dedup.bands(allSigs, cfg.nBands)
      .join(probedBuckets, Seq("band", "band_value"), "left_semi")
      .withColumn("__bn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band", "band_value").orderBy("doc_id")))
      .filter(col("__bn") <= Dedup.DefaultMaxPerBucket).drop("__bn")
    val candidates = freshBands.as("a")
      .join(cappedAll.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_value") === col("b.band_value") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()

    // verification needs both pair sides' text: history ∪ fresh. The
    // verified edges are materialized ONCE — the isEmpty gate and
    // duplicateClusters both read them (unmaterialized, the verify join
    // ran twice per batch).
    val allDocs = Materialize.append(state.docs, freshDocs, nb)
    val newEdges = Dedup.jaccardVerifyPairs(allDocs, candidates, cfg.minJaccard)
      .select("doc_a", "doc_b")
      .materialized

    // union-find merge: the accumulated labels, re-expressed as edges, plus
    // the new verified edges — duplicateClusters' min-label propagation
    // over that graph IS the transitive closure over all edges ever seen
    val labelEdges = state.labels
      .filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as("doc_a"), col("cluster_rep").as("doc_b"))
    val merged =
      if (newEdges.isEmpty) state.labels
      else Dedup.duplicateClusters(labelEdges.unionByName(newEdges))

    CurationState(
      docs = allDocs,
      digests = Materialize.append(state.digests, fresh.select("__digest"), nb),
      signatures = allSigs,
      // duplicateClusters returns a materialized table; the empty-edge
      // branch reuses the already-materialized previous labels
      labels = merged,
      nIngested = state.nIngested + arrived.get("n").asInstanceOf[Long],
      nBatches = nb)
  }

  /** Materialize the curated corpus from the accumulated state: survivors
    * = accepted docs minus demoted cluster members, then the IDENTICAL
    * tail stages as [[CorpusPipeline.curate]] (shared code, not a twin). */
  def snapshot(state: CurationState,
               cfg: CurationConfig = CurationConfig(),
               benchmark: Option[DataFrame] = None): (DataFrame, CurationReport) = {
    val nearUnique = Dedup.dedupByClusters(state.docs, state.labels)
    val (packed, t) = CorpusPipeline.curateTail(
      state.docs.columns.toSeq, nearUnique, cfg, benchmark)
    (packed, CurationReport(
      input = state.nIngested,
      afterExactDedup = state.docs.count(),
      afterNearDedup = nearUnique.count(),
      afterSpanDedup = t.afterSpanDedup,
      afterFilters = t.afterFilters,
      afterLmFilter = t.afterLmFilter,
      afterDecontam = t.afterDecontam,
      afterCap = t.afterCap,
      afterMix = t.afterMix,
      nPacks = t.nPacks))
  }

  /** Continuous curator: wire [[ingestBatch]] under a streaming docs frame
    * via foreachBatch. `state` is readable between micro-batches and after
    * the query finishes; call [[IncrementalCuration.snapshot]] on it for
    * the curated corpus as of the last completed batch. */
  final class Curator(cfg: CurationConfig = CurationConfig()) {
    @volatile private var _state: Option[CurationState] = None
    def state: CurationState =
      _state.getOrElse(throw new IllegalStateException("no batch ingested yet"))

    def writer(stream: DataFrame): DataStreamWriter[Row] = {
      val spark = stream.sparkSession
      stream.writeStream.outputMode("update").foreachBatch {
        (df: DataFrame, _: Long) =>
          val s = _state.getOrElse(init(spark, df, cfg.nHashes))
          _state = Some(ingestBatch(s, df, cfg))
      }
    }
  }
}
