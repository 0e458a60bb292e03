package graft.ext

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{ConcurrentJobs, Materialize}
import graft.ops.Materialize.MaterializeOps

/** Incremental maintenance of the sim23 k-NN graph index — the ANN
  * analog of [[IncrementalCuration]]: a production vector platform does
  * not rebuild its neighbor graph per crawl drop, it folds each arriving
  * DELTA in. Per batch this pays delta × (capped bucket/list co-occupants)
  * pair scorings plus one bounded top-m merge — never a corpus rebuild.
  *
  *   streaming vectors -> per-batch capped-membership admission
  *   -> fresh-vs-all co-occupant pairs (both directions) -> exact score
  *   -> mergeable top-m edge fold -> snapshot: descent + beam search,
  *   the SAME kernels as batch [[Similarity.knnGraph]]/[[Similarity.searchGraph]]
  *
  * Equivalence contract (IncrementalAnnIndexSpec proves snapshot ==
  * batch on the union):
  *  - [[Similarity.topMEdges]] is MERGEABLE under additions
  *    (top-m(top-m(A) ∪ B) == top-m(A ∪ B)), so the per-batch edge fold
  *    reproduces the batch top-m exactly once every co-occupant pair has
  *    been generated — and it has: a pair (a, b) is generated in the
  *    batch that admits its LATER endpoint, in both directions
  *    (fresh-as-src × all AND all-as-src × fresh).
  *  - the bucket caps elect the `bucketCap` SMALLEST vec_ids per bucket —
  *    an order-independent election — so when batches arrive in vec_id
  *    order (the [[IncrementalCuration]] keep-first contract), the
  *    append-only admission below reproduces the batch election EXACTLY,
  *    caps engaged or not. Out-of-order ingest admits a different (but
  *    equally valid) capped population; every scored edge is still exact.
  *  - duplicate pair generations across batches (a pair can co-occupy an
  *    LSH bucket AND an IVF list admitted in different batches) dedupe on
  *    the exact (src, dst, cosine) triple before the top-m cut — the
  *    batch side's seedPairs.distinct() discipline.
  *  - descent and search run on the SNAPSHOT, not per batch (the g1 /
  *    ev20 composition pattern): NN-descent over a half-built graph would
  *    see different two-hop frontiers than the batch build; the
  *    maintained state is exactly the seed tier, whose equality makes
  *    every downstream stage equal by construction.
  *
  * Scale shape: state carries (vec_id, embedding) plus two capped
  * membership tables (bounded by cap × buckets, NOT by the corpus) and
  * the n × m edge table. A batch's pair join probes fresh rows against
  * capped co-occupants only; payload vectors ride the scoring join once
  * per generated pair. */
object IncrementalAnnIndex {

  /** Accumulated index state: accepted vectors, the two capped
    * partitioning memberships, and the folded top-m seed edges.
    * `vectors` and the memberships grow by
    * [[graft.ops.Materialize.append]]; `nBatches` counts folded batches. */
  case class GraphState(
      vectors: DataFrame, lshCapped: DataFrame, ivfCapped: DataFrame,
      edges: DataFrame, nIngested: Long, nBatches: Int = 0)

  def init(spark: SparkSession, template: DataFrame): GraphState = {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], template.schema)
    val emptyMembership = empty.select(col("vec_id"),
      lit(0L).as("bucket")).filter(lit(false))
    GraphState(
      vectors = empty,
      lshCapped = emptyMembership,
      ivfCapped = emptyMembership,
      edges = empty.select(col("vec_id").as("src"),
        col("vec_id").as("dst"), lit(0.0).as("cosine")).filter(lit(false)),
      nIngested = 0L)
  }

  /** Admit incoming (vec_id, bucket) rows into a capped membership:
    * remaining capacity per bucket, filled in vec_id order. Under
    * vec_id-ordered arrival this IS the batch side's smallest-vec_id
    * election, append-only. */
  private def admit(existing: DataFrame, incoming: DataFrame,
                    bucketCap: Int): DataFrame = {
    val occ = existing.groupBy("bucket").agg(count(lit(1)).as("__occ"))
    val wB = Window.partitionBy("bucket").orderBy("vec_id")
    incoming.join(occ, Seq("bucket"), "left")
      .na.fill(0L, Seq("__occ"))
      .withColumn("__rn", row_number().over(wB))
      .filter(col("__rn") + col("__occ") <= bucketCap)
      .select("vec_id", "bucket")
  }

  /** Fold one arriving vector batch into the index state. Per-batch
    * DELTAS and the re-folded edge table are eagerly materialized; the
    * accumulated frames grow by the one [[graft.ops.Materialize.append]]
    * rule (shared with [[IncrementalCuration.ingestBatch]]), so eager
    * work per batch is delta-proportional. The raw-arrival count is an
    * `Observation` on the batch, filled by the fresh delta's
    * materialization — no job of its own. */
  def ingestBatch(state: GraphState, batch: DataFrame,
                  planesDf: DataFrame, m: Int = 8,
                  bucketCap: Int = 64): GraphState = {
    val sc = batch.sparkSession.sparkContext
    val nb = state.nBatches + 1
    val arrived = Observation()
    // the accepted ids grow with the corpus: shuffled and hashed, never
    // broadcast
    val fresh = batch
      .observe(arrived, count(lit(1)).as("n"))
      .join(state.vectors.select("vec_id").hint("shuffle_hash"),
        Seq("vec_id"), "left_anti")
      .materialized

    val freshLsh = Similarity.lshBuckets(fresh, planesDf)
    val freshIvf = Similarity.ivfMembership(fresh)

    // the two per-partitioning admissions are independent small jobs —
    // submit them from futures so their stages interleave instead of
    // serializing (the sim21 concurrent-jobs pattern; the ConcurrentJobs
    // pool carries the caller's job description onto its worker threads)
    val fLsh = ConcurrentJobs.submit(sc)(
      admit(state.lshCapped, freshLsh, bucketCap).materialized)
    val fIvf = ConcurrentJobs.submit(sc)(
      admit(state.ivfCapped, freshIvf, bucketCap).materialized)
    val newLsh = Await.result(fLsh, Duration.Inf)
    val newIvf = Await.result(fIvf, Duration.Inf)

    // fresh-vs-all co-occupant pairs, BOTH directions, per partitioning —
    // the batch that admits a pair's later endpoint generates it; the
    // admitted delta, a subset of `all`, is always the broadcast side
    def newPairs(old: DataFrame, neu: DataFrame): DataFrame = {
      val all = old.unionByName(neu)
      broadcast(neu.select(col("vec_id").as("src"), col("bucket")))
        .join(all.select(col("vec_id").as("dst"), col("bucket")),
          Seq("bucket"))
        .unionByName(
          all.select(col("vec_id").as("src"), col("bucket"))
            .join(broadcast(neu.select(col("vec_id").as("dst"),
              col("bucket"))), Seq("bucket")))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
    }
    val pairs = newPairs(state.lshCapped, newLsh)
      .unionByName(newPairs(state.ivfCapped, newIvf))
      .distinct()

    // between compactions a lazy union of checkpointed deltas — the
    // scoring join below only pulls the pair endpoints out of it, so
    // double-casting and checkpointing the WHOLE corpus here per batch
    // bought nothing
    val allVectors = Materialize.append(state.vectors, fresh, nb)
    val scored = Similarity.scorePairs(
      Similarity.withDoubles(allVectors), pairs)
    // dedupe on the exact triple: a pair regenerated via the other
    // partitioning in a later batch must not double-fill a rank slot
    val edges = Similarity.topMEdges(
      state.edges.unionByName(scored).distinct(), m).materialized

    GraphState(
      vectors = allVectors,
      lshCapped = Materialize.append(state.lshCapped, newLsh, nb),
      ivfCapped = Materialize.append(state.ivfCapped, newIvf, nb),
      edges = edges,
      nIngested = state.nIngested + Materialize.observedCount(arrived),
      nBatches = nb)
  }

  /** Snapshot graph: the shared NN-descent refinement over the maintained
    * seed edges — identical to batch [[Similarity.knnGraph]] once the
    * seed tiers are equal. */
  def snapshotGraph(state: GraphState, m: Int = 8,
                    descentRounds: Int = 1): DataFrame =
    Similarity.descend(state.vectors, state.edges, m, descentRounds)

  /** Snapshot search: the shared beam search over the snapshot graph —
    * identical to batch [[Similarity.graphAnnTopK]]. */
  def snapshotSearch(state: GraphState, queryMod: Int = 100, k: Int = 5,
                     m: Int = 8, beam: Int = 10, hops: Int = 3,
                     descentRounds: Int = 1,
                     queryCap: Long = Long.MaxValue): DataFrame =
    Similarity.searchGraph(state.vectors,
      snapshotGraph(state, m, descentRounds), queryMod, k, beam, hops,
      queryCap)
}
