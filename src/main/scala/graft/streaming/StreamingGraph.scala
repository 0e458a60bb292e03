package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming twin of the graph family (g1/g2's edge distillation): the
  * corpus-linear half of [[graft.analytics.Graph.pagerank]] — the
  * per-(src, dst) edge-count aggregate — run as an INCREMENTAL streaming
  * aggregation, so a link graph stays current as documents arrive instead
  * of re-scanning the corpus per refresh.
  *
  * Division of labor (the ev20 composition pattern): the stream maintains
  * only the stateful edge-count aggregate (per-key running counts — state
  * is one row per DISTINCT edge, never per document); the power iteration
  * is [[graft.analytics.Graph.fromEdgeCounts]], shared verbatim with the
  * batch query, applied to any snapshot of the streamed counts.
  * StreamingSpec proves snapshot == batch g1 under shuffled micro-batches
  * — including edges whose occurrences arrive in different batches (the
  * running count carries across).
  *
  * At 100 TB: the edge-count state is bounded by the DISTINCT edge set
  * (hosts², not documents), partitioned by (src, dst) — the same key the
  * batch aggregate shuffles on. */
object StreamingGraph {

  /** The host name of host number `k`: `h<k>.example.com`. */
  private def host(k: Column): Column =
    concat(lit("h"), k.cast("string"), lit(".example.com"))

  /** g1's host-graph edge projection, stateless per document — shared by
    * the batch query and the stream (one code path, the twin invariant). */
  def toEdgeEvents(docs: DataFrame): DataFrame =
    docs.select(host(col("doc_id") % 13).as("src"),
        host((col("doc_id") * 7 + 3) % 13).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** g3's host-graph edge projection (40 hosts, every edge step a multiple
    * of 4 — the planted mod-4 components), stateless per document; shared
    * by the batch query and the stream like [[toEdgeEvents]]. */
  def toComponentEdgeEvents(docs: DataFrame): DataFrame = {
    val a = col("doc_id") % 40
    val step = (expr("doc_id div 40") % 9 + 1) * 4
    docs.select(host(a).as("src"), host((a + step) % 40).as("dst"))
  }

  /** g2/g4's two-target host-graph projection (affine + quadratic residue
    * links over 13 hosts), stateless per document. The residue term
    * reduces mod 13 BEFORE squaring: (doc_id % 13)² is at most 144,
    * whereas doc_id² silently wraps the Long above doc_id ≈ 3.04e9 in
    * Spark while DuckDB raises on BIGINT overflow — mathematically
    * identical mod 13 for the non-negative doc_id domain, and now
    * overflow-free at any scale factor. */
  def toHitsEdgeEvents(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array(
        (col("doc_id") * 7 + 3) % 13,
        ((col("doc_id") % 13) * (col("doc_id") % 13) + 1) % 13)).as("dk"))
      .select(host(col("doc_id") % 13).as("src"), host(col("dk")).as("dst"))
      .filter(col("src") =!= col("dst"))

  /** The incremental edge-count aggregate over an edge-event stream.
    * Complete/update output carries (src, dst, cnt) — exactly the
    * [[graft.analytics.Graph.fromEdgeCounts]] input shape, and (projected
    * to its distinct (src, dst) pairs) the link shape
    * [[graft.analytics.Graph.connectedComponents]] and
    * [[graft.analytics.Graph.hits]] consume — all three kernels compose
    * over a snapshot of this one stateful aggregate. */
  def edgeCountsStream(spark: SparkSession, edges: DataFrame): DataFrame =
    edges.groupBy("src", "dst").agg(count(lit(1)).as("cnt"))
}
