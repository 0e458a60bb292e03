package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.Materialize
import graft.ops.Num

/** Graph analytics over edge lists distilled from a corpus-sized table.
  *
  * The division of labor the 100 TB design wants: the CORPUS pays exactly
  * one edge-count aggregate (linear, map-side combined); every iteration
  * then runs on the aggregated graph. [[pagerank]] keeps the distributed
  * join form — a general graph's node set is NOT bounded (contrast
  * [[Transitions.stationaryDistribution]], whose (event types)² kernel
  * collapses to one row of arrays) — but broadcasts the rank vector into
  * each step, so a bounded graph costs constant stage overhead and a huge
  * one degrades to shuffle joins without a code change. */
object Graph {

  /** PageRank over a (src, dst) link table: damping 0.85, `iters` power
    * iterations, edge weights by out-link counts. Per-iteration incoming
    * sums round tie-safe at 12 so cross-engine summation ulps can't
    * compound (the oracle unrolls the identical iterations); the report
    * rounds at 6. No dangling-mass redistribution: a sink node keeps its
    * teleport share and leaks the rest — documented, and pinned by
    * GraphSpec's star fixture. */
  def pagerank(links: DataFrame, iters: Int = 10): DataFrame =
    fromEdgeCounts(links.groupBy("src", "dst")
      .agg(count(lit(1)).as("cnt")), iters)

  /** [[pagerank]] over an ALREADY-AGGREGATED (src, dst, cnt) edge-count
    * table — the kernel the streaming twin shares verbatim: a streamed
    * incremental edge-count aggregate (update-mode groupBy state) snapshots
    * to exactly this shape, so stream == batch reduces to the aggregate
    * equality the StreamingSpec harness proves (the ev20 composition
    * pattern). */
  def fromEdgeCounts(edgeCounts: DataFrame, iters: Int = 10): DataFrame = {
    val edges = Materialize(edgeCounts)
    val outCnt = edges.groupBy("src").agg(sum("cnt").as("out_cnt"))
    val ew = Materialize(edges.join(outCnt, "src")
      .select(col("src"), col("dst"),
        (col("cnt").cast("double") / col("out_cnt")).as("w")))
    val (nodes, nn, start) = nodeSet(edges, "r")
    var rank = start
    // broadcast the vector into each step: the per-iteration cost is pure
    // stage overhead on constant-size frames — a shuffle join would double
    // the stages for node-count-sized inputs
    for (_ <- 1 to iters) {
      val contrib = ew.join(broadcast(rank.withColumnRenamed("host", "src")),
          "src")
        .groupBy(col("dst")).agg(sum(col("r") * col("w")).as("s"))
        .withColumnRenamed("dst", "host")
      rank = nodes.join(broadcast(contrib), Seq("host"), "left")
        .crossJoin(broadcast(nn))
        .select(col("host"), Num.cround(
          lit(0.15) / col("__n") + lit(0.85) * coalesce(col("s"), lit(0.0)),
          12).as("r"))
    }
    val inCnt = edges.groupBy(col("dst").as("host"))
      .agg(sum("cnt").as("in_links"))
    rank
      .join(inCnt, Seq("host"), "left")
      .join(outCnt.withColumnRenamed("src", "host")
        .withColumnRenamed("out_cnt", "out_links"), Seq("host"), "left")
      .select(col("host"), Num.cround(col("r"), 6).as("pagerank"),
        coalesce(col("in_links"), lit(0L)).as("in_links"),
        coalesce(col("out_links"), lit(0L)).as("out_links"))
      .orderBy("host")
  }

  /** The materialized node set `host` of an edge table, its size `__n`,
    * and the uniform start vector (host, `score`), which sums to 1. */
  private def nodeSet(edges: DataFrame, score: String): (DataFrame, DataFrame, DataFrame) = {
    val nodes = Materialize(edges.select(col("src").as("host"))
      .union(edges.select(col("dst"))).distinct())
    val nn = nodes.agg(count(lit(1)).as("__n"))
    (nodes, nn, nodes.crossJoin(broadcast(nn))
      .select(col("host"), (lit(1.0) / col("__n")).as(score)))
  }

  /** Connected components over an edge list, by iterative min-label
    * propagation: every node starts labeled with itself; each round every
    * node takes the LEAST of its own label and its neighbors' labels
    * (edges symmetrized, so propagation is undirected). `iters` caps the
    * rounds: the loop stops at the first round that changes no label. The
    * round is deterministic, so every later round would be a no-op too, and
    * the result equals `iters` unconditional rounds on every input. Every
    * node within distance `iters` of its component's lexicographic-minimum
    * node carries that minimum — `iters` must be >= the graph diameter for
    * full convergence (the caller's contract).
    *
    * Same division of labor as [[pagerank]]: the corpus pays one distinct
    * over the self-looped undirected edge set, then each round is one
    * checkpoint on the AGGREGATED graph, with the node-sized label frame
    * broadcast into it. Labels are exact strings — no floating point
    * anywhere, so cross-engine equality is structural. This is the
    * general-graph sibling of [[graft.ext.Dedup]]'s min-label clustering
    * over LSH candidate pairs. */
  def connectedComponents(links: DataFrame, iters: Int = 10): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // self-loops fold the keep-own-label branch into the same MIN as the
    // neighbor labels, so every round references the label frame exactly
    // ONCE — double-referencing it (neighbor join + coalesce join) doubles
    // the logical plan per round and the optimizer chokes on 2^iters
    val (src, dst) = (col("src"), col("dst"))
    val edges = Materialize(links.filter(src =!= dst)
      .select(explode(array(struct(src.as("a"), dst.as("b")),
        struct(dst.as("a"), src.as("b")), struct(src.as("a"), src.as("b")),
        struct(dst.as("a"), dst.as("b")))).as("e"))
      .select("e.*").distinct())
    var lbl = edges.filter(col("a") === col("b"))
      .select(col("a").as("host"), col("a").as("comp"))
    var (round, changed) = (0, 1L)
    while (changed > 0 && round < iters) {
      // the self-loop edge carries the node's old label as prev, so the
      // convergence count rides the round's checkpoint
      val (next, n) = Materialize.counting(edges
        .join(broadcast(lbl.withColumnRenamed("host", "a")), "a")
        .groupBy(col("b").as("host")).agg(min("comp").as("comp"),
          max(when(col("a") === col("b"), col("comp"))).as("prev")),
        col("comp") =!= col("prev"))
      lbl = next.select("host", "comp")
      changed = n
      round += 1
    }
    lbl.select(col("host"), col("comp").as("component"),
        count(lit(1)).over(Window.partitionBy("comp")).as("component_size"))
      .orderBy("host")
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED distinct
    * edge set: `iters` mutual-reinforcement rounds — authority(v) =
    * Σ_{u→v} hub(u), then hub(u) = Σ_{u→v} authority(v) — each half
    * L1-normalized so scores sum to 1 (the SQL-friendly normalization: no
    * sqrt, and relative ranking is what the hub/authority read is for).
    * Per-half incoming sums and the normalized ratios round tie-safe at
    * 12 (the [[pagerank]] cross-engine lockstep contract — the oracle
    * unrolls identical iterations); the report rounds at 6.
    *
    * Shape: the corpus pays one distinct-edge aggregate; each round is
    * two broadcast joins + two tiny aggregates over the bounded graph —
    * constant stage overhead, like [[pagerank]]'s loop. Nodes with no
    * in-links hold authority 0; no out-links, hub 0. */
  def hits(links: DataFrame, iters: Int = 10): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val edges = Materialize(
      links.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    val (nodes, _, start) = nodeSet(edges, "h")
    var hub = start
    var auth: DataFrame = null
    // global window over the BOUNDED node frame, so normalization
    // references its input exactly once — a total-aggregate cross join
    // would double the logical plan per half-round (2^(2*iters): the
    // connectedComponents lesson)
    val all = Window.partitionBy()
    def l1Normalize(raw: DataFrame, c: String): DataFrame =
      raw.select(col("host"), Num.cround(
        col(c) / Num.cround(sum(c).over(all), 12), 12).as(c))
    for (i <- 1 to iters) {
      val aRaw = edges
        .join(broadcast(hub.withColumnRenamed("host", "src")), "src")
        .groupBy(col("dst").as("host"))
        .agg(Num.cround(sum("h"), 12).as("a"))
      // one materialization per FULL round, not per half: the auth half is
      // referenced exactly once by the hub half (broadcast build side), so
      // it rides the hub job lazily — plan depth per job stays one round
      // (shallow, the property the half-round split bought at 13 s -> 2.8 s)
      // with HALF the blocking jobs. The LAST round's auth feeds the hub
      // half AND the final report, so it checkpoints first — the report
      // then reads the checkpoint instead of recomputing the subtree (the
      // r13 form paid the last auth half twice). An r14 back-to-back A/B
      // (6 samples each, one window) measured the half-round-materialized
      // r12 form, this form, and a joint (h, a)-per-round frame within
      // ±0.4 s of each other at sf0.1 — the r13 driver delta was host
      // noise; this form keeps the fewest jobs with zero recompute.
      auth = l1Normalize(
        nodes.join(broadcast(aRaw), Seq("host"), "left")
          .select(col("host"), coalesce(col("a"), lit(0.0)).as("a")), "a")
      if (i == iters) auth = Materialize(auth)
      val hRaw = edges
        .join(broadcast(auth.withColumnRenamed("host", "dst")), "dst")
        .groupBy(col("src").as("host"))
        .agg(Num.cround(sum("a"), 12).as("h"))
      hub = Materialize(l1Normalize(
        nodes.join(broadcast(hRaw), Seq("host"), "left")
          .select(col("host"), coalesce(col("h"), lit(0.0)).as("h")), "h"))
    }
    hub.join(broadcast(auth), "host")
      .select(col("host"), Num.cround(col("h"), 6).as("hub"),
        Num.cround(col("a"), 6).as("authority"))
      .orderBy("host")
  }
}
