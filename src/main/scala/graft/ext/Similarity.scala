package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize.MaterializeOps

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * - Brute-force cosine top-k is the correctness baseline: broadcast the
  *   (small) query set against the full corpus — one scan, no shuffle of
  *   the corpus, per-partition top-k before the final merge.
  * - The scale path is random-hyperplane LSH: 8 deterministic pseudo-random
  *   hyperplanes -> 256 buckets; candidates share the query's bucket, so
  *   the pairwise work drops ~256x. Buckets are computed in one pass
  *   (posexplode + broadcast plane join + two partial aggregates).
  *
  * Vector math: the pairwise hot paths score with the native fused
  * [[graft.functions.CosineSimilarity]] expression (whole-stage codegen,
  * one loop, no intermediate arrays). The higher-order-function forms
  * (`dot`/`norm`) are kept for single-pass derivations and as the
  * declarative cross-check — note Spark evaluates HOF lambdas
  * INTERPRETED, not codegen'd, so they don't belong in an n_queries ×
  * n_vectors inner loop. Both paths add elements in index order, so they
  * are bit-identical and the oracle hash is unaffected by the swap.
  */
object Similarity {

  /** Double-precision dot product of two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Euclidean norm of a float-array column (double precision). */
  def norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Query-set predicate for the sampled retrieval fixtures. The default
    * (`queryCap == Long.MaxValue`) is the probe-friendly corpus-growing
    * sample `vec_id ≡ 0 (mod queryMod)`; a finite cap pins the batch to
    * the FIXED production shape — `vec_id ≡ 0 (mod queryMod)` below the
    * cap — which stops growing once the corpus passes the cap, making the
    * corpus × queries scan LINEAR in the corpus (the e4 recipe). The cap
    * branch appends nothing when unset so the default plans are
    * byte-identical to the pre-cap forms. */
  private def queryPred(queryMod: Int, queryCap: Long): Column = {
    val base = col("vec_id") % queryMod === 0
    if (queryCap == Long.MaxValue) base else base && col("vec_id") < queryCap
  }

  /** Double-cast copy of the embedding, computed ONCE per side before the
    * pairwise join so the n_queries x n_vectors dot products don't re-cast
    * every float element per pair. */
  private[graft] def withDoubles(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("emb_d"))

  /** The native fused cosine over pre-cast double arrays, resolved through
    * a graft-namespaced registry entry (`graft_cosine_similarity`) so a
    * user registration of the public `cosine_similarity` name can never
    * shadow the hot path. One codegen'd loop per pair — dot and both norms
    * together, no zip_with/aggregate intermediates — and bit-identical to
    * dot(a,b)/(norm(a)*norm(b)) on clean inputs because both accumulate in
    * index order. Edge semantics differ deliberately: a zero-norm vector
    * scores NULL (sorts last under desc ordering, so it drops out of
    * top-k) where the division form produced NaN (which Spark orders
    * ABOVE every real similarity — a zero vector ranking first is a bug,
    * not a behavior to preserve); null elements are skipped pairwise. */
  private val nativeFnName = "graft_cosine_similarity"
  private def nativeCosine(a: Column, b: Column): Column = {
    val reg = org.apache.spark.sql.SparkSession.active
      .sessionState.functionRegistry
    if (!reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(nativeFnName)))
      reg.createOrReplaceTempFunction(nativeFnName,
        children => graft.functions.CosineSimilarity(children(0), children(1)),
        "built-in")
    call_function(nativeFnName, a, b)
  }

  /** The per-query top-k cut every ranked search here ends with: rank by
    * `score` descending with vec_id as the tiebreak, keep rank <= k. */
  private def topKPerQuery(scored: DataFrame, k: Int,
                           score: String = "cosine"): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col(score).desc, col("vec_id"))))
      .filter(col("rank") <= k)

  /** Recall of an approximate top-k against its exact truth, both keyed
    * (query_id, vec_id): one row of `hits` (truth rows that `approx` also
    * returned — a left-semi membership join, so a repeated approx row
    * counts once), `n_truth`, and `recall` = hits / n_truth,
    * tie-safe-rounded at 6. An empty truth reads hits = 0, n_truth = 0 and
    * a NULL recall — the DuckDB oracle's answer for the same division,
    * where a plain ANSI divide would throw DIVIDE_BY_ZERO. The only recall
    * computation in the engine: the sim20/sim22 reports, the sim21
    * scorecard and ExtSpec's recall gates all read it. */
  def recall(truth: DataFrame, approx: DataFrame): DataFrame = {
    val t = truth.select("query_id", "vec_id")
    t.join(approx.select("query_id", "vec_id"),
        Seq("query_id", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(t.agg(count(lit(1)).as("n_truth"))))
      .select(col("hits"), col("n_truth"), graft.ops.Num.cround(
        try_divide(col("hits").cast("double"), col("n_truth")), 6)
        .as("recall"))
  }

  /** Brute-force cosine top-k: deterministic query subset
    * (vec_id % queryMod == 0, optionally capped below `queryCap` — the
    * fixed-batch production shape) against the full corpus. Ranking uses
    * the comparison-rounded cosine (ties broken by vec_id) so results are
    * engine-reproducible. */
  def bruteForceTopK(emb: DataFrame, queryMod: Int = 100, k: Int = 5,
                     queryCap: Long = Long.MaxValue): DataFrame = {
    val withNorm = withDoubles(emb)
    val queries = withNorm.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))
    val scored = withNorm.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_emb")), 6))
    topKPerQuery(scored, k).select("query_id", "rank", "vec_id", "cosine")
  }

  /** Two-stage prefix-dimension rerank top-k — the Matryoshka-retrieval
    * pattern (coarse rank on a short embedding prefix, exact rerank on the
    * full vector; Kusupati et al., "Matryoshka Representation Learning",
    * NeurIPS 2022):
    *
    *   stage 1 scores the WHOLE corpus with only the first `pdims`
    *   dimensions (a pdims/dims fraction of the multiply-add work of the
    *   brute-force scan) and keeps a per-query `shortlist` via the bounded
    *   native `top_k_by` aggregate — partial aggregation reduces every map
    *   partition to <= shortlist pairs per query BEFORE the shuffle, so no
    *   per-query sort ever sees the corpus;
    *
    *   stage 2 re-scores ONLY the shortlist (n_queries x shortlist rows,
    *   broadcast back against the corpus to fetch full vectors) with
    *   full-dimension cosine and ranks the final k. The stage-2 window runs
    *   over that bounded shortlist table, never corpus-sized partitions.
    *
    * Both stages rank by the tie-safe-ROUNDED cosine with vec_id as
    * tiebreak, so the shortlist boundary and the final ranking are
    * engine-reproducible. A zero-norm prefix scores NULL in stage 1
    * ([[nativeCosine]] semantics) and drops from the shortlist.
    *
    * This is approximate by design: a candidate whose prefix disagrees with
    * its full vector can miss the shortlist (ExtSpec proves both the miss
    * and that widening the shortlist recovers it). At shortlist >= corpus
    * and pdims = dims it degenerates to [[bruteForceTopK]] exactly. */
  def prefixRerankTopK(emb: DataFrame, pdims: Int = 16, shortlist: Int = 20,
                       queryMod: Int = 100, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    val base = withDoubles(emb)
    val pre = base.select(col("vec_id"),
      slice(col("emb_d"), 1, pdims).as("emb_p"))
    val pQueries = pre.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb_p").as("q_p"))
    val short = pre.join(broadcast(pQueries), col("vec_id") =!= col("query_id"))
      .withColumn("pre_cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_p"), col("q_p")), 6))
      .groupBy("query_id")
      .agg(expr(s"top_k_by(pre_cosine, vec_id, $shortlist)").as("tk"))
      .select(col("query_id"), explode(col("tk")).as("t"))
      .select(col("query_id"), col("t.id").as("vec_id"),
        col("t.score").as("pre_cosine"))
    val qFull = base.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_d"))
    val scored = base.join(broadcast(short), "vec_id")
      .join(broadcast(qFull), "query_id")
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_d")), 6))
    topKPerQuery(scored, k)
      .select("query_id", "rank", "vec_id", "cosine", "pre_cosine")
  }

  /** Deterministic pseudo-random hyperplanes: weight(plane p, dim d) =
    * (md5-derived integer in [-1000, 1000]) / 1000. Reproducible from public
    * md5 alone — no RNG state to ship to executors. */
  def planes(spark: SparkSession, nPlanes: Int = 8, dims: Int = 64): DataFrame =
    spark.range(nPlanes).withColumnRenamed("id", "p")
      .crossJoin(spark.range(1, dims + 1).withColumnRenamed("id", "d"))
      .withColumn("w",
        (conv(substring(md5(concat(col("p"), lit("_"), col("d"))), 1, 8), 16, 10)
          .cast("long") % 2001 - 1000).cast("double") / 1000.0)

  /** Sign-bucket per vector: bit p = (v . plane_p > 0); bucket in
    * [0, 2^nPlanes). One posexplode + broadcast join + aggregate. */
  def lshBuckets(emb: DataFrame, planesDf: DataFrame, nPlanes: Int = 8): DataFrame = {
    val exploded = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("d", col("pos") + 1)
    val dots = exploded.join(broadcast(planesDf), "d")
      .groupBy("vec_id", "p")
      .agg(sum(col("v").cast("double") * col("w")).as("pdot"))
    dots.groupBy("vec_id")
      .agg(sum(when(col("pdot") > 0,
        pow(lit(2.0), col("p")).cast("long")).otherwise(0L)).as("bucket"))
  }

  /** IVF coarse quantizer: deterministic anchor vectors (md5-derived, same
    * recipe as `planes` with a different salt). Real IVF learns centroids
    * with k-means; a fixed pseudo-random codebook keeps the operator
    * oracle-checkable while preserving the IVF execution shape: assign
    * every vector to its nearest list once, then search only the query's
    * nprobe nearest lists. */
  def ivfAnchors(spark: SparkSession, nLists: Int = 16, dims: Int = 64): DataFrame =
    spark.range(nLists).withColumnRenamed("id", "c")
      .crossJoin(spark.range(1, dims + 1).withColumnRenamed("id", "d"))
      .withColumn("w",
        (conv(substring(md5(concat(col("c"), lit("~"), col("d"))), 1, 8), 16, 10)
          .cast("long") % 2001 - 1000).cast("double") / 1000.0)

  /** Learned IVF codebook: Lloyd's k-means over the corpus, refining the
    * fixed md5 codebook for `iters` iterations. It is [[lloyd]] with one
    * subspace spanning all `dims` coordinates, seeded by [[ivfAnchors]]:
    * the same loop, argmin and rounding that train the PQ codebooks. The
    * learned path is spec-checked by recall, while sim3's oracle path keeps
    * the fixed codebook. To train on a slice of a large corpus, filter
    * `emb` first. Output (c, d, w), the [[ivfAnchors]] layout. */
  def learnIvfAnchors(emb: DataFrame, nLists: Int = 16, dims: Int = 64,
                      iters: Int = 3): DataFrame =
    lloyd(exploded(emb),
      ivfAnchors(emb.sparkSession, nLists, dims)
        .select(lit(0L).as("s"), col("c"), col("d"), col("w")),
      dims, iters)
      .select("c", "d", "w")

  /** Anchor-similarity scores per vector: (vec_id, c, score) where score =
    * dot(v, anchor_c) / |anchor_c| (|v| constant across lists, dropped). */
  private[graft] def anchorScores(emb: DataFrame, anchors: DataFrame): DataFrame = {
    val anorm = anchors.groupBy("c").agg(sqrt(sum(col("w") * col("w"))).as("anorm"))
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("d", col("pos") + 1)
      .join(broadcast(anchors), "d")
      .groupBy("vec_id", "c")
      .agg(sum(col("v").cast("double") * col("w")).as("adot"))
      .join(broadcast(anorm), "c")
      .withColumn("score", col("adot") / col("anorm"))
  }

  /** IVF top-k: assign each vector to its single nearest list, search the
    * query's `nprobe` nearest lists only. Pairwise work drops ~nLists/nprobe
    * vs brute force; the inverted-list layout is exactly the partition/
    * bucket layout a 100 TB deployment stores the corpus in. */
  def ivfTopK(emb: DataFrame, anchors: DataFrame, queryMod: Int = 100,
              k: Int = 3, nprobe: Int = 2,
              queryCap: Long = Long.MaxValue): DataFrame = {
    val scores = anchorScores(emb, anchors)
    val wBest = Window.partitionBy("vec_id").orderBy(desc("score"), col("c"))
    val assigned = scores.withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") === 1).select(col("vec_id"), col("c").as("list_id"))

    val vecs = withDoubles(emb).join(assigned, "vec_id")
    val probes = scores.filter(queryPred(queryMod, queryCap))
      .withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("c").as("list_id"))
    val queries = withDoubles(emb).filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))
      .join(probes, "query_id")

    val scored = vecs.join(broadcast(queries), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_emb")), 6))
    topKPerQuery(scored, k)
      .select("query_id", "rank", "vec_id", "list_id", "cosine")
  }

  /** k-NN majority-vote classification over the IVF shortlist — the
    * retrieval-based classifier next to e2's nearest-centroid (Rocchio):
    * e2 votes with ONE prototype per class, k-NN votes with the k actual
    * nearest neighbors, so it follows local class boundaries a centroid
    * smooths away. Prediction = most-voted neighbor label, tie-broken
    * (votes desc, label asc) — deterministic cross-engine; `agreement` =
    * vote share, the usable confidence signal.
    *
    * Scale shape: everything heavy is [[ivfTopK]] (bounded per-query
    * candidates); the vote runs over the k·|queries| shortlist, and the
    * two label joins key the shortlist against the corpus's (vec_id,
    * label) projection — payload-free. */
  def knnClassify(emb: DataFrame, anchors: DataFrame, queryMod: Int = 100,
                  k: Int = 5, nprobe: Int = 2): DataFrame = {
    val nn = ivfTopK(emb, anchors, queryMod, k, nprobe)
      .join(emb.select(col("vec_id"), col("label").as("n_label")), "vec_id")
    val totals = nn.groupBy("query_id").agg(count(lit(1)).as("n_total"))
    val wv = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("n_label"))
    nn.groupBy("query_id", "n_label").agg(count(lit(1)).as("n_votes"))
      .withColumn("rnk", row_number().over(wv)).filter(col("rnk") === 1)
      .join(totals, "query_id")
      .join(emb.select(col("vec_id").as("query_id"),
        col("label").as("true_label")), "query_id")
      .select(col("query_id"), col("n_label").as("predicted_label"),
        col("n_votes").cast("int").as("n_votes"),
        col("n_total").cast("int").as("n_neighbors"),
        graft.ops.Num.cround(col("n_votes") / col("n_total"), 6)
          .as("agreement"),
        col("true_label"),
        (col("n_label") === col("true_label")).as("correct"))
  }

  /** Metadata-filtered IVF search — the "filtered vector search" every
    * production retrieval stack needs (search only docs matching a
    * predicate: a tenant, a category, a date range). PRE-filter strategy:
    * the predicate restricts the candidate corpus BEFORE list probing, so
    * pruned lists shrink and no post-hoc k-shortfall correction is needed
    * — the right default when the filter is broad (here: a label class
    * keeping ~1/3 of the corpus). A selectivity-adaptive engine would
    * flip to brute force over the survivors when the filter keeps <~ k *
    * nLists vectors; that cutover is a planner choice, not a semantics
    * change — both strategies return exactly this result.
    *
    * Queries stay UNfiltered (any caller may search the filtered slice);
    * list assignment is per-vector independent (nearest anchor), so
    * filtering before or after assignment is provably the same corpus.
    * Scale shape inherits [[ivfTopK]]: anchors broadcast, the corpus
    * shuffles once on list_id, per-query candidates are bounded at
    * nprobe/nLists of the FILTERED corpus. */
  def ivfTopKFiltered(emb: DataFrame, anchors: DataFrame, pred: Column,
                      queryMod: Int = 100, k: Int = 3,
                      nprobe: Int = 2): DataFrame = {
    val corpus = emb.filter(pred)
    val wBest = Window.partitionBy("vec_id").orderBy(desc("score"), col("c"))
    val assigned = anchorScores(corpus, anchors)
      .withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") === 1).select(col("vec_id"), col("c").as("list_id"))
    val vecs = withDoubles(corpus).join(assigned, "vec_id")

    val qset = emb.filter(col("vec_id") % queryMod === 0)
    val probes = anchorScores(qset, anchors)
      .withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("c").as("list_id"))
    val queries = withDoubles(qset)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))
      .join(probes, "query_id")

    val scored = vecs.join(broadcast(queries), Seq("list_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_emb")), 6))
    topKPerQuery(scored, k)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .select("query_id", "rank", "vec_id", "list_id", "label", "cosine")
  }

  /** SemDeDup-style semantic duplicate clusters (Abbas et al. 2023: cluster
    * the embedding space, then pairwise-compare WITHIN clusters only):
    * assign every vector to its nearest IVF anchor, form within-list pairs
    * with tie-safe-rounded cosine >= `minCos`, and run the d6 min-label
    * connected-components pass over them. Returns the (doc_id, cluster_rep)
    * map for every vector in the pair graph — `semanticDedup` keeps one
    * representative per cluster.
    *
    * Scale shape: the pairwise step is quadratic PER LIST, never global —
    * lists are the partition bound, and `maxPerList` caps any hot list
    * exactly like the LSH hot-bucket cap (deterministic smallest-ids
    * survivors). At production scale the anchor count grows with the
    * corpus (SemDeDup uses ~100k clusters for ~100M docs) so the per-list
    * population stays flat; the anchors broadcast, the corpus shuffles
    * once on list_id. */
  def semanticClusters(emb: DataFrame, anchors: DataFrame,
                       minCos: Double = 0.3,
                       maxPerList: Int = 1024): DataFrame =
    Dedup.duplicateClusters(semanticPairs(emb, anchors, minCos, maxPerList))

  /** The candidate-pair half of [[semanticClusters]], split out so PlanSpec
    * can audit its shuffle shape directly (the cluster half checkpoints its
    * iterations, which truncates the visible plan): assign each vector to
    * its best anchor list, cap hot lists, then self-join WITHIN lists only
    * — the one corpus-wide exchange is keyed on list_id. */
  def semanticPairs(emb: DataFrame, anchors: DataFrame,
                    minCos: Double = 0.3,
                    maxPerList: Int = 1024): DataFrame = {
    val scores = anchorScores(emb, anchors)
    val wBest = Window.partitionBy("vec_id").orderBy(desc("score"), col("c"))
    val assigned = scores.withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") === 1).select(col("vec_id"), col("c").as("list_id"))
    val wList = Window.partitionBy("list_id").orderBy("vec_id")
    val capped = withDoubles(emb).join(assigned, "vec_id")
      .withColumn("__ln", row_number().over(wList))
      .filter(col("__ln") <= maxPerList)
      .select("vec_id", "list_id", "emb_d")
    capped.as("a").join(capped.as("b"),
        col("a.list_id") === col("b.list_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("a.emb_d"), col("b.emb_d")), 6))
      .filter(col("cosine") >= minCos)
      .select(col("a.vec_id").as("doc_a"), col("b.vec_id").as("doc_b"))
  }

  /** Keep one representative per semantic cluster (the min vec_id), plus
    * every unclustered vector — the dedup half of [[semanticClusters]]. */
  def semanticDedup(emb: DataFrame, anchors: DataFrame,
                    minCos: Double = 0.3,
                    maxPerList: Int = 1024): DataFrame = {
    val cl = semanticClusters(emb, anchors, minCos, maxPerList)
    emb.join(cl.filter(col("doc_id") =!= col("cluster_rep"))
      .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_anti")
  }

  /** LSH-bucketed cosine top-k: only candidates in the query's bucket are
    * scored. The 2^nPlanes buckets bound the self-join; per-bucket top-k
    * keeps the shuffle payload at k rows per query. */
  def lshTopK(emb: DataFrame, planesDf: DataFrame, queryMod: Int = 100,
              k: Int = 3, nPlanes: Int = 8,
              queryCap: Long = Long.MaxValue): DataFrame = {
    val withNorm = withDoubles(emb)
    val buckets = lshBuckets(emb, planesDf, nPlanes)
    val vecs = withNorm.join(buckets, "vec_id")
    val queries = vecs.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"),
        col("bucket"))
    val scored = vecs.join(broadcast(queries),
        Seq("bucket"), "inner")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_emb")), 6))
    topKPerQuery(scored, k)
      .select("query_id", "rank", "vec_id", "bucket", "cosine")
  }

  /** LSH radius (range) search: every candidate sharing a query's LSH
    * bucket whose exact cosine clears `tau` — "all near neighbors above a
    * threshold", the retrieval analog of the d2→d8 candidate+verify dedup
    * pipeline, where [[lshTopK]] answers "the k nearest". Range search is
    * the primitive behind near-duplicate audit ("show me EVERYTHING this
    * close") and threshold-based retrieval filtering; its result size is
    * data-dependent where top-k's is fixed, so the bucket bound is what
    * keeps it linear (candidates = bucket co-occupants only, never the
    * corpus).
    *
    * Determinism at the boundary: the cosine is tie-safe-ROUNDED (scale 6)
    * before the >= tau compare, so both engines keep the same boundary
    * rows. Shape at scale: identical to [[lshTopK]] minus the per-query
    * window — one corpus pass for buckets, one bounded bucket-keyed join,
    * no top-k sort at all (a pure filter), so the operator is
    * embarrassingly parallel after the candidate join. */
  def lshRangeSearch(emb: DataFrame, planesDf: DataFrame,
                     queryMod: Int = 100, tau: Double = 0.25,
                     nPlanes: Int = 8): DataFrame = {
    val withNorm = withDoubles(emb)
    val buckets = lshBuckets(emb, planesDf, nPlanes)
    val vecs = withNorm.join(buckets, "vec_id")
    val queries = vecs.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"),
        col("bucket"))
    vecs.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_emb")), 6))
      .filter(col("cosine") >= tau)
      .select("query_id", "vec_id", "bucket", "cosine")
  }

  /** Multi-probe variant of [[lshTopK]] (Lv et al., "Multi-Probe LSH:
    * Efficient Indexing for High-Dimensional Similarity Search", VLDB
    * 2007): each query searches its own bucket PLUS the `probes` buckets
    * reached by flipping the sign bit of its lowest-margin hyperplanes —
    * the planes whose |dot| is smallest are the ones a true neighbor most
    * likely lands on the other side of, so first-order single-bit flips
    * recover most of the recall lost to bucket boundaries at a (probes+1)×
    * candidate cost instead of the 2^planes-fold cost of using fewer
    * planes. COVERAGE.md round 9 on the sf0.1 fixture: 0.030 recall@5
    * for the single-probe registered config → see that table for the
    * probes sweep.
    *
    * Cross-engine determinism: the flip ranking orders planes by the
    * tie-safe-ROUNDED |dot| (scale 6) with the plane id as tiebreak, the
    * same discipline every ranking in this file uses — an unrounded rank
    * on a float sum would let summation-order ulps pick different probe
    * buckets on different engines. A candidate lives in exactly one
    * bucket and the probed buckets are distinct (base XOR single bits),
    * so no candidate dedup is needed. `probes = 0` degenerates to
    * [[lshTopK]] exactly (ExtSpec proves it).
    *
    * Shape at scale: identical to [[lshTopK]] — one corpus pass for plane
    * dots, bounded per-bucket candidate join, per-query top-k; the probe
    * expansion multiplies only the (tiny, broadcast) query side. */
  def lshTopKMultiProbe(emb: DataFrame, planesDf: DataFrame,
                        queryMod: Int = 100, k: Int = 3, nPlanes: Int = 8,
                        probes: Int = 2,
                        queryCap: Long = Long.MaxValue): DataFrame = {
    val withNorm = withDoubles(emb)
    val dots = emb.select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("d", col("pos") + 1)
      .join(broadcast(planesDf), "d")
      .groupBy("vec_id", "p")
      .agg(sum(col("v").cast("double") * col("w")).as("pdot"))
    val buckets = dots.groupBy("vec_id")
      .agg(sum(when(col("pdot") > 0,
        pow(lit(2.0), col("p")).cast("long")).otherwise(0L)).as("bucket"))
    val vecs = withNorm.join(buckets, "vec_id")

    val qBase = buckets.filter(queryPred(queryMod, queryCap))
    val wFlip = Window.partitionBy("vec_id")
      .orderBy(graft.ops.Num.cround(abs(col("pdot")), 6), col("p"))
    val flips = dots.filter(queryPred(queryMod, queryCap))
      .withColumn("__rnk", row_number().over(wFlip))
      .filter(col("__rnk") <= probes)
      .select(col("vec_id"), pow(lit(2.0), col("p")).cast("long").as("__bit"))
    val probeBuckets = qBase
      .unionAll(qBase.join(flips, "vec_id")
        .select(col("vec_id"), col("bucket").bitwiseXOR(col("__bit")).as("bucket")))
    val queries = withNorm.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))
      .join(probeBuckets.withColumnRenamed("vec_id", "query_id"), "query_id")

    val scored = vecs.join(broadcast(queries), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_emb")), 6))
    topKPerQuery(scored, k)
      .select("query_id", "rank", "vec_id", "bucket", "cosine")
  }

  /** Bounded-degree k-NN graph over the corpus — the index half of the
    * graph-based ANN family (the architecture class HNSW/NSG occupy;
    * Malkov & Yashunin, "Efficient and robust approximate nearest
    * neighbor search using Hierarchical Navigable Small World graphs",
    * TPAMI 2020). Construction is Spark-native NN-descent (Dong, Moses &
    * Li, "Efficient K-Nearest Neighbor Graph Construction for Generic
    * Similarity Measures", WWW 2011): seed each node's candidate set from
    * its LSH bucket co-occupants (the sim2 bucketing, hot buckets capped
    * at `bucketCap` rows — the d2 discipline, so no bucket ever goes
    * quadratic) UNIONED with its IVF-list co-occupants (the sim3
    * assignment, same cap), keep the top-`m` by exact cosine, then refine
    * `descentRounds` times with the neighbors-of-neighbors expansion
    * (≤ m² candidates per node, the NN-descent kernel). TWO independent
    * seed partitionings matter: a single hashing's buckets PARTITION the
    * corpus, so descent's two-hop expansion can never leave a bucket's
    * clique — seeds from a second, differently-shaped partitioning give
    * descent the cross-boundary bridges it needs (measured on the planted
    * fixture: LSH-only seeding pinned recall at its 0.31 seed quality;
    * the dual seeding is the NN-descent analog of multi-table LSH).
    *
    * Shape at scale: every stage is bounded-per-node — both seed joins
    * are cap-bounded, each descent round is two self-joins of an (n × m)
    * edge table plus one bounded rescore, and the output is exactly
    * n × m edges. No stage ever holds a corpus × corpus frame.
    * Determinism: every ranking compares the tie-safe-ROUNDED cosine
    * (scale 6) with dst as tiebreak; bucket caps order by vec_id.
    * Output: (src, dst, cosine), directed, top-m per src. */
  def knnGraph(emb: DataFrame, planesDf: DataFrame, m: Int = 8,
               nPlanes: Int = 8, bucketCap: Int = 64,
               descentRounds: Int = 1): DataFrame = {
    // ONE double-cast checkpoint shared by the seed scoring and every
    // descent round — seedEdges and descend each built their own full
    // copy when called back-to-back
    import graft.ops.Materialize.MaterializeOps
    val withNorm = withDoubles(emb).materialized
    descendFrom(withNorm,
      seedEdgesFrom(withNorm, emb, planesDf, m, nPlanes, bucketCap),
      m, descentRounds)
  }

  /** Exact-cosine scoring of a bounded (src, dst) pair table against the
    * double-cast corpus — shared by the seed, descent, and incremental
    * maintenance paths (one kernel, the twin invariant). */
  private[graft] def scorePairs(withNorm: DataFrame,
                                pairs: DataFrame): DataFrame =
    pairs
      .join(withNorm.select(col("vec_id").as("src"),
        col("emb_d").as("__se")), Seq("src"))
      .join(withNorm.select(col("vec_id").as("dst"),
        col("emb_d").as("__de")), Seq("dst"))
      .select(col("src"), col("dst"), graft.ops.Num.cround(
        nativeCosine(col("__se"), col("__de")), 6).as("cosine"))

  /** Keep each src's top-`m` out-edges (rounded cosine desc, dst
    * tiebreak). Top-m is MERGEABLE under edge additions — top-m(top-m(A)
    * ∪ B) == top-m(A ∪ B) — which is what makes the incremental index's
    * per-batch fold exact ([[IncrementalAnnIndex]]). */
  private[graft] def topMEdges(scored: DataFrame, m: Int): DataFrame = {
    val w = Window.partitionBy("src")
      .orderBy(col("cosine").desc, col("dst"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= m)
      .select("src", "dst", "cosine")
  }

  /** The dual-partitioning membership tables the seed pairs come from:
    * LSH buckets and IVF-list assignment, each capped at `bucketCap`
    * members per bucket (smallest vec_ids — an ORDER-INDEPENDENT
    * election, so incremental ingest in vec_id order reproduces it
    * append-only). Returns (lshCapped, ivfCapped), both (vec_id, bucket). */
  private[graft] def seedMemberships(emb: DataFrame, planesDf: DataFrame,
                                     nPlanes: Int, bucketCap: Int)
      : (DataFrame, DataFrame) = {
    val wB = Window.partitionBy("bucket").orderBy("vec_id")
    val capped = lshBuckets(emb, planesDf, nPlanes)
      .withColumn("__rn", row_number().over(wB))
      .filter(col("__rn") <= bucketCap)
      .select("vec_id", "bucket")
    val scores = anchorScores(emb, ivfAnchors(emb.sparkSession))
    val wBest = Window.partitionBy("vec_id").orderBy(desc("score"), col("c"))
    val listCapped = scores.withColumn("__rnk", row_number().over(wBest))
      .filter(col("__rnk") === 1)
      .select(col("vec_id"), col("c").as("bucket"))
      .withColumn("__rn", row_number().over(wB))
      .filter(col("__rn") <= bucketCap)
      .select("vec_id", "bucket")
    (capped, listCapped)
  }

  /** The seed half of [[knnGraph]]: dual-partitioning co-occupant pairs,
    * exact-scored, cut to top-m per src. */
  def seedEdges(emb: DataFrame, planesDf: DataFrame, m: Int = 8,
                nPlanes: Int = 8, bucketCap: Int = 64): DataFrame = {
    import graft.ops.Materialize.MaterializeOps
    seedEdgesFrom(withDoubles(emb).materialized, emb, planesDf, m,
      nPlanes, bucketCap)
  }

  private def seedEdgesFrom(withNorm: DataFrame, emb: DataFrame,
                            planesDf: DataFrame, m: Int,
                            nPlanes: Int, bucketCap: Int): DataFrame = {
    val (capped, listCapped) =
      seedMemberships(emb, planesDf, nPlanes, bucketCap)
    def coPairs(part: DataFrame): DataFrame =
      part.select(col("vec_id").as("src"), col("bucket"))
        .join(part.select(col("vec_id").as("dst"), col("bucket")),
          Seq("bucket"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
    val seedPairs = coPairs(capped).unionByName(coPairs(listCapped))
      .distinct()
    topMEdges(scorePairs(withNorm, seedPairs), m)
  }

  /** The NN-descent half of [[knnGraph]]: `rounds` neighbors-of-neighbors
    * refinements of an existing top-m edge table. */
  def descend(emb: DataFrame, g0: DataFrame, m: Int = 8,
              rounds: Int = 1): DataFrame = {
    import graft.ops.Materialize.MaterializeOps
    descendFrom(withDoubles(emb).materialized, g0, m, rounds)
  }

  private def descendFrom(withNorm: DataFrame, g0: DataFrame, m: Int,
                          rounds: Int): DataFrame = {
    import graft.ops.Materialize.MaterializeOps
    var g = g0.materialized
    for (_ <- 1 to rounds) {
      val twoHop = g.select(col("src"), col("dst").as("__mid"))
        .join(g.select(col("src").as("__mid"), col("dst")), Seq("__mid"))
        .filter(col("src") =!= col("dst"))
        .select("src", "dst")
      val cand = g.select("src", "dst").unionByName(twoHop).distinct()
      g = topMEdges(scorePairs(withNorm, cand), m).materialized
    }
    g
  }

  /** Greedy beam search over the [[knnGraph]] — the search half of the
    * graph-ANN family, completing the engine's survey of production ANN
    * architectures (LSH buckets, IVF lists, PQ codes, OPQ rotation, and
    * now navigable graphs). Queries are corpus members (the engine's
    * vec_id ≡ 0 sampling convention), so search starts at the query's OWN
    * node: hop 0 seeds the beam with its out-edges (whose stored cosine
    * IS the relevance), and each of the `hops` expansions scores the
    * beam's out-neighbors against the query, keeps the top-`beam`, and
    * repeats — the flat-graph greedy of HNSW's layer 0.
    *
    * Shape at scale: per query, per hop, the frontier is ≤ beam × m rows
    * — CONSTANT in the corpus — so search cost is queries × beam × m ×
    * hops after the one-time build; the only corpus-sized work is
    * [[knnGraph]] itself (the index build, amortized like every index).
    * Determinism: candidates dedupe on exact (query_id, vec_id, rounded
    * cosine) triples; every beam/top-k cut orders (cosine desc, vec_id).
    * A query whose node is isolated (alone in its capped bucket) returns
    * no rows — the documented cold-start of every graph index. */
  def graphAnnTopK(emb: DataFrame, planesDf: DataFrame, queryMod: Int = 100,
                   k: Int = 5, m: Int = 8, beam: Int = 10, hops: Int = 3,
                   nPlanes: Int = 8, bucketCap: Int = 64,
                   descentRounds: Int = 1,
                   queryCap: Long = Long.MaxValue): DataFrame =
    searchGraph(emb,
      knnGraph(emb, planesDf, m, nPlanes, bucketCap, descentRounds),
      queryMod, k, beam, hops, queryCap)

  /** The search half of [[graphAnnTopK]] over an ALREADY-BUILT edge table
    * — shared with the incremental index's snapshot search
    * ([[IncrementalAnnIndex]]), the one-kernel twin invariant. */
  def searchGraph(emb: DataFrame, graph: DataFrame, queryMod: Int = 100,
                  k: Int = 5, beam: Int = 10, hops: Int = 3,
                  queryCap: Long = Long.MaxValue): DataFrame = {
    import graft.ops.Materialize.MaterializeOps
    val g = graph
    val withNorm = withDoubles(emb)
    val queries = withNorm.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))
      .materialized
    val wQ = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    def topBeam(df: DataFrame): DataFrame =
      df.withColumn("__rn", row_number().over(wQ))
        .filter(col("__rn") <= beam)
        .select("query_id", "vec_id", "cosine")
    // each hop references the previous beam TWICE (expansion probe +
    // keep-union), so a lazy loop DOUBLES the plan per hop — 2^hops
    // copies of the hop-0 subtree by the final action (the g3
    // single-reference iteration lesson). Materialize the bounded
    // (queries × beam)-row frame per hop instead — an r14 back-to-back
    // A/B (OPTIMIZATION_r14.md §3) measured this per-hop form FASTEST
    // locally too (1.2-1.6 s vs 1.6-2.3 s lazy at sf0.1), settling the r13
    // driver regression as host noise. The FINAL hop's beam is the exception:
    // it has exactly ONE consumer (the top-k window below, which shares
    // its sort order), so its checkpoint bought nothing — it rides the
    // final job lazily, one blocking job fewer per search.
    var beamDf = topBeam(
      g.join(queries.select(col("query_id")),
          g("src") === col("query_id"))
        .select(col("query_id"), col("dst").as("vec_id"), col("cosine")))
      .materialized
    for (hop <- 1 to hops) {
      val expanded = beamDf.select("query_id", "vec_id")
        .join(g.select(col("src").as("vec_id"), col("dst")), Seq("vec_id"))
        .select(col("query_id"), col("dst").as("vec_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .distinct()
        .join(withNorm, Seq("vec_id"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("vec_id"), graft.ops.Num.cround(
          nativeCosine(col("emb_d"), col("q_emb")), 6).as("cosine"))
      beamDf = topBeam(beamDf.unionByName(expanded).distinct())
      if (hop < hops) beamDf = beamDf.materialized
    }
    topKPerQuery(beamDf, k).select("query_id", "rank", "vec_id", "cosine")
  }

  /** Symmetric per-vector int8 scalar quantization: scale = max|x| / 127,
    * q_i = round(x_i / scale). 4x smaller embeddings for the candidate-
    * generation tier (the shuffle/broadcast payloads above shrink with it);
    * re-rank the survivors against the full-precision column. Zero vectors
    * quantize to zeros with scale 0. Pure higher-order functions — codegen,
    * no UDF, one linear pass. */
  def quantizeInt8(emb: DataFrame,
                   vecCol: String = "embedding"): DataFrame = {
    val absMax = aggregate(col(vecCol),
      lit(0.0), (acc, v) => greatest(acc, abs(v.cast("double"))))
    emb
      .withColumn("q_scale", absMax / 127.0)
      .withColumn("q_vec",
        when(col("q_scale") === 0.0,
          transform(col(vecCol), _ => lit(0).cast("tinyint")))
          .otherwise(transform(col(vecCol),
            x => round(x.cast("double") / col("q_scale")).cast("tinyint"))))
  }

  /** Per-label embedding centroids in long (label, dim) form — the
    * cluster-profile / class-prototype primitive (nearest-class-mean
    * classification, k-means seeding, per-source drift monitoring over an
    * embedded corpus). Output: (label, dim, n_vectors, centroid).
    *
    * Shape at scale: posexplode + ONE hash aggregation keyed (label, dim) —
    * partial map-side combine reduces every map partition to at most
    * labels x dims rows before the shuffle, so the exchange is bounded by
    * the profile size, never the corpus; no window, no collect, no cross
    * join. Element math is double-cast like every other op here (float
    * sums drift across engines); the mean is tie-safe-rounded (scale 6). */
  def labelCentroids(emb: DataFrame,
                     vecCol: String = "embedding"): DataFrame =
    emb
      .select(col("label"), posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vectors"),
        graft.ops.Num.cround(avg(col("__v").cast("double")), 6).as("centroid"))

  /** Reciprocal-rank fusion of two retrieval paths (Cormack et al. SIGIR
    * 2009: score = Σ 1/(c + rank), c=60) — the hybrid-search primitive
    * production stacks use to merge heterogeneous retrievers without
    * score calibration. Here it fuses the two bucketed ANN paths (LSH
    * sim2 + IVF sim3, shortlists of `kIn` each): ranks are integers, so
    * the fused score is a sum of exact reciprocals — identical doubles
    * cross-engine — and both the ordering and the output use the
    * tie-safe-ROUNDED score with vec_id as the final tiebreak.
    *
    * Scale shape: both inputs are the bounded shortlist operators (their
    * plans and caps unchanged); the fusion is a full-outer join of two
    * kIn·|queries| tables keyed (query_id, vec_id) and a kOut top-k —
    * nothing here scales with the corpus. */
  def rrfFusion(emb: DataFrame, planesDf: DataFrame, anchors: DataFrame,
                queryMod: Int = 100, kIn: Int = 10, kOut: Int = 5,
                c: Int = 60): DataFrame = {
    val l = lshTopK(emb, planesDf, queryMod, kIn)
      .select(col("query_id"), col("vec_id"), col("rank").as("lsh_rank"))
    val i = ivfTopK(emb, anchors, queryMod, kIn)
      .select(col("query_id"), col("vec_id"), col("rank").as("ivf_rank"))
    val fused = l.join(i, Seq("query_id", "vec_id"), "full_outer")
      .withColumn("rrf", graft.ops.Num.cround(
        coalesce(lit(1.0) / (lit(c) + col("lsh_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("ivf_rank")), lit(0.0)), 6))
    topKPerQuery(fused, kOut, "rrf")
      .select("query_id", "rank", "vec_id", "lsh_rank", "ivf_rank", "rrf")
  }

  /** Embedding drift monitor between two corpus snapshots — the ML-ops
    * check a production retrieval/training stack runs when the embedding
    * model or the ingest mix changes: per label, how far did the class
    * centroid move (L2 and cosine between the old and new centroids), and
    * how did the population split? Snapshot membership is a caller-given
    * predicate (here vec_id parity proxies old/new halves; a deployment
    * passes its snapshot column).
    *
    * Determinism: per-(snapshot, label, dim) means round at 6 (the e1
    * centroid treatment) BEFORE the distance math, so summation-order
    * ulps in the shuffle-arrival averages can never leak into the
    * reported drift; the distances then aggregate 64 identical doubles
    * and round tie-safe at 6.
    *
    * Scale shape: one (label, snapshot, dim) aggregate reduces the corpus
    * (map-side combine over exploded dims); everything downstream runs on
    * the labels × dims table. */
  def embeddingDrift(emb: DataFrame, isOld: Column): DataFrame = {
    val cents = emb
      .select(col("label"), isOld.as("is_old"),
        posexplode(col("embedding")).as(Seq("dim", "__v")))
      .groupBy("label", "is_old", "dim")
      .agg(graft.ops.Num.cround(avg(col("__v").cast("double")), 6).as("w"))
    val o = cents.filter(col("is_old")).select(col("label"), col("dim"),
      col("w").as("wo"))
    val n = cents.filter(!col("is_old")).select(col("label"), col("dim"),
      col("w").as("wn"))
    val counts = emb.groupBy("label").agg(
      sum(when(isOld, 1L).otherwise(0L)).as("n_old"),
      sum(when(isOld, 0L).otherwise(1L)).as("n_new"))
    o.join(n, Seq("label", "dim"))
      .groupBy("label")
      .agg(
        graft.ops.Num.cround(
          sqrt(sum((col("wo") - col("wn")) * (col("wo") - col("wn")))), 6)
          .as("centroid_l2"),
        graft.ops.Num.cround(
          sum(col("wo") * col("wn")) /
            (sqrt(sum(col("wo") * col("wo"))) *
              sqrt(sum(col("wn") * col("wn")))), 6).as("centroid_cos"))
      .join(counts, "label")
      .select("label", "n_old", "n_new", "centroid_l2", "centroid_cos")
  }

  /** Semantic decontamination: corpus vectors within cosine >= threshold
    * of ANY benchmark vector — catches paraphrased eval-set leakage that
    * n-gram overlap ([[Decontaminate]]) cannot see; the two run as
    * complementary stages of the same hygiene pass. Per flagged vector:
    * match count, best cosine, and the benchmark vector responsible
    * (deterministic argmax on the tie-safe-ROUNDED cosine, ties to the
    * smaller bench id). The filter also compares the rounded cosine, so a
    * threshold-straddling ulp can never flag differently across engines.
    *
    * Shape at scale: the benchmark (an eval set) is small and broadcasts;
    * the corpus never shuffles — one linear pass with the fused codegen
    * cosine, then a vec_id-partial aggregate. Production paraphrase
    * detection runs at ~0.9+; the driver fixture's synthetic embeddings
    * are not semantically clustered, so its query uses the d5 near-dup
    * threshold instead. */
  def embeddingContamination(corpus: DataFrame, benchmark: DataFrame,
                             threshold: Double = 0.9): DataFrame = {
    val c = withDoubles(corpus).select(col("vec_id"), col("emb_d"))
    val b = withDoubles(benchmark)
      .select(col("vec_id").as("bench_id"), col("emb_d").as("b_emb"))
    c.crossJoin(broadcast(b))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("b_emb")), 6))
      .filter(col("cosine") >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_matches"),
        max(col("cosine")).as("max_cosine"),
        max_by(col("bench_id"), struct(col("cosine"), -col("bench_id")))
          .as("best_bench_id"))
  }

  /** Deterministic product-quantization codebook: nSub subspaces x
    * nCentroids centroids x subDim dims, weights md5-derived in [-1, 1]
    * (the [[planes]] recipe, salt "pq") — reproducible from public md5
    * alone, hence oracle-checkable, while preserving the PQ execution
    * shape exactly (a production deployment swaps in k-means subspace
    * codebooks, which [[learnPqCodebook]] trains). */
  def pqCodebook(spark: SparkSession, nSub: Int = 8, nCentroids: Int = 16,
                 subDim: Int = 8): DataFrame =
    spark.range(nSub).withColumnRenamed("id", "s")
      .crossJoin(spark.range(nCentroids).withColumnRenamed("id", "c"))
      .crossJoin(spark.range(1, subDim + 1).withColumnRenamed("id", "d"))
      .withColumn("w",
        (conv(substring(md5(concat(lit("pq_"), col("s"), lit("_"), col("c"),
          lit("_"), col("d"))), 1, 8), 16, 10)
          .cast("long") % 2001 - 1000).cast("double") / 1000.0)

  /** Learned PQ codebook: per-subspace Lloyd's k-means ([[lloyd]]) over
    * the subvector population, seeded from the fixed md5 [[pqCodebook]] —
    * k-means run independently in each of the nSub 8-dim subspaces
    * (production PQ trains exactly this way: k-means per subspace over a
    * corpus sample; Jegou et al. 2011 §III). To train on a slice of a
    * large corpus, filter `emb` first. */
  def learnPqCodebook(emb: DataFrame, nSub: Int = 8, nCentroids: Int = 16,
                      subDim: Int = 8, iters: Int = 3): DataFrame =
    lloyd(exploded(emb), pqCodebook(emb.sparkSession, nSub, nCentroids, subDim),
      subDim, iters)

  /** The (vec_id, pos, v) training population of the raw coordinates. */
  private def exploded(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("vec_id"), col("pos"), col("v").cast("double").as("v"))

  /** THE Lloyd's k-means loop: every learned codebook in the engine (PQ,
    * residual PQ, and the IVF anchors as a single subspace of `subDim` =
    * dims) trains here. Population: (vec_id, pos, v) with 0-based `pos`,
    * split into subspace s = pos / subDim and in-subspace coordinate
    * d = pos % subDim + 1. Seed: an (s, c, d, w) codebook.
    *
    * Deterministic: fixed iteration count, argmin on the 6-dp-rounded
    * subspace distance with the centroid id as tiebreak (the [[pqEncode]]
    * discipline — the per-subspace sums are doubles whose summation order
    * differs run to run and engine to engine, so an unrounded argmin
    * would let an ulp flip an assignment), and centroid means rounded to
    * 9 dp, far above shuffle-arrival summation noise and far below any
    * real centroid geometry. Empty cells keep their previous centroid.
    *
    * Fully distributed: per iteration the assignment is one exploded
    * broadcast join against the codebook + a (vec, subspace) argmin, and
    * the update is one (s, c, d)-grouped mean — shuffled rows are
    * (population x nSub x nCentroids) scores and codebook-sized centroids,
    * never the corpus. The population is checkpointed once and reused
    * across iterations; each iteration's codebook is checkpointed. */
  private def lloyd(population: DataFrame, seed: DataFrame, subDim: Int,
                    iters: Int): DataFrame = {
    val sample = population
      .withColumn("s", floor(col("pos") / subDim).cast("long"))
      .withColumn("d", col("pos") % subDim + 1)
      .select(col("vec_id"), col("s"), col("d"), col("v"))
      .materialized
    var codebook = seed.select("s", "c", "d", "w")
    for (_ <- 0 until iters) {
      val assigned = sample.join(broadcast(codebook), Seq("s", "d"))
        .groupBy("vec_id", "s", "c")
        .agg(sum((col("v") - col("w")) * (col("v") - col("w"))).as("dist2"))
        .groupBy("vec_id", "s")
        .agg(min_by(col("c"),
          struct(graft.ops.Num.cround(col("dist2"), 6), col("c"))).as("c"))
      val updated = sample.join(assigned, Seq("vec_id", "s"))
        .groupBy("s", "c", "d").agg(round(avg(col("v")), 9).as("w"))
      codebook = codebook.as("old")
        .join(updated.as("new"), Seq("s", "c", "d"), "left")
        .select(col("s"), col("c"), col("d"),
          coalesce(col("new.w"), col("old.w")).as("w"))
        .materialized
    }
    codebook
  }

  /** PQ encode: nearest codebook centroid per (vector, subspace) —
    * squared L2, argmin on the tie-safe-ROUNDED distance with centroid id
    * tiebreak (the [[nearestCentroid]] discipline: per-subspace sums are
    * 8 doubles whose summation order differs across engines, and an
    * unrounded argmin would let an ulp flip a code). Output
    * (vec_id, s, code) — 8 bytes of code per 64-dim float vector, the
    * 32x memory shrink that makes billion-vector indexes RAM-resident. */
  def pqEncode(emb: DataFrame, codebook: DataFrame,
               subDim: Int = 8): DataFrame = {
    val el = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("s", floor(col("pos") / subDim).cast("long"))
      .withColumn("d", col("pos") % subDim + 1)
    el.join(broadcast(codebook), Seq("s", "d"))
      .groupBy("vec_id", "s", "c")
      .agg(sum((col("v").cast("double") - col("w")) *
        (col("v").cast("double") - col("w"))).as("dist2"))
      .groupBy("vec_id", "s")
      .agg(min_by(col("c"),
        struct(graft.ops.Num.cround(col("dist2"), 6), col("c"))).as("code"))
  }

  /** PQ quantization-distortion report: per subspace, the average and
    * worst squared L2 between the raw subvectors and their assigned
    * codewords — THE quality number for a PQ index (it is exactly the
    * k-means objective the learned codebook minimizes, Jegou et al. 2011
    * §III.A), read before trusting ADC distances at a given code budget.
    * A subspace whose avg_dist2 dwarfs the others is the one to give more
    * centroids.
    *
    * Shape at scale: [[pqEncode]]'s linear encode pass re-joined to the
    * broadcast codebook, reduced to an nSub-row report — per-vector dist2
    * is tie-safe-ROUNDED (scale 6) before the avg/max so the report is
    * reproducible cross-engine. */
  def pqDistortion(emb: DataFrame, codebook: DataFrame,
                   subDim: Int = 8): DataFrame = {
    val codes = pqEncode(emb, codebook, subDim)
    val el = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("s", floor(col("pos") / subDim).cast("long"))
      .withColumn("d", col("pos") % subDim + 1)
    val perSub = el.join(codes, Seq("vec_id", "s"))
      .join(broadcast(codebook.withColumnRenamed("c", "code")),
        Seq("s", "d", "code"))
      .groupBy("vec_id", "s")
      .agg(graft.ops.Num.cround(
        sum((col("v").cast("double") - col("w")) *
          (col("v").cast("double") - col("w"))), 6).as("dist2"))
    perSub.groupBy("s")
      .agg(count(lit(1)).as("n_vectors"),
        graft.ops.Num.cround(avg("dist2"), 6).as("avg_dist2"),
        graft.ops.Num.cround(max("dist2"), 6).as("max_dist2"))
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes — the IVF-PQ search
    * kernel (Jegou, Douze & Schmid, "Product quantization for nearest
    * neighbor search", TPAMI 2011): each query precomputes its distance
    * to every (subspace, centroid) pair ONCE (nSub x nCentroids = 128
    * doubles — the broadcast ADC table), and a corpus vector's
    * approximate distance is 8 table lookups summed instead of a 64-dim
    * scan.
    *
    * Shape at scale: the corpus is ENCODED once (linear, [[pqEncode]]) and
    * only (vec_id, s, code) triples flow after that — never float
    * payloads; the ADC tables broadcast; per-pair work is 8 adds (vs 192
    * flops for the exact cosine — the compute analog of the 32x memory
    * shrink); the per-query reduction is the bounded `top_k_by` aggregate
    * (no per-query corpus sort). Like sim1/sim5, corpus x queries is
    * linear for a FIXED query batch and declared quadratic under the
    * probe's corpus-growing queryMod. Rankings compare the
    * tie-safe-ROUNDED ADC distance with vec_id tiebreak. */
  def pqTopK(emb: DataFrame, codebook: DataFrame, queryMod: Int = 100,
             k: Int = 5, subDim: Int = 8,
             queryCap: Long = Long.MaxValue): DataFrame = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    val codes = pqEncode(emb, codebook, subDim)
    val qel = emb.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("s", floor(col("pos") / subDim).cast("long"))
      .withColumn("d", col("pos") % subDim + 1)
    val adc = qel.join(broadcast(codebook), Seq("s", "d"))
      .groupBy("query_id", "s", "c")
      .agg(sum((col("v").cast("double") - col("w")) *
        (col("v").cast("double") - col("w"))).as("qd"))
      .select(col("query_id"), col("s").as("qs"), col("c").as("qc"),
        col("qd"))
    codes.join(broadcast(adc),
        col("s") === col("qs") && col("code") === col("qc") &&
          col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(graft.ops.Num.cround(sum("qd"), 6).as("adc_dist2"))
      .groupBy("query_id")
      .agg(expr(s"top_k_by(-adc_dist2, vec_id, $k)").as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("r", "t")))
      .select(col("query_id"), (col("r") + 1).cast("int").as("rank"),
        col("t.id").as("vec_id"), (-col("t.score")).as("adc_dist2"))
  }

  /** Exact-cosine rerank of an ADC shortlist — the second tier every
    * production PQ deployment runs (Jegou et al. 2011 §V's "re-ranking
    * with source coding" stage, FAISS's IndexRefine): the compressed index
    * proposes `shortlist` candidates per query cheaply, then the true
    * vectors of ONLY those candidates are fetched and re-scored with
    * full-precision cosine. Quantization error then costs recall only when
    * a true neighbor misses the whole shortlist — not whenever codes
    * mis-order two near ties — which is why a 32x-compressed index can
    * still retrieve accurately.
    *
    * Shape at scale: the sim5 stage-2 shape exactly — the shortlist is
    * n_queries x shortlist rows (bounded, broadcast against the corpus to
    * fetch full vectors, never vice versa); the rank window runs over that
    * bounded table only. Ranking compares the tie-safe-ROUNDED cosine with
    * vec_id tiebreak, so the final order is engine-reproducible. */
  private def rerankShortlist(emb: DataFrame, short: DataFrame,
                              queryMod: Int, k: Int,
                              queryCap: Long = Long.MaxValue): DataFrame = {
    val base = withDoubles(emb)
    val qFull = base.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_d"))
    val scored = base
      .join(broadcast(short.select("query_id", "vec_id", "adc_dist2")), "vec_id")
      .join(broadcast(qFull), "query_id")
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_d")), 6))
    topKPerQuery(scored, k)
      .select("query_id", "rank", "vec_id", "cosine", "adc_dist2")
  }

  /** [[pqTopK]] with the exact-rerank tier: ADC proposes the top
    * `shortlist` codes per query, [[rerankShortlist]] re-scores them with
    * full-precision cosine and keeps k. recall@k becomes ADC's COVERAGE of
    * the true top-k at depth `shortlist` rather than its point accuracy at
    * depth k — see COVERAGE.md's recall table for the measured lift. */
  def pqTopKRerank(emb: DataFrame, codebook: DataFrame, queryMod: Int = 100,
                   k: Int = 5, shortlist: Int = 50,
                   subDim: Int = 8,
                   queryCap: Long = Long.MaxValue): DataFrame =
    rerankShortlist(emb,
      pqTopK(emb, codebook, queryMod, shortlist, subDim, queryCap),
      queryMod, k, queryCap)

  /** [[ivfPqTopK]] with the exact-rerank tier — IVF routing x PQ/ADC
    * proposal x exact rerank, the full production retrieval stack
    * (FAISS IVFADC + refine). The shortlist is drawn from the probed
    * lists only, so routing misses stay missed (that is nprobe's knob);
    * the rerank repairs quantization error within the probed candidates. */
  def ivfPqTopKRerank(emb: DataFrame, anchors: DataFrame,
                      codebook: DataFrame, queryMod: Int = 100, k: Int = 5,
                      nprobe: Int = 2, shortlist: Int = 50,
                      subDim: Int = 8,
                      queryCap: Long = Long.MaxValue,
                      routingOpt: Option[(DataFrame, DataFrame)] = None)
      : DataFrame =
    rerankShortlist(emb,
      ivfPqTopK(emb, anchors, codebook, queryMod, shortlist, nprobe, subDim,
        queryCap, routingOpt),
      queryMod, k, queryCap)

  /** The IVF routing pair every PQ stack starts from — (assigned: corpus
    * vector -> its nearest list; probes: query -> its nprobe nearest
    * lists). Identical across codebook configurations at fixed anchors,
    * so a selector comparing several stacks computes it ONCE, materializes
    * both frames, and passes them via `routingOpt` (the sim21
    * shared-routing trim — same windows, same values, fewer stages). */
  def ivfRoute(emb: DataFrame, anchors: DataFrame, queryMod: Int = 100,
               nprobe: Int = 2, queryCap: Long = Long.MaxValue)
      : (DataFrame, DataFrame) = {
    val scores = anchorScores(emb, anchors)
    val wBest = Window.partitionBy("vec_id").orderBy(desc("score"), col("c"))
    val assigned = scores.withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") === 1).select(col("vec_id"), col("c").as("list_id"))
    val probes = scores.filter(queryPred(queryMod, queryCap))
      .withColumn("rnk", row_number().over(wBest))
      .filter(col("rnk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("c").as("list_id"))
    (assigned, probes)
  }

  /** IVF-PQ search — the production billion-vector configuration, end to
    * end (Jegou et al. 2011, the FAISS IVFADC index): the IVF coarse
    * quantizer routes each query to its nprobe nearest lists — the
    * candidate set drops ~nLists/nprobe, the SUB-LINEAR half — and within
    * those lists distance is PQ/ADC over 8-byte codes — the COMPRESSED
    * half ([[pqTopK]]'s kernel, which alone still scans the whole
    * corpus). Composes [[ivfTopK]]'s routing (same anchor scores, same
    * assignment/probe ranking contract sim3's oracle proves) with
    * [[pqEncode]]/ADC.
    *
    * Shape at scale: one corpus encode + one list assignment (both
    * linear, both payload-free after their aggregates); candidates flow
    * as (vec_id, list_id, s, code) — never floats; ADC tables and probe
    * routes broadcast; per-query reduction is the bounded `top_k_by`.
    * This is the engine's asymptotic ANN scale path with PQ memory
    * economics: codes are 8 bytes/vector, so a 10^9-vector index is
    * ~8 GB resident where raw floats need 256 GB. */
  def ivfPqTopK(emb: DataFrame, anchors: DataFrame, codebook: DataFrame,
                queryMod: Int = 100, k: Int = 5, nprobe: Int = 2,
                subDim: Int = 8,
                queryCap: Long = Long.MaxValue,
                routingOpt: Option[(DataFrame, DataFrame)] = None)
      : DataFrame = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    val (assigned, probes) = routingOpt.getOrElse(
      ivfRoute(emb, anchors, queryMod, nprobe, queryCap))
    val codes = pqEncode(emb, codebook, subDim).join(assigned, "vec_id")
    val qel = emb.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn("s", floor(col("pos") / subDim).cast("long"))
      .withColumn("d", col("pos") % subDim + 1)
    val adc = qel.join(broadcast(codebook), Seq("s", "d"))
      .groupBy("query_id", "s", "c")
      .agg(sum((col("v").cast("double") - col("w")) *
        (col("v").cast("double") - col("w"))).as("qd"))
      .select(col("query_id").as("aq"), col("s").as("qs"),
        col("c").as("qc"), col("qd"))

    val top = codes.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(adc),
        col("query_id") === col("aq") && col("s") === col("qs") &&
          col("code") === col("qc"))
      .groupBy("query_id", "vec_id")
      .agg(graft.ops.Num.cround(sum("qd"), 6).as("adc_dist2"))
      .groupBy("query_id")
      .agg(expr(s"top_k_by(-adc_dist2, vec_id, $k)").as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("r", "t")))
      .select(col("query_id"), (col("r") + 1).cast("int").as("rank"),
        col("t.id").as("vec_id"), (-col("t.score")).as("adc_dist2"))
    // fetch each winner's list id — broadcast the bounded top rows
    // against the assignment, never vice versa (the e3 label-fetch shape)
    assigned.join(broadcast(top), "vec_id")
      .select("query_id", "rank", "vec_id", "list_id", "adc_dist2")
  }

  /** Residual-encoded IVF-PQ top-k — the ACTUAL FAISS IVFADC formulation
    * (Jegou et al. 2011 §IV.A): PQ encodes each vector's RESIDUAL from its
    * IVF list centroid, `r(v) = v - centroid(list(v))`, not the raw
    * vector, and each query builds its ADC table per probed list from its
    * own residual against that list's centroid. Why residuals matter: on a
    * clustered corpus a codebook trained on raw vectors collapses onto the
    * cluster centers — every same-cluster vector gets the SAME codes, ADC
    * ties everywhere, and within-cluster ranking (where the true top-k
    * lives) is destroyed (COVERAGE.md round 10 measured exactly this:
    * learned raw-vector PQ UNDERPERFORMS the fixed codebook on the planted
    * corpus). Subtracting the centroid removes the shared cluster
    * component, so the codebook's 16 centroids spend their capacity on the
    * within-cluster structure ADC actually needs to rank.
    *
    * Shape at scale: identical to [[ivfPqTopK]] plus one corpus-linear
    * residual pass (an exploded join against the broadcast
    * nLists x dims centroid table — index-BUILD work, amortized across
    * queries in production exactly like the encode itself); candidates
    * still flow as (vec_id, list_id, s, code), ADC tables
    * (queries x nprobe x nSub x nCentroids) still broadcast, the per-query
    * reduction is still the bounded `top_k_by`. Codebook: per-subspace
    * k-means over the RESIDUAL population when `learnedCodebook` (the
    * production configuration), else the fixed md5 codebook. Determinism:
    * same rounded-argmin/rounded-ADC discipline as [[pqEncode]]/[[pqTopK]].
    */
  def ivfPqResidualTopK(emb: DataFrame, anchors: DataFrame,
                        queryMod: Int = 100, k: Int = 5, nprobe: Int = 2,
                        subDim: Int = 8, nSub: Int = 8, nCentroids: Int = 16,
                        learnedCodebook: Boolean = true,
                        iters: Int = 3,
                        queryCap: Long = Long.MaxValue,
                        routingOpt: Option[(DataFrame, DataFrame)] = None)
      : DataFrame = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    val spark = emb.sparkSession
    val (assigned, probes) = routingOpt.getOrElse(
      ivfRoute(emb, anchors, queryMod, nprobe, queryCap))
    val centroidsByPos = anchors.select(col("c").as("list_id"),
      (col("d") - 1).as("pos"), col("w").as("cw"))
    // corpus residuals, checkpointed once: reused by codebook training AND
    // the encode (two consumers of one linear pass)
    val resid = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(assigned, "vec_id")
      .join(broadcast(centroidsByPos), Seq("list_id", "pos"))
      .select(col("vec_id"), col("list_id"), col("pos"),
        (col("v").cast("double") - col("cw")).as("v"))
      .materialized
    val codebook =
      if (learnedCodebook)
        lloyd(resid.select("vec_id", "pos", "v"),
          pqCodebook(spark, nSub, nCentroids, subDim), subDim, iters)
      else pqCodebook(spark, nSub, nCentroids, subDim)
    val rl = resid
      .withColumn("s", floor(col("pos") / subDim).cast("long"))
      .withColumn("d", col("pos") % subDim + 1)
    val codes = rl.join(broadcast(codebook), Seq("s", "d"))
      .groupBy("vec_id", "list_id", "s", "c")
      .agg(sum((col("v") - col("w")) * (col("v") - col("w"))).as("dist2"))
      .groupBy("vec_id", "list_id", "s")
      .agg(min_by(col("c"),
        struct(graft.ops.Num.cround(col("dist2"), 6), col("c"))).as("code"))

    // per-(query, probed list) residual -> per-list ADC table
    val qresid = emb.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(probes, "query_id")
      .join(broadcast(centroidsByPos), Seq("list_id", "pos"))
      .withColumn("s", floor(col("pos") / subDim).cast("long"))
      .withColumn("d", col("pos") % subDim + 1)
      .select(col("query_id"), col("list_id"), col("s"), col("d"),
        (col("v").cast("double") - col("cw")).as("v"))
    val adc = qresid.join(broadcast(codebook), Seq("s", "d"))
      .groupBy("query_id", "list_id", "s", "c")
      .agg(sum((col("v") - col("w")) * (col("v") - col("w"))).as("qd"))
      .select(col("query_id").as("aq"), col("list_id").as("al"),
        col("s").as("qs"), col("c").as("qc"), col("qd"))

    val top = codes.join(broadcast(probes), "list_id")
      .filter(col("vec_id") =!= col("query_id"))
      .join(broadcast(adc),
        col("query_id") === col("aq") && col("list_id") === col("al") &&
          col("s") === col("qs") && col("code") === col("qc"))
      .groupBy("query_id", "vec_id")
      .agg(graft.ops.Num.cround(sum("qd"), 6).as("adc_dist2"))
      .groupBy("query_id")
      .agg(expr(s"top_k_by(-adc_dist2, vec_id, $k)").as("tk"))
      .select(col("query_id"), posexplode(col("tk")).as(Seq("r", "t")))
      .select(col("query_id"), (col("r") + 1).cast("int").as("rank"),
        col("t.id").as("vec_id"), (-col("t.score")).as("adc_dist2"))
    assigned.join(broadcast(top), "vec_id")
      .select("query_id", "rank", "vec_id", "list_id", "adc_dist2")
  }

  /** [[ivfPqResidualTopK]] with the exact-rerank tier — residual IVFADC +
    * refine, the full production stack at its best configuration. */
  def ivfPqResidualTopKRerank(emb: DataFrame, anchors: DataFrame,
                              queryMod: Int = 100, k: Int = 5,
                              nprobe: Int = 2, shortlist: Int = 50,
                              subDim: Int = 8, learnedCodebook: Boolean = true,
                              queryCap: Long = Long.MaxValue,
                              routingOpt: Option[(DataFrame, DataFrame)] = None)
      : DataFrame =
    rerankShortlist(emb,
      ivfPqResidualTopK(emb, anchors, queryMod, shortlist, nprobe, subDim,
        learnedCodebook = learnedCodebook, queryCap = queryCap,
        routingOpt = routingOpt),
      queryMod, k, queryCap)

  /** PQ codebook-configuration scorecard — the engine's one selector
    * path. The IVF-PQ + exact-rerank stack ships several codebook
    * configurations — `fixed` (md5-derived codebook, no training pass),
    * `learned` (raw-vector per-subspace k-means), `residual` (per-list
    * residual k-means, the FAISS IVFADC form), and `opq`
    * ([[opqIvfPqTopKRerank]]) — and their recall RANKING INVERTS with
    * corpus geometry: raw-vector learned wins on a near-uniform corpus
    * (there is no shared cluster component for residuals to remove, and
    * the residual pass just re-centers noise), while residual wins
    * decisively on a clustered one (raw-vector codebooks collapse onto the
    * cluster centers, same-cluster vectors get identical codes, and ADC
    * ties destroy within-cluster ranking — COVERAGE.md round 10 measured
    * the inversion). No prose rule can pick per corpus, so this MEASURES.
    *
    * One row per relational configuration: (config, build_cost, hits,
    * n_truth, recall_at_5). Every stack runs at the same `anchors`, code
    * budget, shortlist 50 and k = 5 over the FIXED query batch vec_id ≡ 0
    * (mod 100) below 2000, and is scored by [[recall]] against the
    * brute-force truth on that batch. `build_cost` is the build-cost
    * order fixed < learned < residual (< opq, 3): the fixed codebook
    * skips the k-means passes, residual adds a corpus-linear residual
    * pass on top of learned, opq additionally learns a rotation and
    * re-learns the anchors in the rotated basis. [[flagWinner]] breaks
    * recall ties toward the cheaper build.
    *
    * The stacks share one IVF routing (identical at fixed anchors) and one
    * truth scan, both materialized once. The learned and residual stacks
    * each run an EAGER k-means training while their frames are built, so
    * the three frames are built on [[graft.ops.ConcurrentJobs]] threads
    * and those small training jobs interleave on idle cores instead of
    * queueing; the union itself stays lazy.
    *
    * Shape at scale: selection is index-BUILD-time work, amortized over
    * the index lifetime like the encode itself; with a bounded query
    * batch every stack AND the truth scan are linear in the corpus, and
    * the recall joins reduce batch-sized frames only. */
  def pqConfigScorecard(emb: DataFrame, anchors: DataFrame): DataFrame = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val spark = emb.sparkSession
    val queryCap = 2000L
    val (assigned, probes) = ivfRoute(emb, anchors, queryCap = queryCap)
    val routing = Some((assigned.materialized, probes.materialized))
    val truth = bruteForceTopK(emb, queryCap = queryCap)
      .select("query_id", "vec_id").materialized
    def scored(config: String, buildCost: Int)(approx: => DataFrame) =
      graft.ops.ConcurrentJobs.submit(spark.sparkContext)(
        recall(truth, approx).select(lit(config).as("config"),
          lit(buildCost).as("build_cost"), col("hits"), col("n_truth"),
          col("recall").as("recall_at_5")))
    Seq(
      scored("fixed", 0)(ivfPqTopKRerank(emb, anchors, pqCodebook(spark),
        queryCap = queryCap, routingOpt = routing)),
      scored("learned", 1)(ivfPqTopKRerank(emb, anchors,
        learnPqCodebook(emb), queryCap = queryCap, routingOpt = routing)),
      scored("residual", 2)(ivfPqResidualTopKRerank(emb, anchors,
        queryCap = queryCap, routingOpt = routing)))
      .map(Await.result(_, Duration.Inf))
      .reduce(_ unionByName _)
  }

  /** `is_winner` over a [[pqConfigScorecard]]-shaped frame: the highest
    * recall_at_5, ties to the lowest build_cost. A NULL recall (an empty
    * truth) is never a winner, so an unmeasured scorecard has none. The
    * frame is one row per configuration, so the single-partition window is
    * the point. */
  def flagWinner(card: DataFrame): DataFrame =
    card.withColumn("is_winner", row_number().over(
      Window.orderBy(desc("recall_at_5"), col("build_cost"))) === 1 &&
      col("recall_at_5").isNotNull)

  // ------------------------------------------------------------------
  // OPQ: optimized product quantization (parametric rotation)

  /** Parametric-OPQ rotation (Ge et al., "Optimized Product
    * Quantization", CVPR 2013 §4 — the closed-form OPQ-P variant): learn
    * a dims x dims orthonormal rotation that decorrelates the corpus and
    * BALANCES variance across the nSub PQ subspaces, so no subspace's 16
    * centroids drown in variance the others never see. Plain PQ quantizes
    * the coordinates in storage order; on anisotropic or correlated
    * corpora (real embedding models put most energy in a few directions)
    * the high-variance subspace's quantization error dominates every ADC
    * distance and recall collapses — the exact failure the round-12
    * anisotropic fixture (COVERAGE.md's sim23 table) measured. OPQ-P
    * fixes the basis first:
    *
    *  1. covariance of the corpus (one exploded outer-product pass —
    *     partial aggregation keeps the shuffle at partitions x dims²
    *     rows; entries rounded to 9 dp, the codebook-learning summation
    *     discipline);
    *  2. eigendecomposition of the dims x dims matrix on the DRIVER —
    *     bounded O(dims³) work on a dims²-sized statistic, the same
    *     driver-side-parameter pattern Spark ML's PCA uses (a few KB, not
    *     corpus data);
    *  3. eigenvalue allocation: walk eigen-directions largest-first,
    *     assigning each to the non-full subspace with the smallest
    *     accumulated log-eigenvalue sum — greedy balancing of the
    *     per-subspace variance PRODUCTS, the free-rotation optimum for
    *     Gaussian data (Ge et al. §4.2).
    *
    * Determinism: covariance entries are 9-dp rounded before the (single,
    * deterministic LAPACK) eigendecomposition; each eigenvector's sign is
    * canonicalized (largest-|component| coordinate made positive, first
    * index on ties); greedy ties take the lowest subspace index. Returns
    * the rotation ROW-MAJOR — row i is output coordinate i, rows grouped
    * subspace-major so [[pqEncode]]'s `floor(pos / subDim)` sees the
    * allocation. */
  def opqRotation(emb: DataFrame, nSub: Int = 8,
                  subDim: Int = 8): Array[Array[Double]] = {
    val dims = nSub * subDim
    val el = emb.select(posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("pos"), col("v").cast("double").as("v"))
    val mean = Array.ofDim[Double](dims)
    // dims-sized (64-row) aggregated statistic to the driver — a model
    // PARAMETER pull (the Spark ML PCA pattern), never corpus rows
    el.groupBy("pos").agg(avg("v").as("m")).collect()
      .foreach(r => mean(r.getInt(0)) = r.getDouble(1))
    // E[v vᵀ] in one pass: per-row outer product flattened to a dims²
    // array, exploded, partially aggregated per position before the
    // shuffle (the hash aggregate combines map-side, so only
    // partitions x dims² rows ride the exchange)
    val m2 = Array.ofDim[Double](dims * dims)
    emb.select(posexplode(flatten(transform(col("embedding"), x =>
        transform(col("embedding"), y =>
          x.cast("double") * y.cast("double"))))).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg("v").as("m"))
      .collect().foreach(r => m2(r.getInt(0)) = r.getDouble(1))
    val cov = breeze.linalg.DenseMatrix.tabulate(dims, dims) { (i, j) =>
      BigDecimal(m2(i * dims + j) - mean(i) * mean(j))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val es = breeze.linalg.eigSym(cov) // eigenvalues ASCENDING
    val order = (0 until dims).sortBy(i => (-es.eigenvalues(i), i))
    val load = Array.fill(nSub)(0.0)
    val used = Array.fill(nSub)(0)
    val rot = Array.ofDim[Double](dims, dims)
    for (e <- order) {
      val s = (0 until nSub).filter(used(_) < subDim)
        .minBy(b => (load(b), b))
      val vec = Array.tabulate(dims)(d => es.eigenvectors(d, e))
      val pivot = (0 until dims).maxBy(d => (math.abs(vec(d)), -d))
      val signed = if (vec(pivot) < 0) vec.map(-_) else vec
      rot(s * subDim + used(s)) = signed
      load(s) += math.log(math.max(es.eigenvalues(e), 1e-12))
      used(s) += 1
    }
    rot
  }

  /** Apply a row-major rotation to the embedding column via the native
    * fused [[graft.functions.MatVecMul]] kernel — a shuffle-free narrow
    * projection (the matrix rides as a foldable plan literal, the dims²
    * multiply-add loop is one whole-stage-codegen pass), output
    * schema-identical to the input (array<float>). An orthonormal
    * rotation preserves dot products and norms, hence cosine — so
    * brute-force truth and the exact-rerank tier are UNCHANGED by the
    * basis (up to float re-rounding); only the quantizer sees a
    * different, better-conditioned coordinate system. */
  def rotate(emb: DataFrame, rot: Array[Array[Double]]): DataFrame = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    emb.withColumn("embedding",
      call_function("mat_vec_mul", lit(rot.flatten),
        transform(col("embedding"), x => x.cast("double"))))
  }

  /** [[pqTopKRerank]] in the OPQ basis — equal code budget
    * (nSub x nCentroids x subDim), one extra linear rotation pass at
    * index-build time: rotate the corpus, train the per-subspace k-means
    * codebook in the rotated basis, ADC-propose there, exact-rerank with
    * full-precision cosine (invariant under the rotation). The rotated
    * corpus is materialized once and shared by encode, query, and rerank
    * passes, the signature-table idiom. */
  def opqPqTopKRerank(emb: DataFrame, queryMod: Int = 100, k: Int = 5,
                      shortlist: Int = 50, nSub: Int = 8, subDim: Int = 8,
                      queryCap: Long = Long.MaxValue): DataFrame = {
    val remb = rotate(emb, opqRotation(emb, nSub, subDim)).materialized
    pqTopKRerank(remb, learnPqCodebook(remb, nSub, subDim = subDim),
      queryMod, k, shortlist, subDim, queryCap)
  }

  /** [[ivfPqTopKRerank]] in the OPQ basis — the fourth
    * [[pqConfigScorecard]] configuration: rotate the corpus, then learn BOTH the
    * IVF anchors and the PQ codebook in the rotated coordinates (an IVF
    * coarse quantizer must live in the same basis as the codes it
    * routes), route x ADC-propose x exact-rerank as usual. Same
    * nLists / nSub x nCentroids x subDim budget as the other candidates;
    * the extra build cost is the rotation learning pass plus re-learning
    * anchors in the rotated basis — the most expensive of the four, which
    * is why [[flagWinner]] ties break away from it. */
  def opqIvfPqTopKRerank(emb: DataFrame, queryMod: Int = 100, k: Int = 5,
                         nprobe: Int = 2, shortlist: Int = 50,
                         nSub: Int = 8, subDim: Int = 8,
                         queryCap: Long = Long.MaxValue): DataFrame = {
    val remb = rotate(emb, opqRotation(emb, nSub, subDim)).materialized
    ivfPqTopKRerank(remb, learnIvfAnchors(remb),
      learnPqCodebook(remb, nSub, subDim = subDim),
      queryMod, k, nprobe, shortlist, subDim, queryCap)
  }

  /** Contrastive hard-negative mining: for each sampled anchor (vec_id %
    * queryMod == 0), the k most-cosine-similar vectors carrying a
    * DIFFERENT label — the negatives an embedding fine-tune actually
    * learns from (random in-batch negatives are mostly easy; the nearest
    * confusable examples drive the contrastive gradient — Robinson et
    * al., "Contrastive Learning with Hard Negative Samples", ICLR 2021).
    * Output: (anchor_id, anchor_label, rank, neg_id, neg_label, cosine).
    *
    * Shape at scale: the anchor set (a training batch / probe set, small
    * by construction) broadcasts; the corpus is scanned ONCE with the
    * fused codegen cosine and reduced per anchor by the bounded native
    * `top_k_by` aggregate — every map partition ships <= k pairs per
    * anchor before the shuffle, so no per-anchor sort ever sees the
    * corpus (the sim5 stage-1 shape). The final rank window runs over the
    * anchors x k shortlist only; the label fetch for that shortlist
    * broadcasts the shortlist against the corpus, not vice versa. Linear
    * in the corpus for a FIXED anchor set; under the probe's
    * corpus-growing queryMod sampling it inherits sim1's declared
    * quadratic regime. Ranking compares the tie-safe-ROUNDED cosine with
    * neg_id as tiebreak, so the shortlist boundary and the final order
    * are engine-reproducible. */
  def hardNegatives(emb: DataFrame, queryMod: Int = 100, k: Int = 5): DataFrame =
    hardNegativesFor(emb, emb.filter(col("vec_id") % queryMod === 0), k)

  /** [[hardNegatives]] against an EXPLICIT anchor frame — the production
    * shape: a training batch is a FIXED set of anchors mined against a
    * growing corpus, so the scan is linear in the corpus (the registered
    * e3's corpus-sampled anchors are the probe-friendly special case;
    * under a 10x scale read's corpus-growing queryMod that special case
    * inherits sim1's declared-quadratic regime while THIS shape does
    * not). `anchorVecs` must carry (vec_id, label, embedding). */
  def hardNegativesFor(emb: DataFrame, anchorVecs: DataFrame,
                       k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(
      org.apache.spark.sql.SparkSession.active)
    val vecs = emb.select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("emb_d"))
    val anchors = anchorVecs
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        transform(col("embedding"), x => x.cast("double")).as("a_emb"))
    val short = vecs.join(broadcast(anchors),
        col("label") =!= col("anchor_label"))
      .withColumn("cosine", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("a_emb")), 6))
      .groupBy("anchor_id", "anchor_label")
      .agg(expr(s"top_k_by(cosine, vec_id, $k)").as("tk"))
      .select(col("anchor_id"), col("anchor_label"), explode(col("tk")).as("t"))
      .select(col("anchor_id"), col("anchor_label"),
        col("t.id").as("neg_id"), col("t.score").as("cosine"))
    val labels = vecs.select(col("vec_id").as("neg_id"),
      col("label").as("neg_label"))
    val w = Window.partitionBy("anchor_id")
      .orderBy(col("cosine").desc, col("neg_id"))
    labels.join(broadcast(short), "neg_id")
      .withColumn("rank", row_number().over(w))
      .select("anchor_id", "anchor_label", "rank", "neg_id", "neg_label",
        "cosine")
  }

  /** Nearest-centroid (Rocchio) classification: assign each vector to the
    * label whose [[labelCentroids]] centroid is nearest in squared L2 — the
    * evaluation twin of the centroid table (centroid-classifier accuracy is
    * the standard sanity check on an embedded, labeled corpus, and the
    * assignment step of one k-means iteration). Output: (vec_id, label,
    * predicted, dist2, correct).
    *
    * Shape at scale: the centroid table is labels x dims rows (tiny,
    * broadcast); the corpus explodes to (vec, dim) elements and reduces via
    * one (vec_id, label) partial-aggregated sum, then one argmin — shuffled
    * rows are (corpus x labels) score pairs, never pairwise corpus (the
    * same shape [[lloyd]]'s assignment step documents).
    * Determinism: distances compare tie-safe-ROUNDED (scale 6) with the
    * label id as tiebreak, so cross-engine summation-order ulps can never
    * flip a prediction. */
  def nearestCentroid(emb: DataFrame,
                      vecCol: String = "embedding"): DataFrame = {
    val cent = labelCentroids(emb, vecCol)
      .select(col("label").as("c_label"), col("dim"), col("centroid"))
    emb
      .select(col("vec_id"), col("label"),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .join(broadcast(cent), "dim")
      .groupBy("vec_id", "label", "c_label")
      .agg(graft.ops.Num.cround(
        sum((col("__v").cast("double") - col("centroid")) *
          (col("__v").cast("double") - col("centroid"))), 6).as("dist2"))
      .groupBy("vec_id", "label")
      .agg(
        min_by(col("c_label"), struct(col("dist2"), col("c_label")))
          .as("predicted"),
        min(col("dist2")).as("dist2"))
      .withColumn("correct", col("label") === col("predicted"))
  }

  /** Simplified-silhouette cluster-quality report per label — for each
    * vector, a = Euclidean distance to its OWN label centroid, b = the
    * nearest OTHER centroid's distance, s = (b − a) / max(a, b)
    * (Rousseeuw 1987's silhouette with centroid distances standing in
    * for mean pairwise distances — the O(n·k) "simplified silhouette"
    * used at scale, vs the O(n²) exact form). Mean s per label reads how
    * separable the labeling is in embedding space — the diagnostic
    * before trusting e2's nearest-centroid classifier or d9's semantic
    * clusters.
    *
    * Shape at scale: reuses [[nearestCentroid]]'s exact distance plan —
    * broadcast labels×dims centroids, one (vec, label) partial-agg sum,
    * corpus never pairwise. The per-vector silhouette then reduces to a
    * labels-sized report. Determinism: a²/b² compare tie-safe-ROUNDED
    * (scale 6, c_label tiebreak) before the min_by, sqrt is correctly
    * rounded IEEE in both engines, a degenerate max(a,b) = 0 (vector ==
    * both centroids) yields s = 0 explicitly, and the per-label mean
    * rounds at 2 (multi-term summation). */
  def silhouetteByLabel(emb: DataFrame,
                        vecCol: String = "embedding"): DataFrame = {
    val cent = labelCentroids(emb, vecCol)
      .select(col("label").as("c_label"), col("dim"), col("centroid"))
    val dists = emb
      .select(col("vec_id"), col("label"),
        posexplode(col(vecCol)).as(Seq("dim", "__v")))
      .join(broadcast(cent), "dim")
      .groupBy("vec_id", "label", "c_label")
      .agg(graft.ops.Num.cround(
        sum((col("__v").cast("double") - col("centroid")) *
          (col("__v").cast("double") - col("centroid"))), 6).as("dist2"))
    val perVec = dists.groupBy("vec_id", "label")
      .agg(
        min(when(col("c_label") === col("label"), col("dist2"))).as("__a2"),
        min_by(col("dist2"), struct(
          when(col("c_label") === col("label"), lit(1)).otherwise(lit(0)),
          col("dist2"), col("c_label"))).as("__b2"))
    val a = sqrt(col("__a2")); val b = sqrt(col("__b2"))
    perVec
      .withColumn("__s", when(greatest(a, b) === 0.0, lit(0.0))
        .otherwise((b - a) / greatest(a, b)))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
        graft.ops.Num.cround(avg(col("__s")), 2).as("mean_silhouette"))
  }

  /** Inverse of [[quantizeInt8]]: x_i ~ q_i * scale, as array<double>. */
  def dequantizeInt8(qVecCol: String = "q_vec",
                     scaleCol: String = "q_scale"): Column =
    transform(col(qVecCol), q => q.cast("double") * col(scaleCol))

  /** L2-normalize an embedding column to unit length (array<double>), so
    * cosine similarity reduces to a dot product — normalize once at ingest
    * and the per-pair norm divisions in the top-k joins disappear. Zero
    * vectors stay zero (null-free, unlike x/0). */
  def l2Normalize(vecCol: String = "embedding"): Column = {
    val nrm = sqrt(aggregate(
      transform(col(vecCol), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    when(nrm === 0.0, transform(col(vecCol), _ => lit(0.0)))
      .otherwise(transform(col(vecCol), x => x.cast("double") / nrm))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein,
    * SIGIR 1998) — retrieval that penalizes redundancy: step t selects
    * argmax over remaining candidates of
    * `lambda * rel(q, c) - (1 - lambda) * max_{s in selected} sim(c, s)`.
    *
    * Shape at scale: the only corpus-sized work is the stage-1 relevance
    * scan (fixed query batch x corpus — linear in the corpus, the e4/sim17
    * recipe); everything after runs on the `shortlist`-deep candidate set
    * (pairwise sims are shortlist² per query, bounded constants), so the
    * greedy loop unrolls into `k - 1` joins over tables whose size never
    * grows with the corpus. Determinism: relevance and candidate-candidate
    * sims are tie-safe-rounded at 6 BEFORE the greedy, every argmax orders
    * (score desc, vec_id), and the mixing weights are the literal doubles
    * 0.7 / 0.3 on both engines (never `1 - lambda` on one side — the t28
    * lesson: `1.0 - 0.7 != 0.3` in IEEE). */
  def mmrTopK(emb: DataFrame, queryMod: Int = 100, queryCap: Long = 2000L,
              shortlist: Int = 20, k: Int = 5): DataFrame = {
    // Spark's sequence(2, 1) generates a DESCENDING [2, 1], so an
    // unguarded k=1 would run two bogus greedy steps instead of returning
    // only the relevance winner (round-12 ADVICE) — the greedy loop below
    // only applies when k > 1.
    require(k >= 1, s"mmrTopK: k must be >= 1 (got $k)")
    val withNorm = withDoubles(emb)
    val queries = withNorm.filter(queryPred(queryMod, queryCap))
      .select(col("vec_id").as("query_id"), col("emb_d").as("q_emb"))
    val rel = withNorm.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .withColumn("rel", graft.ops.Num.cround(
        nativeCosine(col("emb_d"), col("q_emb")), 6))
      .withColumn("rn", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("rel").desc, col("vec_id"))))
      .filter(col("rn") <= shortlist)
      .select("query_id", "vec_id", "rel", "emb_d")
    // the shortlist feeds the pairwise join AND k-1 greedy steps — cut the
    // corpus-scan lineage once (conf-switchable persist/localCheckpoint)
    val cand = rel.materialized
    // candidate-candidate sims: shortlist² per query, a bounded constant
    val pair = cand.select(col("query_id"), col("vec_id").as("v_a"),
        col("emb_d").as("e_a"))
      .join(broadcast(cand.select(col("query_id"), col("vec_id").as("v_b"),
        col("emb_d").as("e_b"))), Seq("query_id"))
      .filter(col("v_a") =!= col("v_b"))
      .select(col("query_id"), col("v_a"), col("v_b"), graft.ops.Num.cround(
        nativeCosine(col("e_a"), col("e_b")), 6).as("sim"))
    // The greedy is bounded per query (shortlist candidates, shortlist²
    // sims), so it collapses to per-query ARRAYS and ONE
    // aggregate-over-sequence higher-order function — two exchanges total
    // (the two collect_list aggregates), no per-step scheduling. A
    // join-per-step form measured 5.5-10 s at sf0.1, ALL constant stage
    // overhead on <=100-row frames (the ev20 lesson); a chained-projection
    // form hung the OPTIMIZER (CollapseProject inlines each step's
    // multiply-referenced accumulator — exponential plan growth). Inside
    // one aggregate() the accumulator is a lambda VARIABLE — a leaf — so
    // the plan stays a single expression of linear size.
    val candsArr = cand.groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("vec_id"), col("rel"))))
        .as("cands"))
    val simsArr = pair.groupBy("query_id")
      .agg(sort_array(collect_list(
        struct(col("v_a"), col("v_b"), col("sim")))).as("sims"))
    // argmax via comparator sort: (score DESC, vec_id ASC) — the oracle's
    // ORDER BY; slice+transform keeps the sorted tree referenced ONCE
    def pickBest(arr: Column, scoreField: String, rank: Column): Column =
      transform(
        slice(array_sort(arr, (l, r) =>
          when(l.getField(scoreField) > r.getField(scoreField), -1)
            .when(l.getField(scoreField) < r.getField(scoreField), 1)
            .when(l.getField("vec_id") < r.getField("vec_id"), -1)
            .otherwise(1)), 1, 1),
        b => struct(rank.as("rank"),
          b.getField("vec_id").as("vec_id"),
          b.getField(scoreField).as("mmr_score")))
    val initSel = pickBest(col("cands"), "rel", lit(1))
    val selExpr = if (k == 1) initSel else aggregate(
      sequence(lit(2), lit(k)),
      initSel,
      (sel, step) => {
        val selIds = transform(sel, s => s.getField("vec_id"))
        val scored = transform(
          filter(col("cands"),
            c => !array_contains(selIds, c.getField("vec_id"))),
          c => struct(
            c.getField("vec_id").as("vec_id"),
            graft.ops.Num.cround(
              lit(0.7) * c.getField("rel") - lit(0.3) * aggregate(
                filter(col("sims"),
                  p => p.getField("v_a") === c.getField("vec_id") &&
                    array_contains(selIds, p.getField("v_b"))),
                lit(Double.NegativeInfinity),
                (acc, p) => greatest(acc, p.getField("sim"))),
              6).as("rel")))
        concat(sel, pickBest(scored, "rel", step))
      })
    candsArr.join(broadcast(simsArr), Seq("query_id"))
      .select(col("query_id"), explode(selExpr).as("s"))
      .select(col("query_id"), col("s.rank").as("rank"),
        col("s.vec_id").as("vec_id"), col("s.mmr_score").as("mmr_score"))
  }
}
