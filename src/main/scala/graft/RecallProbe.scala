package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only ANN quality probe (round-8 verdict item #3; extended for the
  * round-9 verdict items #1/#2): put a NUMBER on every approximate top-k
  * path's recall against the sim1 brute-force truth, sweep the learned
  * codebook knobs (IVF and PQ), and measure the exact-rerank tier.
  *
  * Three corpora, because one can't separate operator quality from corpus
  * pathology:
  *   - the driver's sf fixture (near-uniform sphere embeddings — true
  *     neighbors sit at cosine ~0.3-0.4, adversarial to every hashing
  *     path: sign-LSH collision odds are near coin-flip per plane);
  *   - [[plantedEmbeddings]], a planted-neighborhood corpus with real
  *     cluster structure (k md5-derived centers + bounded noise — true
  *     neighbors at cosine ~0.9+, the geometry real embedding corpora
  *     have), where hashing-path success is actually measurable;
  *   - [[anisotropicEmbeddings]], the planted corpus with a per-dimension
  *     variance decay in storage order (the OPQ fixture).
  * The ExtSpec recall gates and the PQ-config scorecard test read the
  * same fixtures.
  *
  * recall@k = |approx ∩ truth| / |truth| summed over the query set, with
  * truth = [[ext.Similarity.bruteForceTopK]] at the same (queryMod, k),
  * read from [[ext.Similarity.recall]] — the engine's one recall kernel,
  * the same one sim20/sim21/sim22 and the ExtSpec gates use. Each table
  * row is one `.first()` of that kernel's one-row (hits, n_truth, recall)
  * frame (same dev-tool scalar-pull pattern as ScalingProbe).
  *
  * Usage: runMain graft.RecallProbe [sfDir] (default the driver's sf0.1)
  * Prints one markdown table per corpus for COVERAGE.md.
  */
object RecallProbe {

  /** Planted-neighborhood embedding corpus (round-9 verdict item #2):
    * `nClusters` md5-derived centers (coordinates uniform in [-1, 1]),
    * every vector = its cluster's center + `noise`-bounded md5-derived
    * jitter. Same schema as the driver fixture (vec_id, embedding
    * float[dims], label = cluster id). Deterministic end to end —
    * reproducible from public md5 alone, no RNG state.
    *
    * Geometry: center norm ~ sqrt(dims/3) ≈ 4.6 at dims=64, jitter norm ~
    * noise * sqrt(dims/3) ≈ 1.15 at noise=0.25, so same-cluster cosine
    * sits at ~1/(1+noise²) ≈ 0.94 and cross-cluster at ~0 — the planted
    * true top-k is same-cluster, exactly the clustered-neighbor regime
    * COVERAGE.md's sim2 reading says real corpora occupy. Cluster
    * assignment hashes vec_id (md5, NOT vec_id % nClusters) so it is
    * decorrelated from the vec_id % 100 query-selection convention. */
  def plantedEmbeddings(spark: SparkSession, n: Int = 2000, dims: Int = 64,
                        nClusters: Int = 20, noise: Double = 0.25): DataFrame =
    spark.range(n).withColumnRenamed("id", "vec_id")
      .withColumn("__k",
        conv(substring(md5(concat(lit("pc_"), col("vec_id"))), 1, 8), 16, 10)
          .cast("long") % nClusters)
      .withColumn("embedding", expr(
        s"""transform(sequence(1, $dims), d -> cast(
           |  (cast(conv(substring(md5(concat('pctr_', __k, '_', d)), 1, 8),
           |        16, 10) as long) % 2001 - 1000) / 1000.0
           |  + $noise *
           |  ((cast(conv(substring(md5(concat('pnz_', vec_id, '_', d)), 1, 8),
           |         16, 10) as long) % 2001 - 1000) / 1000.0)
           |  as float))""".stripMargin))
      .withColumn("label", col("__k").cast("int"))
      .select("vec_id", "embedding", "label")

  /** Anisotropic variant of [[plantedEmbeddings]] (round-10 verdict
    * stretch item — the OPQ fixture): coordinate d scaled by decay^d, so
    * variance spans ~2 orders of magnitude across the 64 dims in STORAGE
    * ORDER. Plain PQ's subspaces inherit that imbalance — subspace 0
    * holds almost all the energy and its 16 centroids can't cover it,
    * while the last subspaces' centroids quantize noise — exactly the
    * correlated/anisotropic regime Ge et al. (CVPR 2013 §1) show breaks
    * independence-assuming PQ, and the regime real embedding models
    * (energy concentrated in a few principal directions) occupy. A
    * diagonal scaling keeps the planted cluster structure (same-cluster
    * vectors stay nearest: the scaling is applied to center and noise
    * alike), so true top-k remains measurable. */
  def anisotropicEmbeddings(spark: SparkSession, n: Int = 2000,
                            dims: Int = 64, nClusters: Int = 20,
                            noise: Double = 0.25,
                            decay: Double = 0.93): DataFrame =
    plantedEmbeddings(spark, n, dims, nClusters, noise)
      .withColumn("embedding", expr(
        s"transform(embedding, (x, i) -> cast(x * power($decay, i) as float))"))

  /** The full path x config recall sweep over one corpus. */
  def sweep(spark: SparkSession, emb: DataFrame, corpus: String): Unit = {
    import ext.Similarity
    val (qm, k) = (100, 5)
    val truth = Similarity.bruteForceTopK(emb, queryMod = qm, k = k)
      .localCheckpoint(true)
    val nq = truth.select("query_id").distinct().count()
    println(s"\ncorpus=$corpus vectors=${emb.count()} queries=$nq k=$k")
    println("| path | config | recall@5 |")
    println("|---|---|---|")
    def row(path: String, config: String, approx: DataFrame): Unit =
      println(s"| $path | $config | " + "%.3f".format(
        Similarity.recall(truth, approx).first().getAs[Any]("recall")) + " |")

    // sim2: hyperplane-LSH bucketed top-k (registered config nPlanes=8)
    for (nPlanes <- Seq(4, 6, 8)) {
      row("sim2 lsh", s"nPlanes=$nPlanes (2^$nPlanes buckets)",
        Similarity.lshTopK(emb,
          Similarity.planes(spark, nPlanes = nPlanes), queryMod = qm, k = k,
          nPlanes = nPlanes))
    }

    // sim6: multi-probe over the registered 256-bucket config — recall
    // recovered per extra probed bucket at (probes+1)x candidate cost
    for (probes <- Seq(1, 2, 4, 8)) {
      row("sim6 multiprobe", s"nPlanes=8 probes=$probes",
        Similarity.lshTopKMultiProbe(emb,
          Similarity.planes(spark), queryMod = qm, k = k, probes = probes))
    }

    // sim3: IVF fixed codebook — nprobe sweep at the registered nLists
    for (nprobe <- Seq(1, 2, 4)) {
      row("sim3 ivf fixed", s"nLists=16 nprobe=$nprobe",
        Similarity.ivfTopK(emb,
          Similarity.ivfAnchors(spark), queryMod = qm, k = k,
          nprobe = nprobe))
    }

    // sim3: learned codebook at the registered/ExtSpec-tracked shape
    val learnedIvf = Similarity.learnIvfAnchors(emb).localCheckpoint(true)
    row("sim3 ivf learned", "nLists=16 iters=3 nprobe=2",
      Similarity.ivfTopK(emb, learnedIvf,
        queryMod = qm, k = k, nprobe = 2))

    // sim5: prefix-rerank — shortlist depth sweep (stage-2 rerank is exact,
    // so recall == shortlist's coverage of the true top-k)
    for (shortlist <- Seq(10, 20, 50, 100)) {
      row("sim5 prefix-rerank", s"pdims=16 shortlist=$shortlist",
        Similarity.prefixRerankTopK(emb, pdims = 16,
          shortlist = shortlist, queryMod = qm, k = k))
    }

    // sim7: PQ/ADC point accuracy at depth k — fixed vs learned codebook
    val fixedCb = Similarity.pqCodebook(spark)
    val learnedCb = Similarity.learnPqCodebook(emb).localCheckpoint(true)
    row("sim7 pq adc", "nSub=8 nCentroids=16 fixed",
      Similarity.pqTopK(emb, fixedCb, queryMod = qm, k = k))
    row("sim7 pq adc", "nSub=8 nCentroids=16 learned iters=3",
      Similarity.pqTopK(emb, learnedCb, queryMod = qm, k = k))

    // sim7 + rerank: ADC coverage at depth `shortlist`, exact-rerank to k
    for (shortlist <- Seq(10, 25, 50, 100)) {
      row("sim7 pq+rerank", s"fixed shortlist=$shortlist",
        Similarity.pqTopKRerank(emb, fixedCb, queryMod = qm, k = k,
          shortlist = shortlist))
      row("sim7 pq+rerank", s"learned shortlist=$shortlist",
        Similarity.pqTopKRerank(emb, learnedCb, queryMod = qm, k = k,
          shortlist = shortlist))
    }

    // sim8: IVF routing x PQ distance, then the full production stack
    // (routing x ADC proposal x exact rerank)
    row("sim8 ivf-pq", "nLists=16 nprobe=2 nSub=8 fixed",
      Similarity.ivfPqTopK(emb, Similarity.ivfAnchors(spark),
        fixedCb, queryMod = qm, k = k))
    row("sim8 ivf-pq+rerank", "fixed cb, fixed anchors, shortlist=50",
      Similarity.ivfPqTopKRerank(emb, Similarity.ivfAnchors(spark),
        fixedCb, queryMod = qm, k = k, shortlist = 50))
    for (shortlist <- Seq(50, 100))
      row("sim8 ivf-pq+rerank", s"learned cb+anchors, shortlist=$shortlist",
        Similarity.ivfPqTopKRerank(emb, learnedIvf,
          learnedCb, queryMod = qm, k = k, shortlist = shortlist))

    // residual IVFADC (the actual FAISS formulation): PQ over
    // list-centroid residuals at the SAME code budget (8x16x8) — on a
    // clustered corpus raw-vector k-means codebooks collapse onto the
    // cluster centers (same-cluster vectors -> identical codes -> ADC
    // ties), which residuals repair
    row("sim8 residual ivf-pq", "learned anchors, residual-learned cb",
      Similarity.ivfPqResidualTopK(emb, learnedIvf,
        queryMod = qm, k = k))
    for (shortlist <- Seq(50, 100))
      row("sim8 residual+rerank", s"learned anchors, shortlist=$shortlist",
        Similarity.ivfPqResidualTopKRerank(emb, learnedIvf,
          queryMod = qm, k = k, shortlist = shortlist))

    // OPQ (parametric rotation, Ge et al. 2013): same 8x16x8 code budget,
    // codebook trained in the eigen-allocated basis — ADC-only shows the
    // raw codebook-quality delta, the rerank rows the production shape
    row("opq pq adc", "rotated, learned, nSub=8",
      Similarity.opqPqTopK(emb, queryMod = qm, k = k))
    for (shortlist <- Seq(25, 50))
      row("opq pq+rerank", s"rotated, learned, shortlist=$shortlist",
        Similarity.opqPqTopKRerank(emb, queryMod = qm, k = k,
          shortlist = shortlist))
    // the selector's architecture: IVF routing + ADC + rerank, everything
    // learned in the rotated basis (the opq row of the PQ-config scorecard)
    row("opq ivf-pq+rerank", "rotated anchors+cb, shortlist=50",
      Similarity.opqIvfPqTopKRerank(emb, queryMod = qm, k = k,
        shortlist = 50))

    // sim23: graph ANN — dual-seeded (LSH buckets ∪ IVF lists) NN-descent
    // build, beam-greedy search (the navigable-graph family). Per-query
    // candidate budget at the registered config (m=8, beam=10, hops=3) is
    // <= beam*m*hops = 240 — roughly IVF nprobe=2's corpus/8 at this
    // fixture size, the equal-budget comparison the spec gates. Search
    // knobs saturate fast (beam 10→20 and hops 3→5 measured flat);
    // BUILD quality is the recall lever, so the sweep is (m, rounds).
    for ((mW, rounds) <- Seq((8, 1), (8, 2), (16, 1)))
      row("sim23 graph-ann", s"m=$mW rounds=$rounds beam=10 hops=3",
        Similarity.graphAnnTopK(emb, Similarity.planes(spark),
          queryMod = qm, k = k, m = mW, descentRounds = rounds))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()

    sweep(spark, io.Sources.embeddings(spark, dir).localCheckpoint(true),
      s"$dir (near-uniform)")
    sweep(spark, plantedEmbeddings(spark).localCheckpoint(true),
      "planted-neighborhood (20 clusters, noise 0.25)")
    sweep(spark, anisotropicEmbeddings(spark).localCheckpoint(true),
      "anisotropic (planted x 0.93^dim decay)")
    spark.stop()
  }
}
