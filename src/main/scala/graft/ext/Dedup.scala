package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Materialize
import graft.ops.Materialize.MaterializeOps

/** Deduplication operators for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design (100 TB corpus):
  * - Exact dedup is one hash-shuffle on a 16-byte digest — the fact rows
  *   never move, only (digest, doc_id).
  * - MinHash signatures are a single map-side pass (explode + 16 partial
  *   mins); the only shuffle is the band-bucket self-join, whose size is
  *   controlled by band count/width. Hot buckets (boilerplate text) are the
  *   skew risk: cap candidates per bucket before the pairwise step.
  * - Exact pairwise Jaccard is quadratic and exists here as the
  *   verification/oracle path over a deterministic sample; at scale it runs
  *   only on LSH candidates.
  */
object Dedup {

  /** Hot-bucket cap shared by [[lshCandidatePairs]] and the incremental
    * ingest path (IncrementalCuration.ingestBatch) — the documented
    * batch==incremental equivalence requires both to truncate buckets at
    * the SAME bound, so neither may hardcode its own copy. */
  val DefaultMaxPerBucket: Int = 128

  /** The hot-bucket cap: keep the `cap` smallest `id` rows of each `keys`
    * group, every column unchanged. An order-independent election (the
    * survivors depend only on the ids), so the batch paths, the
    * incremental ingest and the DuckDB oracle's `row_number` all keep the
    * same rows. */
  private[graft] def capPerKey(df: DataFrame, keys: Seq[String], id: String,
                               cap: Int): DataFrame =
    df.withColumn("__rn", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(id)))
      .filter(col("__rn") <= cap)
      .drop("__rn")

  /** Exact duplicate groups by content digest. Keeps the smallest doc_id as
    * the canonical representative (deterministic). */
  def exactDuplicates(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_docs"))

  /** Exact dedup that keeps the min-doc_id row per content digest WITHOUT
    * moving document payloads through the digest shuffle: winner election
    * runs over (digest, doc_id) pairs only — map-side partial min, ~24
    * bytes per doc through the exchange — and survivors are restored with
    * a LEFT SEMI join on doc_id. At fixture scale the winner set
    * broadcasts (no payload exchange at all); at 100 TB it degrades to a
    * doc_id-keyed shuffled semi join — a hash exchange with no sort, whose
    * doc_id partitioning the downstream per-doc stages (minhash groupBy)
    * reuse. Either way the payload bytes never ride the digest shuffle,
    * unlike a row_number window over md5(text), which sorts full rows. */
  def keepFirstPerDigest(docs: DataFrame): DataFrame = {
    val winners = docs
      .select(md5(col("text")).as("__digest"), col("doc_id"))
      .groupBy("__digest").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(winners, Seq("doc_id"), "left_semi")
  }

  /** Per-component XOR masks for [[minhashSignatures]] — a deterministic
    * splitmix64 stream, computed in ONE place and embedded as literals by
    * both the engine and the DuckDB oracle's generated SQL (the
    * [[graft.ops.Num.emaKernel]] discipline: constants common, query
    * formulations independent). 60 bits each, matching the base hash
    * width, so every masked value stays positive on both engines. */
  def minhashXorMasks(nHashes: Int): Seq[Long] = {
    def splitmix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until nHashes).map(b => splitmix(b.toLong) & ((1L << 60) - 1))
  }

  /** MinHash signatures over word-trigram shingles: ONE md5 per shingle,
    * cut to a 60-bit hash h, and component b (`mh_b`) is the minimum over
    * the document's shingles of h XOR the b-th [[minhashXorMasks]] mask.
    * One exploded pass, partial-min map-side combine, single shuffle on
    * doc_id. Documents with < 3 tokens have no shingles and drop out
    * (nothing to near-dup on). */
  def minhashSignatures(docs: DataFrame, nHashes: Int = 16): DataFrame = {
    // an independent 60-bit random mask per component (each mask relabels the hash trie, so each component elects a
    // genuinely different argmin — the "closest to R_b in XOR metric"
    // shingle). Two additive forms failed the d13 calibration curve
    // before this one: h1 + b*h2 with a 32-bit h2 let the 60-bit h1
    // dominate every component's ordering (ONE min-h1 shingle decided all
    // 16 components; d13 read est_jaccard 1.0 against exact Jaccard 0.03
    // on every candidate pair — a one-hash minhash in 16 columns), and an
    // affine (a_b*ha + m_b*hb + c_b) mod p rescue still correlated
    // components through Pareto dominance — any POSITIVE linear
    // combination favors the same lower-hull shingles, so one shared
    // low-in-both-halves shingle won 8-15 components on J=0.01 pairs.
    // XOR is not min-wise independent in theory (per-component selection
    // is trie-biased), but the bias is per-shingle-neighborhood, the
    // masks decorrelate components, and the measured estimator is
    // unbiased on this corpus: E[matches/16] = 0.0113 vs E[J] = 0.0115
    // over all 11.5k overlapping pairs at sf0.01, with the d13 curve
    // on-diagonal. The explode + 16-min hash aggregate stays fully
    // inside whole-stage codegen (higher-order array lambdas are
    // interpreted and were ~6x slower here); map-side partial mins mean
    // the shuffle carries 16 longs per doc per partition
    val sh = trigrams(docs)
      .withColumn("h", conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long"))
    val mins = minhashXorMasks(nHashes).zipWithIndex.map { case (r, b) =>
      min(col("h").bitwiseXOR(lit(r))).as(s"mh_$b")
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** Word-trigram shingles (doc_id, shingle), one row per token position,
    * repeats kept. Explodes an INT index sequence and assembles each
    * shingle scalar-wise: unlike exploding the interpreted-lambda string
    * array, every step (sequence, explode, element_at, concat) is
    * codegen'd. */
  private def trigrams(docs: DataFrame): DataFrame =
    docs.withColumn("toks", TextOps.tokens(col("text")))
      .select(col("doc_id"), col("toks"), explode(expr(
        "CASE WHEN size(toks) >= 3 THEN sequence(0, size(toks) - 3) ELSE CAST(array() AS ARRAY<INT>) END")).as("i"))
      .select(col("doc_id"), expr(
        "concat(element_at(toks, i + 1), ' ', element_at(toks, i + 2), ' ', element_at(toks, i + 3))").as("shingle"))

  /** The banded signature view (doc_id, band, band_value): band b is the
    * concat of minhashes 2b and 2b+1. One layout for the batch self-join
    * ([[lshCandidatePairs]]) and the incremental fresh-vs-all probe
    * (IncrementalCuration.ingestBatch), so the two cannot drift apart. */
  private[graft] def bands(signatures: DataFrame, nBands: Int): DataFrame = {
    val stackArgs = (0 until nBands)
      .map(b => s"$b, concat(CAST(mh_${2 * b} AS STRING), '_', CAST(mh_${2 * b + 1} AS STRING))")
      .mkString(", ")
    signatures.selectExpr("doc_id",
      s"stack($nBands, $stackArgs) as (band, band_value)")
  }

  /** LSH banding over the signatures: band b = concat of 2 consecutive
    * minhashes (collision probability j^2 per band — kills the j~0.03
    * background, keeps j>0.5 near-dups). Returns candidate pairs with the
    * number of colliding bands.
    *
    * Hot-bucket cap: boilerplate text (headers, license blocks) makes one
    * band value collect millions of docs, and the self-join is quadratic
    * PER BUCKET — at 100 TB a single hot bucket would quadratic-bomb its
    * task. Buckets are truncated to the `maxPerBucket` smallest doc_ids
    * (deterministic) before the pairwise step, bounding any bucket's pair
    * count at maxPerBucket*(maxPerBucket-1)/2. A bucket that hot is
    * near-identical boilerplate anyway — the surviving members still chain
    * the near-dup cluster for a downstream connected-components pass. */
  def lshCandidatePairs(signatures: DataFrame, nBands: Int = 8,
                        maxPerBucket: Int = DefaultMaxPerBucket): DataFrame = {
    // NOT persisted: both self-join sides recompute the signature subtree,
    // but that build is a cheap codegen'd single pass (see
    // minhashSignatures) and a persist here would leak cache for the
    // session lifetime (this is a library function — the caller owns
    // caching if the signatures are reused)
    val capped = capPerKey(bands(signatures, nBands),
      Seq("band", "band_value"), "doc_id", maxPerBucket)
    val a = capped.as("a")
    val b = capped.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.band_value") === col("b.band_value") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Exact-Jaccard verification of LSH candidate pairs — the guard between
    * candidate generation and cluster merge. Kirsch-Mitzenmacher double
    * hashing makes the signature components CORRELATED: one globally-
    * minimal shared shingle (a boilerplate footer every page carries) can
    * dominate every component of every document containing it, colliding
    * ALL bands for pairs whose true overlap is tiny (measured here: four
    * docs sharing one 4-token footer produced 8/8-band candidates at true
    * J ~ 0.14). Feeding unverified candidates to connected components
    * would MERGE those documents and dedup away real content — silent data
    * loss at corpus scale. Verification is exact and bounded by the
    * candidate set: only candidate docs' distinct shingles shuffle (8-byte
    * xxhash64 per shingle, payload-free), the intersection is an equi-join
    * on (pair, shingle hash), set sizes are one aggregate.
    *
    * Returns the pairs that pass `minJaccard` with their exact `jaccard`
    * appended. */
  def jaccardVerifyPairs(docs: DataFrame, pairs: DataFrame,
                         minJaccard: Double = 0.5): DataFrame = {
    val nc = coalesce(col("n_common"), lit(0L))
    shingleOverlap(docs, pairs)
      .withColumn("jaccard",
        nc.cast("double") / (col("__na") + col("__nb") - nc))
      .filter(col("jaccard") >= minJaccard)
      .drop("__na", "__nb", "n_common")
  }

  /** The distinct-shingle overlap both verifiers divide: every `pairs` row
    * plus `n_common` (|A∩B|, NULL when the sets are disjoint), `__na` and
    * `__nb` (|A|, |B|).
    *
    * The pair table feeds FOUR subtrees (candidate-doc projection twice,
    * the intersect join, the final report join) and the shingle table
    * THREE (sizes, both sides of the intersect) — materialized once, or
    * every consumer re-runs the candidate generation / the semi-join +
    * shingle explode + distinct from scratch (measured 3x the verify cost
    * at sf0.1 before the cut; exchange reuse does not fire across the
    * differently-keyed consumers). */
  private def shingleOverlap(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val p = pairs.materialized
    val candDocs = p.select(col("doc_a").as("doc_id"))
      .unionAll(p.select(col("doc_b").as("doc_id"))).distinct()
    val sh = trigrams(docs.join(candDocs, Seq("doc_id"), "left_semi"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sh"))
      .distinct()
      .materialized
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // both intersect joins meet two pair- or shingle-sized inputs: hinted
    // sort-merge joins, so every run plans the same stages (left to AQE,
    // the broadcast side is whichever input stage finishes first)
    val inter = p.select("doc_a", "doc_b")
      .join(sh.select(col("doc_id").as("doc_a"), col("sh")).hint("merge"),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh")).hint("merge"),
        Seq("doc_b", "sh"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_common"))
    p
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("__na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("__nb")), Seq("doc_b"))
  }

  /** Asymmetric CONTAINMENT verification over LSH candidate pairs —
    * containment(A→B) = |A∩B| / |A| over the same distinct-shingle sets
    * [[jaccardVerifyPairs]] intersects. Containment catches what
    * symmetric Jaccard misses: a short document wholly embedded in a
    * long one (quoted article, boilerplate wrapper) has high containment
    * but LOW Jaccard, because the union is dominated by the long side
    * (Broder's resemblance-vs-containment distinction, SEQUENCES 1997).
    * Keeps pairs where either direction reaches `minContainment`.
    *
    * Scale shape: identical to jaccardVerifyPairs — bounded by the
    * CAPPED candidate set, the intersect join carries only (doc_id,
    * shingle-hash) pairs for candidate docs, never text. Determinism:
    * counts are exact; the two ratios divide exact integers and round
    * tie-safe at 6. */
  def containmentVerifyPairs(docs: DataFrame, pairs: DataFrame,
                             minContainment: Double = 0.8): DataFrame = {
    val nc = coalesce(col("n_common"), lit(0L)).cast("double")
    shingleOverlap(docs, pairs)
      .withColumn("containment_a", graft.ops.Num.cround(nc / col("__na"), 6))
      .withColumn("containment_b", graft.ops.Num.cround(nc / col("__nb"), 6))
      .filter(col("containment_a") >= minContainment ||
        col("containment_b") >= minContainment)
      .drop("__na", "__nb", "n_common")
  }

  /** Connected components over candidate pairs -> duplicate clusters: the
    * step a corpus dedup pipeline runs AFTER LSH, turning pairwise
    * candidates into groups with one canonical representative (the minimum
    * doc_id reachable through the pair graph).
    *
    * Distributed min-label propagation: every node starts labeled with its
    * own id; each round every node takes the min of its label and its
    * neighbors' labels; converged when nothing changes. Rounds are
    * O(component diameter) — near-dup clusters are dense (LSH pairs are
    * near-cliques), so a handful of rounds suffice even at corpus scale.
    * Each round is one shuffle on doc_id; lineage is truncated per round
    * with Materialize (localCheckpoint by default; conf-switchable to a
    * lineage-preserving persist for cluster runs) so the executed plan
    * does not grow with iterations (the
    * standard Pregel-style DataFrame loop — driver coordinates, data never
    * leaves the cluster). */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 20): DataFrame = {
    // the symmetrized edge view references pairs TWICE — materialize the
    // pair table first or the caller's whole candidate-generation chain
    // (LSH banding, within-list cosine pairs) runs twice inside the edge
    // job; the union of two projections over the checkpoint then needs no
    // second materialization of its own
    val p = pairs.materialized
    val edges = p.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(p.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_rep", col("doc_id"))
      .materialized
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val neighborMin = edges
        .join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src")).agg(min("cluster_rep").as("nbr_rep"))
      val propagated = labels
        .join(neighborMin, labels("doc_id") === neighborMin("src"), "left")
        .select(col("doc_id"), col("cluster_rep").as("__old"),
          least(col("cluster_rep"), coalesce(col("nbr_rep"), col("cluster_rep")))
            .as("cluster_rep"))
      // path compression (pointer doubling): follow rep -> rep-of-rep, so a
      // chain's minimum label reaches every member in O(log diameter)
      // rounds instead of O(diameter) — without it a duplicate chain longer
      // than maxRounds cannot converge. Every cluster_rep is itself a
      // doc_id in the table (labels start as self and only adopt existing
      // ids), so the self-join loses no rows.
      val reps = propagated
        .select(col("doc_id").as("rep_id"), col("cluster_rep").as("rep_rep"))
      // the pre-round label rides the round as __old, so the convergence
      // count is observed on the round's checkpoint job
      val (updated, changed) = Materialize.counting(propagated
        .join(reps, propagated("cluster_rep") === reps("rep_id"))
        .select(col("doc_id"), col("__old"),
          least(col("cluster_rep"), col("rep_rep")).as("cluster_rep")),
        col("cluster_rep") =!= col("__old"))
      converged = changed == 0
      labels = updated.select("doc_id", "cluster_rep")
      round += 1
    }
    // an unconverged label table silently under-dedups (and diverges from
    // the exact transitive-closure oracle) — fail loudly instead
    if (!converged) throw new IllegalStateException(
      s"duplicateClusters did not converge in $maxRounds rounds — a duplicate " +
        "chain is longer than maxRounds; raise maxRounds")
    labels
  }

  /** Keep-one-per-cluster corpus: drop every doc whose cluster elected a
    * different representative. Docs with no candidate pair never enter the
    * label table and survive untouched (left-anti on the losers). */
  def dedupByClusters(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs.join(
      clusters.filter(col("doc_id") =!= col("cluster_rep")).select("doc_id"),
      Seq("doc_id"), "left_anti")

  /** SimHash over unigram tokens: 32-bit token hash (hex prefix of md5),
    * per-bit +1/-1 majority vote, assembled into a `bits`-bit fingerprint.
    * One exploded pass + one aggregate; near-dups share the fingerprint. */
  def simhash(docs: DataFrame, bits: Int = 16): DataFrame = {
    val toks = docs
      .withColumn("tok", explode(TextOps.tokens(col("text"))))
      .withColumn("h", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    val votes = (0 until bits).map { i =>
      sum(expr(s"CASE WHEN (h div ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END")).as(s"s_$i")
    }
    val assembled = (0 until bits)
      .map(i => s"CASE WHEN s_$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .withColumn("simhash", expr(assembled).cast("long"))
      .select("doc_id", "simhash")
  }

  /** Exact n-gram (trigram) Jaccard over a deterministic sample
    * (doc_id % sampleMod == 0): distinct shingles, shingle-equality
    * self-join, |A∩B| / |A∪B| >= threshold. Quadratic — the oracle /
    * verification path; at scale run it on LSH candidates only.
    * sampleMod=4 is the largest stride whose residue class still contains
    * whole injected near-dup pairs at sf0.01 (1 pair; 16 at sf0.1), so the
    * oracle verifies REAL pair math — sampleMod=10 sampled every pair
    * apart and vacuously verified an empty result — while keeping the
    * quadratic sample 4x smaller than mod 2. */
  def ngramJaccardPairs(docs: DataFrame, sampleMod: Int = 4,
                        threshold: Double = 0.2): DataFrame = {
    val sample = docs.filter(col("doc_id") % sampleMod === 0)
    val sh = trigrams(sample).distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_shingles", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_shingles", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_common", "n_a", "n_b", "jaccard")
  }

  /** Quality-aware canonical selection over near-dup clusters: a real
    * curation pipeline does not keep the MIN-ID member of each duplicate
    * cluster (that is an arbitrary survivor), it keeps the BEST one —
    * highest t2 quality score, doc_id as the deterministic tiebreak. The
    * comparison key is the tie-safe-ROUNDED score (scale 6): quality is a
    * blend of float ratios, and an unrounded argmax could flip survivors
    * on a cross-engine ulp.
    *
    * Takes the (doc_id, cluster_rep) membership from [[duplicateClusters]]
    * — all shuffles downstream of it are keyed on cluster_rep over the
    * members-sized table (payload-free after the score projection). */
  def qualityCanonical(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val q = TextOps.withQualityScore(docs)
      .select(col("doc_id"),
        graft.ops.Num.cround(col("quality_score"), 6).as("q6"))
    clusters.join(q, "doc_id")
      .groupBy("cluster_rep")
      .agg(count(lit(1)).as("n_members"),
        // max over (q6, -doc_id): highest quality, then smallest doc_id
        max_by(col("doc_id"), struct(col("q6"), -col("doc_id")))
          .as("keep_doc_id"),
        max(col("q6")).as("best_quality"))
  }

  /** Edit-distance-verified fuzzy near-dup pairs — the record-linkage
    * companion to the shingle paths: d2/d8 measure set overlap (token
    * reorderings score high), while edit distance measures SEQUENCE
    * agreement (typo-level variants of short/templated docs, where 3-token
    * shingles are too coarse). Classic blocking scheme: key on
    * (lang, first `prefixLen` chars of the alnum-normalized text) — true
    * typo-variants rarely diverge in their opening characters — cap each
    * block at the `maxPerBlock` smallest doc_ids (the d2 hot-bucket
    * treatment: a block that hot is boilerplate whose survivors still
    * chain the cluster), then verify pairs by `levenshtein` over the
    * `cmpLen`-char normalized prefix.
    *
    * Scale shape: one narrow (doc_id, lang, prefix, cmp) projection rides
    * the block shuffle — never the payload; per-block pairs are bounded at
    * maxPerBlock^2/2 and each verification is a bounded cmpLen^2 DP. The
    * normalization strips to lowercase alnum+space so both engines' edit
    * distance runs over pure-ASCII strings (no unicode-unit ambiguity —
    * the t20 Java/RE2-common-pattern rule). Two empty-after-normalization
    * prefixes (all-symbol docs) block together and score sim 1.0 at
    * distance 0 — trivially-identical under this normalization, by
    * contract. */
  def fuzzyDupPairs(docs: DataFrame, prefixLen: Int = 16, cmpLen: Int = 64,
                    maxDist: Int = 8, maxPerBlock: Int = 64): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val blocked = docs.select(
      col("doc_id"), coalesce(col("lang"), lit("")).as("lang"),
      substring(norm, 1, prefixLen).as("block_key"),
      substring(norm, 1, cmpLen).as("cmp"))
    val capped = capPerKey(blocked, Seq("lang", "block_key"), "doc_id",
      maxPerBlock)
    val a = capped.as("a")
    val b = capped.as("b")
    val mx = greatest(length(col("a.cmp")), length(col("b.cmp")))
    a.join(b, col("a.lang") === col("b.lang") &&
        col("a.block_key") === col("b.block_key") &&
        col("a.doc_id") < col("b.doc_id"))
      .withColumn("edit_distance", levenshtein(col("a.cmp"), col("b.cmp")))
      .filter(col("edit_distance") <= maxDist)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("edit_distance"),
        when(mx === 0, lit(1.0))
          .otherwise(lit(1.0) - col("edit_distance") / mx).as("sim_ratio"))
  }

  /** Embedding-cosine near-dup pairs over a deterministic sample. Brute
    * force within the sample; at scale this runs per LSH bucket
    * (Similarity.lshBuckets). */
  def embeddingNearDupPairs(emb: DataFrame, sampleMod: Int = 10,
                            threshold: Double = 0.3): DataFrame = {
    val sample = emb.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding"),
        Similarity.norm(col("embedding")).as("nrm"))
    sample.as("a").join(sample.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        (Similarity.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.nrm") * col("b.nrm"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
