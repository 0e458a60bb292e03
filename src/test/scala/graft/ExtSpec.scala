package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{Decontaminate, Dedup, Multimodal, Similarity, TextOps}

/** Semantics of the training-data extension operators on crafted inputs. */
class ExtSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "en"),
    (1L, "the quick brown fox jumps over the lazy dog", "en"),  // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat", "en"),  // near dup of 0
    (3L, "der hund ist nicht der beste und das ist gut", "de"),
    (4L, "completely different words entirely unrelated tokens", "en"),
    (5L, "ab", "en") // < 3 tokens -> no shingles
  ).toDF("doc_id", "text", "lang")

  /** Planted-neighborhood embedding corpus: `nClusters` md5-derived
    * centers (coordinates uniform in [-1, 1]), every vector = its
    * cluster's center + `noise`-bounded md5-derived jitter. Same schema as
    * the driver fixture (vec_id, embedding float[dims], label = cluster
    * id). Deterministic end to end — reproducible from public md5 alone,
    * no RNG state.
    *
    * Geometry: center norm ~ sqrt(dims/3) ≈ 4.6 at dims=64, jitter norm ~
    * noise * sqrt(dims/3) ≈ 1.15 at noise=0.25, so same-cluster cosine
    * sits at ~1/(1+noise²) ≈ 0.94 and cross-cluster at ~0 — the planted
    * true top-k is same-cluster, exactly the clustered-neighbor regime
    * COVERAGE.md's sim2 reading says real corpora occupy, and the one
    * where hashing-path success is measurable (the driver's near-uniform
    * embeddings put true neighbors at cosine ~0.3-0.4). Cluster
    * assignment hashes vec_id (md5, NOT vec_id % nClusters) so it is
    * decorrelated from the vec_id % 100 query-selection convention. */
  private def plantedEmbeddings(n: Int = 2000, dims: Int = 64,
                                nClusters: Int = 20,
                                noise: Double = 0.25): DataFrame =
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

  /** The recall value of the engine's one recall kernel. */
  private def measuredRecall(truth: org.apache.spark.sql.DataFrame,
                             approx: org.apache.spark.sql.DataFrame): Double =
    Similarity.recall(truth, approx).first().getAs[Double]("recall")

  test("exact dedup groups identical texts, keeps smallest doc_id") {
    val groups = Dedup.exactDuplicates(docs).collect()
    assert(groups.length == 5) // 6 docs, one pair collapsed
    val dupGroup = groups.find(_.getAs[Long]("n_docs") == 2).get
    assert(dupGroup.getAs[Long]("keep_doc_id") == 0L)
  }

  test("minhash signatures are identical for identical docs, and differ for unrelated ones") {
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.toSeq.tail).toMap
    assert(sigs(0L) == sigs(1L))
    assert(sigs(0L) != sigs(4L))
    assert(!sigs.contains(5L)) // no shingles below 3 tokens
  }

  test("LSH banding surfaces exact and near dup pairs") {
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_bands"))).toSeq
    val exact = pairs.find(p => p._1 == 0L && p._2 == 1L).get
    assert(exact._3 == 8) // identical docs collide in every band
    assert(pairs.exists(p => p._2 == 2L || p._1 == 2L)) // near dup found
  }

  test("LSH hot-bucket cap bounds the pairwise blowup on boilerplate text") {
    // 6 identical "boilerplate" docs collide in every band: uncapped that is
    // C(6,2)=15 pairs; capped at 4 per bucket only the 4 smallest doc_ids
    // survive -> C(4,2)=6 pairs, still enough to chain the dup cluster.
    val boiler = (0L to 5L).map(i => (i, "standard license header text " +
      "applies to all files in this repository without exception", "en"))
      .toDF("doc_id", "text", "lang")
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minhashSignatures(boiler), maxPerBucket = 4).collect()
    assert(pairs.length == 6, s"expected C(4,2)=6 capped pairs, got ${pairs.length}")
    assert(pairs.forall(r => r.getAs[Long]("doc_b") <= 3L),
      "only the 4 smallest doc_ids may appear in capped pairs")
    assert(pairs.forall(_.getAs[Long]("n_bands") == 8))
  }

  test("capPerKey keeps each key's cap smallest ids and passes other columns through") {
    // key "hot" holds 5 rows, over the cap of 3; key "cold" holds 2, under it
    val rows = Seq((7L, "hot", "g"), (3L, "hot", "c"), (9L, "hot", "i"),
      (1L, "hot", "a"), (5L, "hot", "e"), (8L, "cold", "h"), (2L, "cold", "b"))
    val capped = Dedup.capPerKey(rows.toDF("id", "key", "payload"),
      Seq("key"), "id", 3)
    assert(capped.columns.toSeq == Seq("id", "key", "payload"))
    assert(capped.as[(Long, String, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "hot", "a"), (2L, "cold", "b"), (3L, "hot", "c"),
        (5L, "hot", "e"), (8L, "cold", "h")))
  }

  test("duplicate clusters: min-label propagation finds connected components") {
    // chain 1-2-3 plus pair 5-6: reps collapse transitively to the min id
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))

    // keep-one-per-cluster: losers 2,3,6 drop; unpaired docs survive
    val docs = (1L to 7L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val kept = Dedup.dedupByClusters(docs, Dedup.duplicateClusters(pairs))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L, 5L, 7L))
  }

  test("duplicate clusters: a chain far longer than maxRounds still converges (path compression)") {
    // diameter-59 chain: plain 1-hop propagation needs 59 rounds and would
    // throw at the default 20; pointer doubling converges in O(log d)
    val pairs = (1L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    assert(clusters.size == 60)
    assert(clusters.values.forall(_ == 1L), "every chain member joins cluster 1")
  }

  test("ngram jaccard: identical docs = 1.0") {
    val pairs = Dedup.ngramJaccardPairs(docs, sampleMod = 1, threshold = 0.1)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toSeq
    val exact = pairs.find(p => p._1 == 0L && p._2 == 1L).get
    assert(math.abs(exact._3 - 1.0) < 1e-9)
    val near = pairs.find(p => p._1 == 0L && p._2 == 2L).get
    assert(near._3 > 0.5 && near._3 < 1.0)
  }

  test("simhash: identical docs share the fingerprint") {
    val sh = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sh(0L) == sh(1L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Array(0.9f, 0.1f, 0.0f)),   // close to 0
    (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (4L, Array(-1.0f, 0.0f, 0.0f))   // opposite
  ).toDF("vec_id", "embedding")

  test("cosine: identical = 1, orthogonal = 0, opposite = -1") {
    val d = vecs.select(
      Similarity.dot(col("embedding"), col("embedding")).as("self"),
      Similarity.norm(col("embedding")).as("n")).collect()
    assert(d.forall(r => math.abs(math.sqrt(r.getAs[Double]("self")) - r.getAs[Double]("n")) < 1e-9))

    val top = Similarity.bruteForceTopK(vecs, queryMod = 5, k = 4).collect()
    // query 0: expect 1 (cos 1.0) first, then 2, then 3 (0), then 4 (-1)
    val q0 = top.filter(_.getAs[Long]("query_id") == 0L)
      .sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("vec_id")).toSeq
    assert(q0 == Seq(1L, 2L, 3L, 4L))
  }

  test("LSH bucketing puts identical vectors in the same bucket") {
    val planes = Similarity.planes(spark, 8, 3)
    val buckets = Similarity.lshBuckets(vecs, planes).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("bucket")).toMap
    assert(buckets(0L) == buckets(1L))
    assert(buckets(0L) != buckets(4L)) // opposite vector: all plane signs flip
  }

  test("language id picks the stopword-dominant language") {
    val out = TextOps.withLangId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("detected_lang")).toMap
    assert(out(0L) == "en")
    assert(out(3L) == "de")
    assert(out(4L) == "und")
  }

  test("n-gram language id scores matched characters and argmaxes deterministically") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "der schnellste zug der ungarn"), // der x2 + sch + ung = 12 chars de
      (2L, "the thing and the sand"),        // the x2, and x2, *ing nested in thing
      (3L, "zzzz")                           // nothing -> und
    ).toDF("doc_id", "text")
    val out = TextOps.withLangIdNgram(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("ngram_score_de"), r.getAs[Long]("ngram_score_en"),
          r.getAs[String]("detected_lang_ngram"))).toMap
    assert(out(1L) == ((12L, 0L, "de")))
    // each trigram counts independently on the original text:
    // the=2, ing=1 (thing), and=2 (incl. sand) -> 15 matched chars
    assert(out(2L) == ((0L, 15L, "en")))
    assert(out(3L)._3 == "und")
  }

  test("sequence packing assigns docs to the budget chunk their first token starts in") {
    import spark.implicits._
    // source s1: token counts 3, 3, 3 with budget 4 -> starts at 0, 3, 6
    //   -> packs 0, 0, 1 (doc 2 straddles the boundary, starts in pack 0)
    val fixture = Seq(
      (1L, "s1", "a b c"), (2L, "s1", "d e f"), (3L, "s1", "g h i"),
      (4L, "s2", "lone")
    ).toDF("doc_id", "source", "text")
    val out = TextOps.packSequences(fixture, budgetTokens = 4)
      .select("doc_id", "cum_tokens", "pack_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, 3L, 0L), (2L, 6L, 0L), (3L, 9L, 1L), (4L, 1L, 0L)))
  }

  test("two-phase prefix sum is shard-boundary-invariant") {
    import spark.implicits._
    // sources interleave across doc_id space so shardBlock=2 splits every
    // source across several shards — the offsets join must stitch the
    // local cumsums back into the exact global per-source prefix sum.
    val fixture = (0L to 19L)
      .map(i => (i, s"s${i % 3}", ("tok " * (i % 5 + 1).toInt).trim))
      .toDF("doc_id", "source", "text")
    val coarse = TextOps.packSequences(fixture, budgetTokens = 4,
        shardBlock = 1000L)
      .select("doc_id", "cum_tokens", "pack_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val fine = TextOps.packSequences(fixture, budgetTokens = 4,
        shardBlock = 2L)
      .select("doc_id", "cum_tokens", "pack_id")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(fine == coarse)
    val mixCoarse = TextOps.sourceMix(fixture, Map("s0" -> 3, "s1" -> 2),
        shardBlock = 1000L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    val mixFine = TextOps.sourceMix(fixture, Map("s0" -> 3, "s1" -> 2),
        shardBlock = 2L)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(mixFine == mixCoarse)
  }

  test("sharded prefix sum equals the naive global cumsum on random inputs") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // seeded random corpus: ragged token counts, skewed sources, doc_id
    // gaps (every 7th id missing) — the naive one-task-per-source window
    // is the independent oracle here, not just shard-invariance
    val rnd = new scala.util.Random(7)
    // every 11th doc has a NULL source: a legitimate group the prefix sum
    // must keep (the offsets join is null-safe on source)
    val rows = (0 until 300).filter(_ % 7 != 0).map { i =>
      (i.toLong, if (i % 11 == 0) null else s"s${rnd.nextInt(4)}",
        ("t " * (rnd.nextInt(9) + 1)).trim)
    }
    val df = rows.toDF("doc_id", "source", "text")
    assert(df.filter(col("source").isNull).count() > 0)
    for (block <- Seq(1L, 3L, 64L)) {
      val sharded = TextOps.packSequences(df, budgetTokens = 16, shardBlock = block)
        .select("doc_id", "cum_tokens", "pack_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = df
        .withColumn("n_tokens", size(split(trim(col("text")), "\\s+")).cast("long"))
        .withColumn("cum_tokens", sum("n_tokens").over(w))
        .withColumn("pack_id", expr("(cum_tokens - n_tokens) div 16"))
        .select("doc_id", "cum_tokens", "pack_id")
        .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
      assert(sharded == naive, s"shardBlock=$block diverges from global window")
    }
  }

  test("source mix keeps ceil(n/stride) docs per source, deterministically") {
    import spark.implicits._
    val fixture = (1L to 10L).map(i => (i, "heavy")) ++ (11L to 13L).map(i => (i, "light"))
    val out = TextOps.sourceMix(fixture.toDF("doc_id", "source"),
        Map("heavy" -> 3))
      .select("doc_id").as[Long].collect().sorted.toSeq
    // heavy: rows 1,4,7,10 (every 3rd from the first); light: all
    assert(out == Seq(1L, 4L, 7L, 10L, 11L, 12L, 13L))
  }

  test("learned IVF codebook recall@k beats the fixed codebook (sf0.1)") {
    // sf0.1 (2000 vectors / 20 queries), NOT sf0.01: on the 500-vector
    // fixture learned == fixed == 0.280 every round — too few points per
    // list for k-means to move a centroid meaningfully, which is why the
    // r7/r8 tracked numbers showed learning "buying nothing". At this
    // scale it does: COVERAGE.md round 9 measured fixed 0.300 / learned 0.430
    // (3 iters) / 0.440 (6 iters) at the registered nLists=16, nprobe=2.
    val emb = graft.io.Sources.embeddings(spark, "/root/testdata/sf0.1")
    val truth = Similarity.bruteForceTopK(emb, queryMod = 100, k = 5)
      .localCheckpoint(true)
    def recallWith(anchors: org.apache.spark.sql.DataFrame): Double =
      measuredRecall(truth, Similarity.ivfTopK(emb, anchors,
        queryMod = 100, k = 5, nprobe = 2))
    val fixed = recallWith(Similarity.ivfAnchors(spark))
    val learned = recallWith(Similarity.learnIvfAnchors(emb))
    info(f"recall@5 fixed=$fixed%.3f learned=$learned%.3f")
    assert(learned > fixed,
      f"k-means codebook recall $learned%.3f not above fixed $fixed%.3f — " +
        "learning stopped earning its existence")
    // tracked metric (deterministic: 9-dp-rounded centroids, tie-safe
    // ranking): r9 measured learned=0.430. A codebook or assignment
    // regression moves this number.
    assert(learned >= 0.40,
      f"learned-codebook recall@5 regressed: $learned%.3f < 0.40 (r9: 0.430)")
  }

  test("learned PQ codebook + exact rerank lift ADC recall (sf0.1)") {
    // r9 verdict item #1: recall@5 0.020 at sim7's registered shape was
    // the only number saying an operator doesn't do its job. The fix is
    // the production configuration — per-subspace k-means codebooks
    // (learnPqCodebook) plus the exact-rerank tier (pqTopKRerank).
    // COVERAGE.md round 10 on this fixture: fixed ADC 0.020 -> learned ADC 0.080
    // -> learned + rerank@50 0.300 (and 0.350 for sim8's learned stack,
    // vs sim3-fixed's 0.300 at comparable candidate cost).
    val emb = graft.io.Sources.embeddings(spark, "/root/testdata/sf0.1")
    val truth = Similarity.bruteForceTopK(emb, queryMod = 100, k = 5)
      .localCheckpoint(true)
    val fixedAdc = measuredRecall(truth, Similarity.pqTopK(emb,
      Similarity.pqCodebook(spark), queryMod = 100, k = 5))
    val learnedRerank = measuredRecall(truth, Similarity.pqTopKRerank(emb,
      Similarity.learnPqCodebook(emb), queryMod = 100, k = 5, shortlist = 50))
    info(f"recall@5 fixedADC=$fixedAdc%.3f learned+rerank@50=$learnedRerank%.3f")
    assert(learnedRerank > fixedAdc,
      f"learned-PQ + rerank recall $learnedRerank%.3f not above the fixed " +
        f"ADC's $fixedAdc%.3f — the production tier stopped earning its code")
    // tracked metric (deterministic: rounded centroids/argmin/cosine):
    // r10 measured 0.300. A codebook or rerank regression moves this.
    assert(learnedRerank >= 0.25,
      f"learned-PQ + rerank recall@5 regressed: $learnedRerank%.3f < 0.25 " +
        "(r10: 0.300)")
  }

  test("residual PQ encoding beats raw-vector learned PQ on a clustered corpus") {
    // The r9 verdict's stretch item, measured where it matters: on a
    // corpus with planted cluster structure, a k-means codebook trained
    // on RAW vectors collapses onto the cluster centers — same-cluster
    // vectors encode to identical codes, ADC ties everywhere, and
    // within-cluster ranking (where the true top-k lives) is destroyed
    // (COVERAGE.md round 10: learned raw-PQ 0.070 vs fixed 0.150 ADC-only —
    // learning HURTS there). Encoding list-centroid RESIDUALS (the actual
    // FAISS IVFADC formulation) removes the shared cluster component, so
    // codebook capacity goes to the within-cluster structure: at equal
    // code budget (8x16x8) and shortlist 50, residual+rerank reads 0.750
    // vs raw-learned+rerank 0.480 on the planted fixture.
    val emb = plantedEmbeddings().localCheckpoint(true)
    val truth = Similarity.bruteForceTopK(emb, queryMod = 100, k = 5)
      .localCheckpoint(true)
    val anchors = Similarity.learnIvfAnchors(emb).localCheckpoint(true)
    val plain = measuredRecall(truth, Similarity.ivfPqTopKRerank(emb, anchors,
      Similarity.learnPqCodebook(emb), queryMod = 100, k = 5, shortlist = 50))
    val residual = measuredRecall(truth, Similarity.ivfPqResidualTopKRerank(emb, anchors,
      queryMod = 100, k = 5, shortlist = 50))
    info(f"recall@5 raw-learned+rerank=$plain%.3f residual+rerank=$residual%.3f")
    assert(residual > plain,
      f"residual encoding $residual%.3f not above raw-vector learned PQ " +
        f"$plain%.3f on the clustered corpus — the IVFADC formulation " +
        "stopped earning its code")
    assert(residual >= 0.65,
      f"residual+rerank recall@5 regressed: $residual%.3f < 0.65 (r10: 0.750)")
  }

  test("Materialize persist mode returns the same rows as localCheckpoint mode") {
    // r10 verdict item #7: the reused-intermediate idiom must be
    // conf-switchable to a lineage-preserving persist for cluster runs
    // (localCheckpoint partitions have no recompute path — one lost
    // executor kills the job). Same pipeline, both modes, same answer.
    def run(): Seq[(Long, Long)] =
      Dedup.lshCandidatePairs(
        graft.ops.Materialize(Dedup.minhashSignatures(docs)))
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val viaCheckpoint = run()
    val viaPersist = SparkTestSession.underPersist(run())
    assert(viaPersist === viaCheckpoint,
      "persist-mode Materialize changed the candidate pairs")
    assert(viaCheckpoint.nonEmpty, "fixture produced no candidate pairs")
  }

  test("PQ-config scorecard picks the right codebook on both fixtures") {
    // r10 verdict item #2: the PQ configurations' recall ranking INVERTS
    // by corpus geometry (learned wins near-uniform, residual wins
    // clustered), so the choice must be measured, not prose. Gate the
    // selector on both fixtures: the scorecard sim21 registers, plus the
    // OPQ configuration scored through the same recall kernel, must flag
    // `residual` on the planted corpus and `learned` on the near-uniform
    // sf0.1 fixture, and the per-config scores must support the pick.
    def gate(emb: org.apache.spark.sql.DataFrame, corpus: String,
             expect: String): Unit = {
      val anchors = Similarity.learnIvfAnchors(emb).localCheckpoint(true)
      // the scorecard's fixed query batch: vec_id ≡ 0 (mod 100) below 2000
      val opq = Similarity.recall(
          Similarity.bruteForceTopK(emb, queryCap = 2000L),
          Similarity.opqIvfPqTopKRerank(emb, queryCap = 2000L))
        .select(lit("opq").as("config"), lit(3).as("build_cost"),
          col("hits"), col("n_truth"), col("recall").as("recall_at_5"))
      val card = Similarity.flagWinner(
        Similarity.pqConfigScorecard(emb, anchors).unionByName(opq)).collect()
      val scores = card.map(r =>
        r.getAs[String]("config") -> r.getAs[Double]("recall_at_5")).toMap
      val choice = card.filter(_.getAs[Boolean]("is_winner"))
        .map(_.getAs[String]("config")).toSeq
      info(s"$corpus: choice=$choice scores=" + scores.map {
        case (n, r) => f"$n=$r%.3f" }.mkString(" "))
      assert(choice === Seq(expect),
        s"selector picked $choice on the $corpus corpus, expected $expect " +
          s"(scores $scores)")
      assert(scores(expect) >= scores.values.max,
        s"winner's score is not the max: $scores")
    }
    gate(plantedEmbeddings().localCheckpoint(true),
      "planted", "residual")
    gate(graft.io.Sources.embeddings(spark, "/root/testdata/sf0.1")
      .localCheckpoint(true), "uniform", "learned")
  }

  test("recall kernel: an empty truth reads hits 0, n_truth 0 and a NULL recall") {
    // the session runs ANSI, where hits / n_truth over an empty truth
    // throws DIVIDE_BY_ZERO; DuckDB (the oracle) returns NULL instead
    val truth = Seq.empty[(Long, Long)].toDF("query_id", "vec_id")
    val approx = Seq((0L, 1L), (0L, 2L)).toDF("query_id", "vec_id")
    val row = Similarity.recall(truth, approx).collect().toSeq
    assert(row.map(r => (r.getAs[Long]("hits"), r.getAs[Long]("n_truth"),
      r.isNullAt(r.fieldIndex("recall")))) == Seq((0L, 0L, true)))
    // and the non-empty reading: a repeated approx row counts once
    val some = Similarity.recall(Seq((0L, 1L), (0L, 3L)).toDF("query_id", "vec_id"),
      approx.unionByName(approx)).collect().toSeq
    assert(some.map(r => (r.getAs[Long]("hits"), r.getAs[Long]("n_truth"),
      r.getAs[Double]("recall"))) == Seq((1L, 2L, 0.5)))
  }

  /** A data dir holding only an empty `embeddings` table with the fixture
    * schema (vec_id bigint, embedding array<float>, label int) — all that
    * sim20 and sim21 read. */
  private def withEmptyEmbeddings[A](body: String => A): A =
    SparkTestSession.withTempDir("graft-empty-emb") { dir =>
      Seq.empty[(Long, Seq[Float], Int)].toDF("vec_id", "embedding", "label")
        .write.parquet(dir.resolve("embeddings.parquet").toString)
      body(dir.toString)
    }

  test("sim20_recall over an empty embeddings table reports three tiers with NULL recall") {
    val rows = withEmptyEmbeddings(Queries.all("sim20_recall")(spark, _).collect().toSeq)
    assert(rows.map(r => (r.getAs[String]("method"), r.getAs[Long]("hits"),
        r.getAs[Long]("n_truth"), r.isNullAt(r.fieldIndex("recall_at_5")))) ==
      Seq(("ivf", 0L, 0L, true), ("lsh", 0L, 0L, true),
        ("lsh_multiprobe", 0L, 0L, true)))
  }

  test("sim21_codebook_selector over an empty embeddings table flags no winner") {
    // every recall is NULL there; a NULL recall is never a measured winner
    val rows = withEmptyEmbeddings(
      Queries.all("sim21_codebook_selector")(spark, _).collect().toSeq)
    assert(rows.map(r => (r.getAs[String]("config"),
        r.isNullAt(r.fieldIndex("recall_at_5")), r.getAs[Boolean]("is_winner"))) ==
      Seq(("fixed", true, false), ("learned", true, false),
        ("opq", true, false), ("residual", true, false)))
  }

  /** Runs `body` on an sf dir whose only table is an empty `documents`. */
  private def withEmptyDocuments[A](body: String => A): A =
    SparkTestSession.withTempDir("graft-empty-docs") { dir =>
      Seq.empty[(Long, String, String, String, Long)]
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(dir.resolve("documents.parquet").toString)
      body(dir.toString)
    }

  test("t31_bm25 over an empty documents table ranks nothing") {
    // no document, no average length: every query has no hit, as in DuckDB
    assert(withEmptyDocuments(Queries.all("t31_bm25")(spark, _).collect()).isEmpty)
  }

  test("d15_incremental_curation over an empty documents table keeps nothing") {
    // three empty terciles fold in as three empty batches
    assert(withEmptyDocuments(
      Queries.all("d15_incremental_curation")(spark, _).collect()).isEmpty)
  }

  test("OPQ rotation: orthonormal, cosine-invariant, beats plain learned PQ") {
    // r10 verdict stretch item (OPQ, Ge et al. CVPR 2013 — the
    // parametric eigenvalue-allocation variant). The round-11 recall
    // sweep, rerank@50 at the equal 8x16x8 code budget:
    //   uniform:      OPQ 0.330 > learned 0.300 > residual 0.230
    //   planted:      OPQ 0.630 > learned 0.480 (residual 0.750 still
    //                 wins clustered corpora)
    //   anisotropic:  OPQ 0.480 < learned 0.580 — rotation fixes the
    //                 BASIS, not the clustered-corpus codebook collapse
    //                 (that is residual encoding's job; the two repairs
    //                 are orthogonal and COVERAGE.md documents the
    //                 selection rule)
    // Gates: structural invariants (orthonormality; rotation preserves
    // the brute-force top-k) plus the two fixture wins with regression
    // floors under the measured values.
    val uniform = graft.io.Sources.embeddings(spark, "/root/testdata/sf0.1")
      .localCheckpoint(true)
    val rot = Similarity.opqRotation(uniform)
    val dims = rot.length
    for (i <- 0 until dims; j <- i until dims) {
      val dot = (0 until dims).map(d => rot(i)(d) * rot(j)(d)).sum
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(dot - expect) < 1e-6,
        f"rotation rows $i,$j not orthonormal: dot=$dot%.9f")
    }
    // cosine invariance: an orthonormal rotation must not change the
    // brute-force top-k (float re-rounding can flip exact ties only)
    val overlap = measuredRecall(Similarity.bruteForceTopK(uniform, 100, 5),
      Similarity.bruteForceTopK(Similarity.rotate(uniform, rot), 100, 5))
    info(f"top-k overlap raw vs rotated basis: $overlap%.3f")
    assert(overlap >= 0.95,
      f"rotation changed the exact top-k ($overlap%.3f < 0.95) — " +
        "it is not behaving as an isometry")
    def gate(emb: org.apache.spark.sql.DataFrame, corpus: String,
             floor: Double): Unit = {
      val truth = Similarity.bruteForceTopK(emb, 100, 5).localCheckpoint(true)
      val learned = measuredRecall(truth, Similarity.pqTopKRerank(emb,
        Similarity.learnPqCodebook(emb), queryMod = 100, k = 5,
        shortlist = 50))
      val opq = measuredRecall(truth, Similarity.opqPqTopKRerank(emb, queryMod = 100,
        k = 5, shortlist = 50))
      info(f"$corpus: learned+rerank@50=$learned%.3f opq+rerank@50=$opq%.3f")
      assert(opq > learned,
        f"$corpus: OPQ $opq%.3f not above plain learned $learned%.3f " +
          "at equal code budget — the rotation stopped earning its pass")
      assert(opq >= floor,
        f"$corpus: OPQ recall regressed: $opq%.3f < $floor (r11 measured)")
    }
    gate(uniform, "uniform", 0.30)
    gate(plantedEmbeddings().localCheckpoint(true),
      "planted", 0.55)
  }

  test("learned PQ codebook has strictly lower distortion than the fixed one") {
    // pqDistortion measures exactly the k-means objective learnPqCodebook
    // minimizes — if the learned codebook ever stops beating the md5
    // baseline on mean distortion, the trainer is broken
    val emb = graft.io.Sources.embeddings(spark, "/root/testdata/sf0.01")
    def meanDist(cb: org.apache.spark.sql.DataFrame): Double =
      Similarity.pqDistortion(emb, cb)
        .agg(avg("avg_dist2")).first().getDouble(0)
    val fixed = meanDist(Similarity.pqCodebook(spark))
    val learned = meanDist(Similarity.learnPqCodebook(emb))
    info(f"mean per-subspace distortion fixed=$fixed%.4f learned=$learned%.4f")
    assert(learned < fixed,
      f"learned codebook distortion $learned%.4f not below fixed $fixed%.4f")
  }

  test("range search returns exactly the in-bucket pairs clearing tau") {
    val emb = graft.io.Sources.embeddings(spark, "/root/testdata/sf0.001")
    val planes = Similarity.planes(spark)
    val tau = 0.1
    val got = Similarity.lshRangeSearch(emb, planes, queryMod = 10, tau = tau)
      .select("query_id", "vec_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "fixture must produce threshold hits at sf0.001")
    assert(got.forall(_._3 >= tau), "a returned cosine is below tau")
    // reference: per-bucket brute force over the collected bucket map
    val buckets = Similarity.lshBuckets(emb, planes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = emb.collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray
    }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dp = a.zip(b).map { case (x, y) => x * y }.sum
      dp / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // compare pair sets loosely at the boundary: every got pair must be a
    // same-bucket pair, and every clearly-above-tau reference pair (margin
    // over rounding noise) must be in got
    val gotPairs = got.map(p => (p._1, p._2)).toSet
    assert(gotPairs.forall { case (q, v) => buckets(q) == buckets(v) },
      "a returned pair does not share a bucket")
    val mustHave = for {
      (q, qb) <- buckets.toSeq if q % 10 == 0
      (v, vb) <- buckets if v != q && vb == qb
      if cos(vecs(q), vecs(v)) >= tau + 1e-4
    } yield (q, v)
    assert(mustHave.forall(gotPairs.contains),
      "a same-bucket pair clearly above tau is missing")
  }

  test("multi-probe LSH: probes=0 degenerates to lshTopK; probing lifts recall") {
    val emb = graft.io.Sources.embeddings(spark, "/root/testdata/sf0.01")
    val planes = Similarity.planes(spark)
    val single = Similarity.lshTopK(emb, planes, queryMod = 100, k = 3)
    val zero = Similarity.lshTopKMultiProbe(emb, planes, queryMod = 100,
      k = 3, probes = 0)
    assert(zero.exceptAll(single).count() == 0 &&
      single.exceptAll(zero).count() == 0,
      "probes=0 must equal the single-probe lshTopK exactly")

    // recall against brute-force truth must not DROP when probing more
    // buckets: every single-probe candidate is still a candidate. Measured
    // on the planted corpus, where single-probe LSH finds true neighbors
    // (on sf0.01 both recalls read 0, so the comparison says nothing)
    val planted = plantedEmbeddings().localCheckpoint(true)
    val truth = Similarity.bruteForceTopK(planted, queryMod = 100, k = 3)
      .localCheckpoint(true)
    val r0 = measuredRecall(truth,
      Similarity.lshTopK(planted, planes, queryMod = 100, k = 3))
    val r2 = measuredRecall(truth, Similarity.lshTopKMultiProbe(planted,
      planes, queryMod = 100, k = 3, probes = 2))
    info(f"recall@3 single=$r0%.3f probes2=$r2%.3f")
    assert(r0 > 0, "single-probe LSH found no true neighbor: the lift is unmeasured")
    assert(r2 >= r0, f"multi-probe recall $r2%.3f below single-probe $r0%.3f")

    // each query's candidate pool grows: probed bucket count == probes+1
    val nb = Similarity.lshTopKMultiProbe(emb, planes, queryMod = 100,
        k = 1000000, probes = 2)
      .select("query_id", "bucket").distinct()
      .groupBy("query_id").count().agg(max("count")).first().getLong(0)
    assert(nb <= 3, s"a query searched $nb distinct buckets, expected <= 3")
  }

  test("quality score components are in [0, 1]") {
    val rows = TextOps.withQualityScore(docs).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("punct_ratio") >= 0 && r.getAs[Double]("punct_ratio") <= 1)
      assert(r.getAs[Double]("quality_score") >= 0 && r.getAs[Double]("quality_score") <= 1.001)
    }
  }

  test("token counts: whitespace and bpe estimate") {
    val r = TextOps.withTokenCounts(docs).filter(col("doc_id") === 0).head()
    assert(r.getAs[Int]("ws_tokens") == 9)
    assert(r.getAs[Long]("bpe_estimate") == math.ceil(43 / 4.0).toLong)
  }

  test("fingerprints: exact dups share md5, near dups share min-shingle more often than not") {
    val fp = TextOps.withFingerprints(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("md5_fingerprint"), r.getAs[String]("min_shingle_fingerprint"))).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(5L)._2 == null) // no shingles
  }

  test("redaction scrubs emails, urls, and phone numbers, in pattern order") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "contact bob.smith+x@corp.example.org today"),
      (2L, "see https://example.com/a?b=12345 for details"),
      (3L, "call +1 (555) 123-4567 now"),
      (4L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val out = TextOps.redact(fixture).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(out(1L) == "contact <EMAIL> today")
    // URL pattern wins over the digit-run inside it
    assert(out(2L) == "see <URL> for details")
    assert(out(3L) == "call <PHONE> now")
    assert(out(4L) == "nothing sensitive here")
  }

  test("l2Normalize yields unit vectors; zero vectors stay zero") {
    import spark.implicits._
    val emb = Seq((1L, Array(3.0f, 4.0f)), (2L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
      .withColumn("unit", Similarity.l2Normalize())
    val rows = emb.collect().map(r =>
      r.getAs[Long]("vec_id") -> r.getSeq[Double](r.fieldIndex("unit"))).toMap
    assert(rows(1L) == Seq(0.6, 0.8))
    assert(rows(2L) == Seq(0.0, 0.0))
  }

  test("int8 quantization bounds per-element error; zero vectors round-trip") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),      // zero vector: scale 0, all-zero q
      (3L, Array(12.7f, -12.7f, 6.35f))   // exact scale 0.1 at the int8 edge
    ).toDF("vec_id", "embedding")
    val rows = Similarity.quantizeInt8(emb)
      .withColumn("deq", Similarity.dequantizeInt8())
      .select("vec_id", "embedding", "deq", "q_scale")
      .collect()
    rows.foreach { r =>
      val orig = r.getSeq[Float](r.fieldIndex("embedding"))
      val deq = r.getSeq[Double](r.fieldIndex("deq"))
      val scale = r.getAs[Double]("q_scale")
      orig.zip(deq).foreach { case (o, d) =>
        assert(math.abs(o.toDouble - d) <= scale / 2 + 1e-9,
          s"vec ${r.getAs[Long]("vec_id")}: $o -> $d at scale $scale")
      }
    }
    val z = rows.find(_.getAs[Long]("vec_id") == 2L).get
    assert(z.getAs[Double]("q_scale") == 0.0)
    assert(z.getSeq[Double](z.fieldIndex("deq")).forall(_ == 0.0))
  }

  test("multimodal: resize REALLY resamples a decodable image (dims + corner pixels)") {
    // 8x8 PNG with four solid 4x4 quadrant colors; bilinear downscale to
    // 4x4 must keep each corner pixel exactly its quadrant's color (the
    // corner samples sit strictly inside a solid region, so interpolation
    // is exact there), and the payload must re-decode at the target dims.
    val (red, green, blue, white) = (0xFF0000, 0x00FF00, 0x0000FF, 0xFFFFFF)
    val img = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 8; y <- 0 until 8)
      img.setRGB(x, y,
        if (x < 4 && y < 4) red else if (x >= 4 && y < 4) green
        else if (x < 4) blue else white)
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", buf)

    val out = Multimodal.resizeImage(
      Multimodal.MediaRow(42L, buf.toByteArray, "png"), 4, 4)
    assert(out.width == 4 && out.height == 4 && out.format == "png")
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(out.payload))
    assert(back.getWidth == 4 && back.getHeight == 4,
      "re-encoded payload decodes at the target dimensions")
    def rgb(x: Int, y: Int) = back.getRGB(x, y) & 0xFFFFFF
    assert(rgb(0, 0) == red && rgb(3, 0) == green &&
      rgb(0, 3) == blue && rgb(3, 3) == white,
      "corner pixels keep their quadrant colors through the bilinear resample")
  }

  test("multimodal: resize bounds output size, frame sampling strides the payload") {
    val media = Multimodal.asMediaTable(docs)
    // the media fixture is text bytes (no image magic), so every row takes
    // the bounded stub fallback — clamped at width*height/8 bytes
    val resized = media.as[Multimodal.MediaRow].collect()
      .map(Multimodal.resizeImage(_, 64, 32))
    assert(resized.forall(_.payload.length <= 64 * 32 / 8),
      "non-decodable payloads take the stub clamp bound")
    assert(resized.map(_.doc_id).sorted.toSeq == (0L to 5L))

    // the DECODABLE path's bound is different: a PNG re-encode of the
    // w x h RGB target is at most raw scanlines (h*(1+3w)) + zlib/chunk
    // overhead — proportional to the TARGET dims, never the input. Use
    // incompressible noise (worst case for the PNG filter+deflate) from a
    // fixed-seed generator and a much larger input than the target.
    val rnd = new scala.util.Random(7)
    val noisy = new java.awt.image.BufferedImage(256, 256,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 256; y <- 0 until 256)
      noisy.setRGB(x, y, rnd.nextInt(1 << 24))
    val nbuf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(noisy, "png", nbuf)
    val real = Multimodal.resizeImage(
      Multimodal.MediaRow(43L, nbuf.toByteArray, "png"), 64, 32)
    assert(real.format == "png" && real.payload.length > 64 * 32 / 8,
      "a decodable image takes the real PNG path, not the stub clamp")
    assert(real.payload.length <= 4 * 64 * 32 + 1024,
      s"PNG re-encode bounded by target dims (got ${real.payload.length} " +
        "bytes for a 64x32 target from a 256x256 noise input)")

    // doc 0: 43 bytes -> ceil(43/16)=3 chunks -> stride 2 keeps frames 0 and 2
    val frames = Multimodal.sampleFrames(spark, media, frameBytes = 16, stride = 2)
      .filter(_.doc_id == 0L).collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(frames.head.frame.length == 16 && frames.last.frame.length == 11)
  }

  test("fuzzy dedup: typo variants verify; reorderings miss the block; caps hold") {
    val d = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight", "en"),
      (11L, "the quick brown fox jumps over the lazy dog tonite!", "en"),
      (12L, "tonight the lazy dog jumps over the quick brown fox", "en"),
      (13L, "the quick brown fox jumps over the lazy dog tonight", null)
    ).toDF("doc_id", "text", "lang")
    val pairs = Dedup.fuzzyDupPairs(d).collect()
    // 10-11: same 16-char prefix block, levenshtein on the normalized
    // 64-char prefixes is small -> verified. 12 reorders tokens: its
    // opening chars differ, so blocking (correctly, by design) skips it —
    // that pair is the d2/d8 shingle path's job. 13 has NULL lang -> ''
    // block, never joins the 'en' block.
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((10L, 11L)))
    val p = pairs.head
    assert(p.getAs[Int]("edit_distance") == 3 && // tonight -> tonite
      p.getAs[Double]("sim_ratio") > 0.9)
  }

  test("multimodal: declarative frameDigests == imperative sampleFrames") {
    // multibyte chars land in the fixture via a crafted row so the hex
    // slicing is proven byte-faithful where UTF-8 units straddle frames
    val media = Multimodal.asMediaTable(docs.unionByName(
      Seq((6L, "héllo wörld — ünïcode straddles frame boundaries hère", "en"))
        .toDF("doc_id", "text", "lang")))
    val declarative = Multimodal.frameDigests(media)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3))).toSet
    val imperative = Multimodal.sampleFrames(spark, media).collect().map { f =>
      val hexSlice = f.frame.map("%02X".format(_)).mkString
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(hexSlice.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (f.doc_id, f.frame_idx, f.frame.length, d)
    }.toSet
    assert(declarative == imperative,
      "hex-sliced digest table diverges from the byte-chunked frames")
    assert(declarative.exists(_._3 < 16),
      "fixture should exercise a short tail frame")
  }

  test("multimodal: audio header parse — WAV arithmetic exact, short payloads total") {
    val media = Multimodal.asAudioTable(Seq(
      (0L, "abcdefgh", "en"),  // 8 bytes: b0=97 b1=98 b2=99
      (1L, "abc", "en"),       // 3 bytes: under the 4-byte header -> not ok
      (2L, null, "en")         // NULL payload propagates
    ).toDF("doc_id", "text", "lang"))
    val rows = Multimodal.audioMeta(media).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r0 = rows(0L)
    // 97%5+1=3 -> 22050 Hz; 98%2+1=1 channel; (99%2+1)*8=16 bits;
    // 4 data bytes -> 4*8/(16*1)=2 samples -> 2*1000/22050 = 0 ms
    assert(r0.getAs[String]("format") == "wav") // doc_id 0 % 3 -> first tag
    assert(r0.getAs[Boolean]("ok"))
    assert(r0.getAs[Int]("sample_rate") == 22050)
    assert(r0.getAs[Int]("channels") == 1)
    assert(r0.getAs[Int]("bits_per_sample") == 16)
    assert(r0.getAs[Long]("n_samples") == 2L)
    assert(r0.getAs[Long]("duration_ms") == 0L)
    val r1 = rows(1L)
    assert(!r1.getAs[Boolean]("ok") && r1.isNullAt(r1.fieldIndex("sample_rate"))
      && r1.isNullAt(r1.fieldIndex("duration_ms")),
      "short payload must report ok=false with NULL fields, not fail")
    val r2 = rows(2L)
    assert(r2.isNullAt(r2.fieldIndex("byte_len")) &&
      r2.isNullAt(r2.fieldIndex("ok")),
      "NULL payload propagates NULL byte_len/ok")
  }

  test("multimodal: stub decode is deterministic; image tags attempt real decode") {
    val meta = Multimodal.decodeMeta(spark, Multimodal.asMediaTable(docs)).collect()
    // doc 0 is jpeg-tagged (doc_id % 3 == 0): real ImageIO decode of text
    // bytes must FAIL loudly, not report plausible fakes
    val m0 = meta.find(_.doc_id == 0L).get
    assert(m0.byte_len == 43 && !m0.ok && m0.width == -1 && m0.height == -1)
    assert(m0.format == "jpeg")
    // doc 2 is webp-tagged (no JDK reader): deterministic length-based stub
    val m2 = meta.find(_.doc_id == 2L).get
    assert(m2.format == "webp" && m2.ok)
    assert(m2.width == m2.byte_len % 640 + 1 && m2.height == m2.byte_len % 480 + 1)
  }

  test("multimodal: png and jpeg rows decode FOR REAL through ImageIO") {
    import spark.implicits._
    // craft a genuine 7x3 PNG and a 5x4 JPEG in memory — the decoder must
    // recover the true pixel dimensions, not the stub's length-derived fakes
    def encode(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      img.setRGB(w / 2, h / 2, 0xff8800)
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, buf)
      buf.toByteArray
    }
    val pngBytes = encode(7, 3, "png")
    val jpgBytes = encode(5, 4, "jpg")

    val media = Seq(
      (10L, pngBytes, "png"),                      // real PNG
      (11L, "not a png".getBytes("UTF-8"), "png"), // wrong magic
      (12L, pngBytes, "webp"),                     // no JDK reader tag -> stub
      (13L, jpgBytes, "jpeg")                      // real JPEG
    ).toDF("doc_id", "payload", "format")
    val out = Multimodal.decodeMeta(spark, media).collect()
      .map(m => m.doc_id -> m).toMap

    assert(out(10L).ok && out(10L).width == 7 && out(10L).height == 3,
      "a real PNG must decode to its true dimensions")
    assert(out(10L).byte_len == pngBytes.length)
    assert(!out(11L).ok && out(11L).width == -1 && out(11L).height == -1,
      "an unparseable png payload reports a failed decode, not fake dims")
    val n = pngBytes.length
    assert(out(12L).width == n % 640 + 1 && out(12L).height == n % 480 + 1,
      "formats without a JDK reader keep the deterministic stub")
    assert(out(13L).ok && out(13L).width == 5 && out(13L).height == 4,
      "a real JPEG must decode to its true dimensions")
  }

  test("multimodal: perceptual aHash finds near-dup images, not distinct ones") {
    import spark.implicits._
    // deterministic 64x64 gradient-checker image; `tweak` nudges a few
    // pixels (a light edit a recompression might cause), `invert` flips
    // luminance everywhere (a genuinely different image)
    def encode(tweak: Boolean, invert: Boolean): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 64,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 64) {
        val base = ((x / 8 + y / 8) % 2) * 200 + (x + y) % 40
        val v0 = if (invert) 255 - base else base
        val v = math.min(255, math.max(0,
          if (tweak && x < 3 && y < 3) v0 + 25 else v0))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", buf)
      buf.toByteArray
    }
    val media = Seq(
      (0L, encode(tweak = false, invert = false), "png"),
      (1L, encode(tweak = true, invert = false), "png"),  // near-dup of 0
      (2L, encode(tweak = false, invert = true), "png"),  // different
      (3L, "broken".getBytes("UTF-8"), "png"))            // non-decodable
      .toDF("doc_id", "payload", "format")

    val hashes = Multimodal.perceptualHashes(spark, media).collect()
      .map(h => h.doc_id -> h).toMap
    assert(hashes(0L).ok && hashes(2L).ok && !hashes(3L).ok)
    assert(hashes(0L).phash != hashes(2L).phash,
      "inverted image must hash differently")
    assert(java.lang.Long.bitCount(hashes(0L).phash ^ hashes(2L).phash) > 3,
      "inverted image is far in hamming distance")
    assert(java.lang.Long.bitCount(hashes(0L).phash ^ hashes(1L).phash) <= 3,
      "lightly edited image stays within 3 bits")

    val pairs = Multimodal.phashNearDupPairs(
        Multimodal.perceptualHashes(spark, media).toDF()
          .filter(col("ok")).select("doc_id", "phash"), maxBits = 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(pairs.toSet == Set((0L, 1L)),
      s"only the tweaked pair is a near-dup, got ${pairs.toSet}")
  }

  test("decontamination flags a planted 8-gram leak, counts exactly") {
    import spark.implicits._
    // benchmark doc = exactly one 8-gram; corpus doc 0 embeds it in a
    // 10-token doc (3 distinct 8-grams -> hit_frac = 1/3); doc 1 is clean;
    // doc 2 is shorter than n and must contribute no n-grams at all
    val benchmark = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "totally clean words sharing nothing with the benchmark at all"),
      (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")

    val out = Decontaminate.contamination(corpus, benchmark, n = 8).collect()
    assert(out.length == 1, s"only the planted leak may flag, got ${out.length}")
    val hit = out.head
    assert(hit.getAs[Long]("doc_id") == 0L)
    assert(hit.getAs[Long]("hit_ngrams") == 1L &&
      hit.getAs[Long]("n_ngrams") == 3L)
    assert(math.abs(hit.getAs[Double]("hit_frac") - 0.333333) < 1e-9)

    // the shuffled-join fallback must compute the identical report
    val shuffled = Decontaminate.contamination(corpus, benchmark, n = 8,
      broadcastBenchmark = false)
    assert(shuffled.collect().toSeq == out.toSeq,
      "broadcastBenchmark=false must not change the result")
  }

  test("repetition stats: degenerate, single-token, and null-text docs") {
    import spark.implicits._
    val docs = Seq(
      (0L, "spam spam spam spam"),   // 1 distinct token, 3 bigrams 1 distinct
      (1L, "hello"),                 // single token -> no bigrams (null stats)
      // 10 distinct tokens: top_tok_frac 0.1 < 0.12, no dup bigrams
      (2L, "ten wholly distinct words keep this document under every threshold"),
      (3L, null.asInstanceOf[String])) // NULL text must SURVIVE with null stats
      .toDF("doc_id", "text")
    val out = TextOps.withRepetitionStats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 4, "every input doc must survive, incl. null text")

    val spam = out(0L)
    assert(spam.getAs[Long]("n_tokens") == 4L &&
      spam.getAs[Long]("distinct_tokens") == 1L)
    assert(math.abs(spam.getAs[Double]("top_tok_frac") - 1.0) < 1e-9)
    assert(spam.getAs[Long]("n_bigrams") == 3L &&
      spam.getAs[Long]("distinct_bigrams") == 1L)
    assert(math.abs(spam.getAs[Double]("dup_bigram_frac") - 0.666667) < 1e-9)
    assert(spam.getAs[Boolean]("repetitive"))

    val single = out(1L)
    assert(single.getAs[Long]("n_tokens") == 1L)
    assert(single.isNullAt(single.fieldIndex("n_bigrams")) &&
      single.isNullAt(single.fieldIndex("dup_bigram_frac")),
      "a single-token doc has no bigrams -> null bigram stats")
    assert(single.getAs[Boolean]("repetitive"),
      "one token repeated 100% of the time flags via top_tok_frac")

    assert(!out(2L).getAs[Boolean]("repetitive"))

    val nul = out(3L)
    assert(nul.isNullAt(nul.fieldIndex("n_tokens")),
      "null-text stats stay null")
    assert(!nul.getAs[Boolean]("repetitive"),
      "a null-text doc is not repetitive, and must not vanish")
  }

  test("split assignment: proportions, determinism, salt re-deal, null text") {
    import spark.implicits._
    val docs = (0L until 2000L)
      .map(i => (i, s"document number $i with its own distinct content"))
      .toDF("doc_id", "text")
    val out = TextOps.withSplitAssignment(docs)
    val counts = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // md5 buckets are ~binomial: sd(train) ~ 0.9%; +-4% is ~4.5 sd
    assert(math.abs(counts("train") / 2000.0 - 0.80) < 0.04, counts.toString)
    assert(math.abs(counts("val") / 2000.0 - 0.10) < 0.04, counts.toString)
    assert(math.abs(counts("test") / 2000.0 - 0.10) < 0.04, counts.toString)
    assert(out.filter(col("bucket") < 0 || col("bucket") >= 100).count() == 0)

    // content-addressed: a second run deals the identical split
    val again = TextOps.withSplitAssignment(docs)
    assert(out.select("doc_id", "split").exceptAll(
      again.select("doc_id", "split")).count() == 0)

    // a new salt re-deals (some docs move) but keeps proportions
    val resalted = TextOps.withSplitAssignment(docs, salt = "other")
    val moved = out.alias("a").join(resalted.alias("b"), "doc_id")
      .filter(col("a.split") =!= col("b.split")).count()
    assert(moved > 0, "changing the salt must re-deal the split")

    // NULL text: deterministic bucket (same as empty text), never null
    val nulled = Seq((0L, null.asInstanceOf[String]), (1L, ""))
      .toDF("doc_id", "text")
    val nb = TextOps.withSplitAssignment(nulled).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bucket")).toMap
    assert(nb(0L) == nb(1L), "null text buckets like empty text")
  }

  test("vocabulary counts occurrences and doc frequency; top-k is deterministic") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "apple banana apple"),
      (1L, "banana cherry"),
      (2L, "apple date")).toDF("doc_id", "text")
    val v = TextOps.vocabulary(corpus, k = 3).collect()
      .map(r => (r.getAs[String]("token"), r.getAs[Long]("n_occurrences"),
        r.getAs[Long]("doc_freq")))
    // apple: 3 occurrences in 2 docs; banana: 2 in 2; cherry/date: 1 in 1
    // (tie on 1 -> token asc -> cherry takes the third slot)
    assert(v.toSeq == Seq(("apple", 3L, 2L), ("banana", 2L, 2L),
      ("cherry", 1L, 1L)))
  }

  test("containment flags a short doc embedded in a long one that Jaccard misses") {
    import spark.implicits._
    val short_ = "alpha bravo charlie delta echo"           // 3 shingles
    val long_ = short_ + " foxtrot golf hotel india juliet kilo lima mike november"
    val corpus = Seq((0L, short_), (1L, long_), (2L, "unrelated words entirely disjoint tokens here"))
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")
    // A ⊂ B: containment_a = 1.0 while Jaccard = 3/12 = 0.25 — the
    // symmetric verify at 0.5 would drop exactly this pair
    val kept = graft.ext.Dedup.containmentVerifyPairs(corpus, pairs, minContainment = 0.8)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b")))
    assert(kept.toSeq == Seq((0L, 1L, 1.0, 0.25)), kept.toSeq.toString)
    val jacc = graft.ext.Dedup.jaccardVerifyPairs(corpus, pairs, minJaccard = 0.5).count()
    assert(jacc == 0, "the symmetric verify must miss the subset pair")
  }

  test("silhouette reads 1 for well-separated labels, ~0 for coincident ones") {
    import spark.implicits._
    val sep = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f), 1), (3L, Array(0.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.silhouetteByLabel(sep).orderBy("label").collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Long]("n_vectors"),
        r.getAs[Double]("mean_silhouette")))
    // every vector sits ON its centroid (a=0) at sqrt(2) from the other
    assert(out.toSeq == Seq((0, 2L, 1.0), (1, 2L, 1.0)), out.toSeq.toString)

    // two labels on the SAME point: a = b = 0 -> s = 0 (guarded, not NaN)
    val coincident = Seq(
      (0L, Array(1.0f, 0.0f), 0), (1L, Array(1.0f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val cOut = Similarity.silhouetteByLabel(coincident).collect()
      .map(_.getAs[Double]("mean_silhouette"))
    assert(cOut.forall(_ == 0.0), cOut.toSeq.toString)
  }

  test("bigram collocations count adjacent pairs and PMI rewards exclusive pairs") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "new york new york"),   // "new york" x2, "york new" x1
      (1L, "new york is big"),
      (2L, "old men and old dogs"),
      (3L, "solo")                  // 1 token -> no bigrams
    ).toDF("doc_id", "text")
    val out = TextOps.bigramCollocations(corpus, k = 3).collect()
    val rows = out.map(r => (r.getAs[String]("bigram"),
      r.getAs[Long]("n_occurrences"), r.getAs[Long]("doc_freq"),
      r.getAs[Int]("rank")))
    // "new york": 3 occurrences across 2 docs; every other bigram occurs
    // once (tie -> bigram asc: "and old", "is big")
    assert(rows.toSeq == Seq(("new york", 3L, 2L, 1),
      ("and old", 1L, 1L, 2), ("is big", 1L, 1L, 3)), rows.toSeq.toString)
    // PMI check against the closed form: bigram totals doc0 3, doc1 3,
    // doc2 4, doc3 0 -> N_bg = 10; unigrams: 4 + 4 + 5 + 1 = 14.
    // c(new)=3, c(york)=3, c(new york)=3:
    // pmi = ln((3/10) / ((3/14)*(3/14)))
    val expected = math.log((3.0 / 10.0) / ((3.0 / 14.0) * (3.0 / 14.0)))
    val got = out.find(_.getAs[String]("bigram") == "new york").get
      .getAs[Double]("pmi")
    assert(math.abs(got - expected) < 1e-6, s"pmi $got vs $expected")
  }

  test("weekly stickiness is avg DAU over WAU per calendar week") {
    import spark.implicits._
    import java.sql.Timestamp
    // ISO week of 2024-01-01 (a Monday): users 1,2 active Mon; 1 active Tue
    // -> DAU = [2, 1], avg 1.5; WAU = 2 -> stickiness 0.75.
    // A second event of user 1 on Monday must not change anything.
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 11:00:00")),
      (2L, Timestamp.valueOf("2024-01-01 12:00:00")),
      (1L, Timestamp.valueOf("2024-01-02 09:00:00")),
      (3L, Timestamp.valueOf("2024-01-08 09:00:00")) // next week, alone
    ).toDF("user_id", "ts")
    val out = graft.analytics.ActiveUsers.weeklyStickiness(ev)
      .orderBy("wk").collect()
      .map(r => (r.getAs[java.sql.Date]("wk").toString,
        r.getAs[Long]("n_days"), r.getAs[Long]("wau"),
        r.getAs[Double]("avg_dau"), r.getAs[Double]("stickiness")))
    assert(out.toSeq == Seq(("2024-01-01", 2L, 2L, 1.5, 0.75),
      ("2024-01-08", 1L, 1L, 1.0, 1.0)), out.toSeq.toString)
  }

  test("bigram LM scores fluent transitions below shuffled ones; short docs get nulls") {
    import spark.implicits._
    // "a b" is the dominant transition (3 of 5 corpus bigrams); doc 2 has
    // the SAME unigrams but the rarer transition "b a" — its contextual
    // surprise must be higher even though a unigram LM scores both
    // documents identically
    val corpus = Seq(
      (0L, "a b a b"),
      (1L, "a b"),
      (2L, "b a"),
      (3L, "solo"),                      // 1 token -> no bigrams -> nulls
      (4L, null.asInstanceOf[String]))   // null text -> nulls
    .toDF("doc_id", "text")
    val out = TextOps.withBigramLogProb(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (Option(r.getAs[java.lang.Long]("n_bigrams")),
          Option(r.getAs[java.lang.Double]("avg_neg_logprob2")))).toMap
    assert(out(3L) == ((None, None)) && out(4L) == ((None, None)))
    assert(out(0L)._1.contains(3L) && out(1L)._1.contains(1L))
    val fluent = out(1L)._2.get
    val shuffled = out(2L)._2.get
    assert(shuffled > fluent,
      s"unseen transition must surprise more: $shuffled vs $fluent")
    // closed form for doc 1's single bigram "a b":
    // c(a b)=3 (2 in doc0 + 1 in doc1), c(a)=4, c(b)=4, N=9 (incl. solo)
    // p = 0.7*(3/4) + 0.3*(4/9)
    val expected = -math.log(0.7 * (3.0 / 4.0) + 0.3 * (4.0 / 9.0))
    assert(math.abs(fluent - expected) < 1e-6, s"$fluent vs $expected")
  }

  test("tf-idf keywords rank distinctive tokens above corpus-wide ones") {
    import spark.implicits._
    // "common" appears in every doc (minimum idf); each doc's marker token
    // appears only there — with equal tf the marker must outrank "common"
    val corpus = Seq(
      (0L, "common zebra zebra common common"),
      (1L, "common yak yak common common"),
      (2L, "common xerus xerus common common")).toDF("doc_id", "text")
    val kw = TextOps.withTfIdfKeywords(corpus, topK = 1).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("token")).toMap
    assert(kw == Map(0L -> "zebra", 1L -> "yak", 2L -> "xerus"),
      s"rare-but-frequent-in-doc tokens must win: $kw")

    // rank ties on the ROUNDED score break by token, and every doc gets
    // exactly topK rows when it has >= topK distinct tokens
    val all = TextOps.withTfIdfKeywords(corpus, topK = 2).collect()
    assert(all.length == 6)
    assert(all.filter(_.getAs[Long]("doc_id") == 0L)
      .map(_.getAs[Int]("keyword_rank")).sorted.toSeq == Seq(1, 2))
  }

  test("token budget keeps whole docs per source; straddling doc drops") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a", "w w w w w"),   // 5 tokens, cum 5  -> keep
      (1L, "b", "one two"),     // 2 tokens, cum 2  -> keep
      (2L, "a", "x x x x x"),   // 5 tokens, cum 10 -> keep
      (3L, "b", "three four"),  // 2 tokens, cum 4  -> keep
      (4L, "a", "y y y y y"))   // 5 tokens, cum 15 straddles 12 -> DROPPED
      .toDF("doc_id", "source", "text")
    // shardBlock=2: docs span 3 shards, exercising the cross-shard offsets
    val kept = TextOps.tokenBudgetFilter(docs, budgetTokens = 12L, shardBlock = 2L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("cum_tokens")).toMap
    assert(kept.keySet == Set(0L, 1L, 2L, 3L),
      s"doc 4 straddles the budget and must drop whole, got ${kept.keySet}")
    assert(kept(2L) == 10L && kept(3L) == 4L,
      "cumulative totals are per-source prefix sums in doc_id order")
  }

  test("chunking: stride windows with overlap, short tail, null text skipped") {
    import spark.implicits._
    // 10 tokens, chunk 4, overlap 1 -> stride 3 -> starts 0,3,6,9:
    // chunks "a b c d" / "d e f g" / "g h i j" / "j" (1-token tail)
    val docs = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x y"),                    // single chunk, shorter than size
      (2L, null.asInstanceOf[String])) // no chunks
      .toDF("doc_id", "text")
    val out = TextOps.chunkDocuments(docs, chunkTokens = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id")) ->
        (r.getAs[Int]("n_chunk_tokens"), r.getAs[String]("chunk_text"))).toMap
    assert(out.keySet == Set((0L, 0), (0L, 1), (0L, 2), (0L, 3), (1L, 0)))
    assert(out((0L, 0)) == ((4, "a b c d")))
    assert(out((0L, 1)) == ((4, "d e f g")), "overlap repeats the boundary token")
    assert(out((0L, 3)) == ((1, "j")), "the short tail chunk is kept")
    assert(out((1L, 0)) == ((2, "x y")))
  }

  test("unigram LM scoring: hand-computed surprise, null text survives") {
    import spark.implicits._
    // corpus occurrences: a=2, b=2, c=1; total N=5
    val docs = Seq(
      (0L, "a a b"),                  // slog = 2*ln2 + ln2; n=3
      (1L, "b c"),                    // slog = ln2 + ln1;   n=2
      (2L, null.asInstanceOf[String])) // must survive with null stats
      .toDF("doc_id", "text")
    val out = TextOps.withUnigramLogProb(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out.size == 3, "every doc survives, incl. null text")
    val ln2 = math.log(2); val ln5 = math.log(5)
    assert(out(0L).getAs[Long]("n_tokens") == 3L)
    assert(math.abs(out(0L).getAs[Double]("avg_neg_logprob") -
      (ln5 - 3 * ln2 / 3)) < 1e-6)
    assert(out(1L).getAs[Long]("n_tokens") == 2L)
    assert(math.abs(out(1L).getAs[Double]("avg_neg_logprob") -
      (ln5 - ln2 / 2)) < 1e-6)
    // the all-common-tokens doc is LESS surprising than the one with a
    // rare token: the score orders docs by corpus-typicality
    assert(out(0L).getAs[Double]("avg_neg_logprob") <
      out(1L).getAs[Double]("avg_neg_logprob"))
    val nul = out(2L)
    assert(nul.isNullAt(nul.fieldIndex("n_tokens")) &&
      nul.isNullAt(nul.fieldIndex("avg_neg_logprob")))
  }

  test("semantic dedup clusters planted twins, keeps the min representative") {
    import spark.implicits._
    // vecs 1/2 identical (cosine 1 -> same list, pair, cluster); vec 3
    // far from both (negated pattern) -> unclustered, kept
    val base = Array.tabulate(64)(i => math.sin(i * 0.7).toFloat)
    val other = base.map(x => -x)
    val emb = Seq((1L, base, 0), (2L, base, 0), (3L, other, 1))
      .toDF("vec_id", "embedding", "label")
    val anchors = Similarity.ivfAnchors(spark)
    val clusters = Similarity.semanticClusters(emb, anchors, minCos = 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters == Map(1L -> 1L, 2L -> 1L),
      s"twins cluster under rep 1, vec 3 stays out: $clusters")
    // dedup keeps each cluster's rep and every vector outside the map
    val kept = Set(1L, 2L, 3L) -- clusters.collect { case (d, r) if d != r => d }
    assert(kept == Set(1L, 3L), s"one twin survives, the loner survives: $kept")
  }

  test("temperature mix flattens a skewed group distribution deterministically") {
    import spark.implicits._
    // groups a:9, b:4, c:1; tau=2 -> strides (9/1)^0.5=3, (4/1)^0.5=2, 1
    // -> keep a ranks {1,4,7}, b ranks {1,3}, c rank {1}
    val docs = ((1L to 9L).map(i => (i, "a")) ++
      (10L to 13L).map(i => (i, "b")) ++ Seq((14L, "c")))
      .toDF("doc_id", "source")
    val kept = TextOps.temperatureMix(docs, "source", tau = 2.0)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 7L, 10L, 12L, 14L),
      s"expected flattened 3/2/1 mix, got $kept")
    // tau = 1 is the natural mix: a no-op
    val all = TextOps.temperatureMix(docs, "source", tau = 1.0).count()
    assert(all == 14, "tau=1 must keep everything")
  }

  test("jaccard verification kills correlated-signature false candidates, keeps true near-dups") {
    import spark.implicits._
    // K-M double hashing lets ONE shared boilerplate shingle dominate every
    // signature component: these four footer-sharing docs collide on all 8
    // bands (verified below) at true J ~ 0.14 — unverified clustering
    // would merge them and delete three real documents
    val footer = "all rights reserved corp"
    val docs = Seq(
      (1L, s"the cat sat on a warm mat and then it slept deeply $footer"),
      (2L, s"the dog ran across a wide field chasing one big red ball $footer"),
      (3L, s"the bird flew over two tall trees toward its very own nest $footer"),
      (4L, footer),
      // 5/6: a TRUE near-dup pair (one token differs) that must survive
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (6L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
      .toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(Dedup.minhashSignatures(docs, 16), 8)
    val candidates = pairs.select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSet
    assert(candidates.contains((1L, 4L)),
      "fixture must reproduce the correlated-signature false candidate")
    val verified = Dedup.jaccardVerifyPairs(docs, pairs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(verified == Set((5L, 6L)),
      s"only the true near-dup pair survives verification: $verified")
    val j = Dedup.jaccardVerifyPairs(docs, pairs)
      .select("jaccard").as[Double].head()
    // docs 5/6: 8 shingles each, 7 shared -> J = 7/9
    assert(math.abs(j - 7.0 / 9.0) < 1e-9, s"exact jaccard: $j")
  }

  test("span dedup: global keep-first, reassembly order, null text, all-dropped doc") {
    import spark.implicits._
    // spans of 4 tokens; doc 10 defines "a b c d" and "e f g h"; doc 20
    // re-uses "a b c d" (dropped) between its own spans; doc 30 is ENTIRELY
    // spans seen earlier (comes back as ''); doc 40 is null text
    val docs = Seq(
      (10L, "a b c d e f g h"),
      (20L, "x y z w a b c d q r s t"),
      (30L, "a b c d e f g h"),
      (40L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextOps.dedupSpans(docs, spanTokens = 4).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("cleaned_text"), r.getAs[Int]("n_spans"),
          r.getAs[Int]("n_kept"))).toMap
    assert(out.size == 4, "row-preserving")
    assert(out(10L) == (("a b c d e f g h", 2, 2)), "first definitions all kept")
    assert(out(20L) == (("x y z w q r s t", 3, 2)),
      "the re-used middle span drops, remaining spans rejoin in order")
    assert(out(30L) == (("", 2, 0)), "an all-duplicate doc comes back empty")
    assert(out(40L)._1 == null && out(40L)._2 == 0 && out(40L)._3 == 0,
      "null text survives as null with 0/0")
  }

  test("span dedup agrees with a brute-force reference on random corpora") {
    import spark.implicits._
    // tiny token alphabet -> frequent genuine span collisions; random null
    // docs; short docs whose single span is shorter than spanTokens
    val rnd = new scala.util.Random(90210)
    val alphabet = Seq("a", "b", "c")
    for (trial <- 1 to 5) {
      val docs: Seq[(Long, String)] = (0L until 30L).map { id =>
        if (rnd.nextInt(10) == 0) (id, null.asInstanceOf[String])
        else (id, Seq.fill(rnd.nextInt(10) + 1)(
          alphabet(rnd.nextInt(alphabet.size))).mkString(" "))
      }
      val k = rnd.nextInt(3) + 2 // spanTokens in 2..4
      // brute-force reference: scan spans in (doc_id, chunk_id) order,
      // first occurrence of each span text wins
      val spans = docs.filter(_._2 != null).flatMap { case (id, text) =>
        text.split(" ").grouped(k).zipWithIndex
          .map { case (g, i) => (id, i, g.mkString(" ")) }
      }.sortBy(s => (s._1, s._2))
      val seen = scala.collection.mutable.Set.empty[String]
      val kept = spans.filter { case (_, _, span) =>
        if (seen(span)) false else { seen += span; true }
      }.groupBy(_._1)
      val want = docs.map { case (id, text) =>
        if (text == null) id -> ((null: String, 0, 0))
        else {
          val all = spans.count(_._1 == id)
          val mine = kept.getOrElse(id, Nil)
          id -> ((mine.sortBy(_._2).map(_._3).mkString(" "), all, mine.size))
        }
      }.toMap
      val got = TextOps.dedupSpans(docs.toDF("doc_id", "text"), spanTokens = k)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[String]("cleaned_text"), r.getAs[Int]("n_spans"),
            r.getAs[Int]("n_kept")))).toMap
      assert(got == want, s"trial $trial (k=$k): $docs")
    }
  }

  test("unigram LM scoring: empty corpus degrades to null stats, no crash") {
    import spark.implicits._
    // Every text NULL -> the corpus token total is NULL, not 0; the stage
    // must degrade to the row-preserving null-stats shape (ADVICE r6: the
    // NPE here crashed CorpusPipeline.curate when upstream filters dropped
    // every document).
    // (an empty string is NOT an empty corpus: split("", " ") = [""], one
    // empty token — only NULL text contributes nothing)
    val allNull = Seq((0L, null.asInstanceOf[String]),
      (1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextOps.withUnigramLogProb(allNull).collect()
    assert(out.length == 2, "rows survive")
    out.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("n_tokens")) &&
        r.isNullAt(r.fieldIndex("avg_neg_logprob")))
    }
    // zero-row input: same schema, zero rows, still no crash
    val empty = TextOps.withUnigramLogProb(
      allNull.where(lit(false)))
    assert(empty.columns.contains("avg_neg_logprob") && empty.count() == 0)
  }

  test("label centroids: elementwise means per label in (label, dim) form") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 2.0f), 0),
      (1L, Array(3.0f, 4.0f), 0),
      (2L, Array(5.0f, 6.0f), 1))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.labelCentroids(emb).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("dim")) ->
        (r.getAs[Long]("n_vectors"), r.getAs[Double]("centroid"))).toMap
    assert(out.size == 4) // 2 labels x 2 dims
    assert(out((0, 0))._1 == 2L && math.abs(out((0, 0))._2 - 2.0) < 1e-6)
    assert(math.abs(out((0, 1))._2 - 3.0) < 1e-6)
    assert(out((1, 0)) == ((1L, 5.0)) && out((1, 1)) == ((1L, 6.0)))
  }

  test("nearest-centroid classification flags vectors nearer a foreign centroid") {
    import spark.implicits._
    // label 0 clusters near (0, 0), label 1 near (10, 10); vec 4 carries
    // label 0 but sits on top of label 1's cluster -> predicted 1, wrong.
    // (vec 4 drags label 0's centroid to (2.67, 2.67) — still nearest for
    // the two true label-0 vectors.)
    val emb = Seq(
      (0L, Array(0.0f, 0.0f), 0),
      (1L, Array(1.0f, 1.0f), 0),
      (2L, Array(10.0f, 10.0f), 1),
      (3L, Array(11.0f, 11.0f), 1),
      (4L, Array(7.0f, 7.0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.nearestCentroid(emb).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Int]("predicted"), r.getAs[Boolean]("correct"))).toMap
    assert(out(0L) == ((0, true)) && out(1L) == ((0, true)))
    assert(out(2L) == ((1, true)) && out(3L) == ((1, true)))
    assert(out(4L) == ((1, false)),
      "the mislabeled vector must be assigned to the nearer foreign centroid")
  }

  test("prefix rerank degenerates to brute force at full prefix + wide shortlist") {
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 1.0f, 1.0f)),
      (1L, Seq(1.0f, 0.0f, -1.0f, -1.0f)),
      (2L, Seq(0.1f, 0.9f, 1.0f, 1.0f)),
      (3L, Seq(-1.0f, 0.5f, 0.2f, 0.0f)),
      (4L, Seq(0.3f, 0.3f, 0.9f, 1.1f)))
      .toDF("vec_id", "embedding")
    val two = Similarity.prefixRerankTopK(emb, pdims = 4, shortlist = 10,
        queryMod = 100, k = 3)
      .select("query_id", "rank", "vec_id", "cosine")
      .collect().map(_.toSeq).toSeq
    val brute = Similarity.bruteForceTopK(emb, queryMod = 100, k = 3)
      .collect().map(_.toSeq).toSeq
    assert(two == brute,
      "pdims = dims and shortlist >= corpus must reproduce brute force exactly")
  }

  test("prefix rerank: a prefix-discordant winner misses a narrow shortlist and a wider one recovers it") {
    import spark.implicits._
    // query 0 = [1,0 | 1,1]; vec 1 agrees on the 2-dim prefix (cos = 1.0)
    // but opposes on the full vector; vec 2's prefix barely correlates but
    // its full cosine is the true best.
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f, 1.0f, 1.0f)),
      (1L, Seq(1.0f, 0.0f, -1.0f, -1.0f)),
      (2L, Seq(0.1f, 0.9f, 1.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    def top1(shortlist: Int): Long =
      Similarity.prefixRerankTopK(emb, pdims = 2, shortlist = shortlist,
        queryMod = 100, k = 1).collect().head.getAs[Long]("vec_id")
    assert(top1(1) == 1L,
      "shortlist 1 keeps only the prefix winner — the documented approximation")
    assert(top1(2) == 2L,
      "widening the shortlist lets the full-dimension rerank surface the true winner")
  }

  test("stratified sample takes min(k, stratum size) per stratum, ranked by hash") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 7L).map(i => (i, "a")) ++ (7L until 10L).map(i => (i, "b"))
    val df = docs.toDF("doc_id", "source")
    val out = TextOps.stratifiedSample(df, "source", k = 5)
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    assert(counts == Map("a" -> 5L, "b" -> 3L))

    // window-rank twin over the same priority hash — same rows, same order
    val expected = df
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("h"), col("doc_id"))).cast("int"))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("doc_id"), col("h").as("smp_hash"))
      .orderBy("source", "rank")
      .collect().map(_.toSeq).toSeq
    assert(out.collect().map(_.toSeq).toSeq == expected,
      "bounded top_k_by sample must equal the window-rank form")

    // deterministic: a second evaluation returns the identical sample
    val again = TextOps.stratifiedSample(df, "source", k = 5)
      .collect().map(_.toSeq).toSeq
    assert(again == expected)
  }

  test("weighted sample equals the window-rank ES twin; zero weights excluded") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = ((0L until 8L).map(i => (i, "a", (i + 1) * 100)) ++
      (8L until 12L).map(i => (i, "b", 50L)) :+ ((12L, "b", 0L)))
      .toDF("doc_id", "source", "n_chars")
    val out = TextOps.weightedSample(docs, "source", "n_chars", k = 5)
    val counts = out.groupBy("source").count().collect()
      .map(r => r.getAs[String]("source") -> r.getAs[Long]("count")).toMap
    // stratum a has 8 positive-weight docs -> 5; b has 4 (+1 zero-weight, excluded)
    assert(counts == Map("a" -> 5L, "b" -> 4L))
    assert(!out.collect().exists(_.getAs[Long]("doc_id") == 12L),
      "zero-weight doc must never be sampled")

    // window-rank twin over the same rounded ES key — same rows, same order
    val expected = docs.filter(col("n_chars") > 0)
      .withColumn("u",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("double") + 1.0) / 4294967296.0)
      .withColumn("es_key",
        graft.ops.Num.cround(log(col("u")) / col("n_chars").cast("double"), 6))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source").orderBy(col("es_key").desc, col("doc_id")))
        .cast("int"))
      .filter(col("rank") <= 5)
      .select("source", "rank", "doc_id", "es_key")
      .orderBy("source", "rank")
      .collect().map(_.toSeq).toSeq
    assert(out.collect().map(_.toSeq).toSeq == expected,
      "bounded top_k_by weighted sample must equal the window-rank form")
  }

  test("packing waste bins are exact powers of two with hand-checked waste") {
    import spark.implicits._
    // token counts 1, 2, 3, 5, 9 -> buckets 1, 2, 4, 8, 16
    val df = Seq(
      (0L, "a"),
      (1L, "a b"),
      (2L, "a b c"),
      (3L, "a b c d e"),
      (4L, "a b c d e f g h i"),
      (5L, "x y z"), // second 3-token doc shares bucket 4
      (6L, null.asInstanceOf[String])) // null text is excluded, not crashed
      .toDF("doc_id", "text")
    val out = TextOps.packingWasteStats(df)
      .select("bin_len", "n_docs", "sum_tokens", "waste")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(out == Seq(
      (1L, 1L, 1L, 0L),   // 1 token in a 1-bucket: no waste
      (2L, 1L, 2L, 0L),   // exact power of two: no waste
      (4L, 2L, 6L, 2L),   // two 3-token docs padded to 4: 2 pad tokens
      (8L, 1L, 5L, 3L),
      (16L, 1L, 9L, 7L)))
    val fracs = TextOps.packingWasteStats(df).collect()
      .map(r => r.getAs[Long]("bin_len") -> r.getAs[Double]("waste_frac")).toMap
    assert(math.abs(fracs(4L) - 0.25) < 1e-6 && fracs(1L) == 0.0)
  }

  test("unicode normalization folds case and accents, collapses whitespace") {
    val df = Seq(
      (0L, "Cr\u00e8me BR\u00dbL\u00c9E\t D\u00e9j\u00e0\n\nvu  "),
      (1L, "plain ascii stays put"),
      (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TextOps.normalizeDocuments(df).orderBy("doc_id")
      .select("norm_text", "raw_len", "norm_len").collect()
    assert(out(0).getString(0) == "creme brulee deja vu")
    assert(out(1).getString(0) == "plain ascii stays put")
    assert(out(2).isNullAt(0) && out(2).isNullAt(1) && out(2).isNullAt(2))
    assert(out(0).getAs[Int]("norm_len") == "creme brulee deja vu".length)
    // the static fold alone (no whitespace collapse) keeps runs intact
    assert(graft.functions.FoldText.fold("\u00c9COLE  Fa\u00e7ade") ==
      "ecole  facade")
  }

  test("PQ: centroid-built vectors encode to those centroids; ADC ranks the twin first at ~0") {
    // 16-dim space, 2 subspaces of 8: vectors 0 and 100 are built EXACTLY
    // from codebook centroids (s0,c3)++(s1,c7); vector 5 from (s0,c1)++(s1,c2)
    val cb = Similarity.pqCodebook(spark, nSub = 2)
    val w = cb.collect().map(r => ((r.getAs[Long]("s"), r.getAs[Long]("c"),
      r.getAs[Long]("d")), r.getAs[Double]("w"))).toMap
    def centroid(s: Long, c: Long): Seq[Float] =
      (1L to 8L).map(d => w((s, c, d)).toFloat)
    val emb = Seq(
      (0L, (centroid(0, 3) ++ centroid(1, 7)).toArray),
      (5L, (centroid(0, 1) ++ centroid(1, 2)).toArray),
      (100L, (centroid(0, 3) ++ centroid(1, 7)).toArray))
      .toDF("vec_id", "embedding")

    val codes = Similarity.pqEncode(emb, cb).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("s")) ->
        r.getAs[Long]("code")).toMap
    assert(codes((0L, 0L)) == 3L && codes((0L, 1L)) == 7L)
    assert(codes((100L, 0L)) == 3L && codes((100L, 1L)) == 7L)
    assert(codes((5L, 0L)) == 1L && codes((5L, 1L)) == 2L)

    // queries are ids 0 and 100; each ranks its twin first at ADC ~0
    val top = Similarity.pqTopK(emb, cb, queryMod = 100, k = 2)
      .orderBy("query_id", "rank").collect()
    val first = top.filter(_.getAs[Int]("rank") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("vec_id")).toMap
    assert(first == Map(0L -> 100L, 100L -> 0L))
    assert(top.filter(_.getAs[Int]("rank") == 1)
      .forall(r => math.abs(r.getAs[Double]("adc_dist2")) < 1e-9))
  }

  test("IVF-PQ: winners come only from probed lists; ADC agrees with a driver-side recomputation") {
    val emb = graft.io.Sources.embeddings(spark, "/root/testdata/sf0.001")
      .localCheckpoint(true)
    val anchors = Similarity.ivfAnchors(spark)
    val cbDf = Similarity.pqCodebook(spark)
    val out = Similarity.ivfPqTopK(emb, anchors, cbDf).collect()
    assert(out.nonEmpty)

    // driver-side ground recomputation from raw parts
    val vecs = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getAs[Seq[Float]]("embedding").map(_.toDouble).toArray).toMap
    val aw = anchors.collect().map(r => ((r.getAs[Long]("c"),
      r.getAs[Long]("d")), r.getAs[Double]("w"))).toMap
    val cw = cbDf.collect().map(r => ((r.getAs[Long]("s"), r.getAs[Long]("c"),
      r.getAs[Long]("d")), r.getAs[Double]("w"))).toMap
    val codes = Similarity.pqEncode(emb, cbDf).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("s")) ->
        r.getAs[Long]("code")).toMap

    def anchorScore(v: Array[Double], c: Long): Double = {
      val dot = (1 to 64).map(d => v(d - 1) * aw((c, d.toLong))).sum
      val nrm = math.sqrt((1 to 64).map(d =>
        aw((c, d.toLong)) * aw((c, d.toLong))).sum)
      dot / nrm
    }
    def rankedLists(v: Array[Double]): Seq[Long] =
      (0L until 16L).sortBy(c => (-anchorScore(v, c), c))
    def qd(q: Array[Double], s: Long, c: Long): Double =
      (1 to 8).map(d =>
        math.pow(q((s * 8 + d - 1).toInt) - cw((s, c, d.toLong)), 2)).sum

    out.foreach { r =>
      val (q, vid) = (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))
      // list constraint: the winner's list is one of the query's 2 probes
      val probed = rankedLists(vecs(q)).take(2).toSet
      assert(probed.contains(r.getAs[Long]("list_id")),
        s"query $q returned vec $vid from unprobed list ${r.getAs[Long]("list_id")}")
      assert(rankedLists(vecs(vid)).head == r.getAs[Long]("list_id"),
        "reported list must be the winner's own assignment")
      // ADC agreement with the independent recomputation
      val expected = (0L until 8L).map(s => qd(vecs(q), s, codes((vid, s)))).sum
      assert(math.abs(expected - r.getAs[Double]("adc_dist2")) < 1e-5,
        s"ADC mismatch for ($q, $vid)")
    }
  }

  test("hard negatives exclude same-label vectors, rank by cosine") {
    // anchor = vec 0 (id % 100 == 0), label 0, pointing along +x.
    // vec 1 is the NEAREST overall (cos = 1) but shares the label — it
    // must never appear; the mined negatives are the best different-label
    // vectors in cosine order.
    val emb = Seq(
      (0L, Array(1f, 0f), 0),
      (1L, Array(2f, 0f), 0),   // same label, cos 1.0 — excluded
      (2L, Array(3f, 1f), 1),   // cos 0.9487 — rank 1
      (3L, Array(1f, 1f), 2),   // cos 0.7071 — rank 2
      (4L, Array(1f, 2f), 1))   // cos 0.4472 — beyond k=2
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(emb, queryMod = 100, k = 2)
      .orderBy("anchor_id", "rank").collect()
    assert(out.map(_.getAs[Long]("neg_id")).toSeq == Seq(2L, 3L))
    assert(out.map(_.getAs[Int]("neg_label")).toSeq == Seq(1, 2))
    assert(out.forall(_.getAs[Int]("anchor_label") == 0))
    assert(out.forall(_.getAs[Long]("neg_id") != 1L))
    val cosines = out.map(_.getAs[Double]("cosine"))
    assert(math.abs(cosines(0) - 0.948683) < 1e-5)
    assert(math.abs(cosines(1) - 0.707107) < 1e-5)
  }

  test("MMR diversifies: rank 1 is pure relevance, intra-set redundancy drops below plain top-k") {
    // On the planted corpus a query's top-5 is usually 5 vectors from its
    // own cluster (cosine ~0.9 to each other) — maximal redundancy. MMR's
    // 0.3 * maxsim penalty must (a) keep step 1 identical to the
    // brute-force winner (no penalty applies yet) and (b) produce selected
    // sets with strictly lower mean pairwise cosine than plain top-5.
    val emb = plantedEmbeddings().localCheckpoint(true)
    graft.functions.GraftFunctions.register(spark)
    val mmr = Similarity.mmrTopK(emb).localCheckpoint(true)
    val bf = Similarity.bruteForceTopK(emb, 100, 5).localCheckpoint(true)
    val r1 = mmr.filter(col("rank") === 1).select("query_id", "vec_id")
    val b1 = bf.filter(col("rank") === 1).select("query_id", "vec_id")
    assert(r1.exceptAll(b1).count() == 0 && b1.exceptAll(r1).count() == 0,
      "MMR step 1 must equal the brute-force rank-1 winner")

    def redundancy(sel: org.apache.spark.sql.DataFrame): Double = {
      val withE = sel.join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      withE.select(col("query_id"), col("vec_id").as("va"),
          col("embedding").as("ea"))
        .join(withE.select(col("query_id"), col("vec_id").as("vb"),
          col("embedding").as("eb")), Seq("query_id"))
        .filter(col("va") < col("vb"))
        .select(expr("cosine_similarity(cast(ea as array<double>), " +
          "cast(eb as array<double>))").as("s"))
        .agg(avg("s")).first().getDouble(0)
    }
    val redMmr = redundancy(mmr.select("query_id", "vec_id"))
    val redBf = redundancy(bf.select("query_id", "vec_id"))
    assert(redMmr < redBf,
      f"MMR intra-set redundancy $redMmr%.3f not below plain top-k $redBf%.3f")
  }

  test("graph ANN: dual-seeded NN-descent beats its LSH seed; IVF comparison at equal budget") {
    // The navigable-graph tier (sim23) on the planted fixture: the gate is
    // (a) the descent-built graph must RECALL MORE than the single-table
    // LSH tier that seeds it (single-partitioning seeds pin recall at the
    // seed's quality — the defect the dual seeding fixes), and (b) the
    // equal-candidate-budget comparison vs IVF nprobe=2 (~corpus/8
    // candidates vs beam*m*hops = 240) is printed and floor-gated.
    val emb = plantedEmbeddings().localCheckpoint(true)
    val truth = Similarity.bruteForceTopK(emb).localCheckpoint(true)
    val rGraph = measuredRecall(truth,
      Similarity.graphAnnTopK(emb, Similarity.planes(spark)))
    val rLsh = measuredRecall(truth,
      Similarity.lshTopK(emb, Similarity.planes(spark), k = 5))
    val rIvf = measuredRecall(truth,
      Similarity.ivfTopK(emb, Similarity.ivfAnchors(spark), k = 5))
    info(f"planted recall@5: graph=$rGraph%.3f lsh-seed=$rLsh%.3f ivf(nprobe=2)=$rIvf%.3f")
    assert(rGraph > rLsh,
      f"graph ANN ($rGraph%.3f) must beat its LSH seed ($rLsh%.3f)")
    assert(rGraph >= 0.5,
      f"graph ANN recall floor on the planted fixture: $rGraph%.3f")
  }

  test("MMR k=1 returns exactly the relevance winner; k=0 rejected") {
    // sequence(2, 1) is DESCENDING in Spark — an unguarded k=1 would run
    // two bogus greedy steps (round-12 ADVICE); the guard must return one
    // row per query, identical to brute-force rank 1.
    val emb = plantedEmbeddings().localCheckpoint(true)
    val m1 = Similarity.mmrTopK(emb, k = 1).localCheckpoint(true)
    val perQuery = m1.groupBy("query_id").count()
      .agg(min("count"), max("count")).head
    assert(perQuery.getLong(0) == 1L && perQuery.getLong(1) == 1L,
      "k=1 must select exactly one vector per query")
    val b1 = Similarity.bruteForceTopK(emb, 100, 5)
      .filter(col("rank") === 1).select("query_id", "vec_id")
    val s1 = m1.select("query_id", "vec_id")
    assert(s1.exceptAll(b1).count() == 0 && b1.exceptAll(s1).count() == 0,
      "k=1 selection must equal the brute-force rank-1 winner")
    assertThrows[IllegalArgumentException](Similarity.mmrTopK(emb, k = 0))
  }
}
