package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-measured scaling probe (round-7 verdict item #1): convert the
  * "these plans hold at 100×" claim from plan-shape argument into executed
  * evidence.
  *
  * Step 1 — synthesize an sf1.0-equivalent corpus (~6 M lineitem rows) by
  * replicating the driver's sf0.1 parquet `FACTOR`× with per-replica key
  * offsets, the same way dbgen scales TPC-H: 10× the entities (symbols,
  * orders, docs, vectors, users), constant rows-per-entity. Replicas must be
  * genuinely DISTINCT data, not copies — copies would (a) collapse under the
  * keep-last dedup instead of scaling it and (b) make every row a
  * cross-replica near-duplicate, quadratically inflating the LSH/similarity
  * candidate sets in a way no real corpus does. So:
  *   - every key column gets `rep * (max_key + 1)` added;
  *   - document tokens get a per-replica suffix (token counts, shingle
  *     structure, source mix and WITHIN-replica duplicate rate are
  *     preserved; ACROSS replicas nothing collides);
  *   - embeddings get deterministic per-replica sign flips on ~3/7 of their
  *     coordinates (norms exactly preserved, cross-replica cosine pushed to
  *     ~0.14, far below every near-dup threshold);
  *   - nation/region stay fixed (TPC-H dimension semantics).
  *
  * Step 2 — time the 10 most expensive registered queries (per the round-6
  * bench) at sf0.1 and at the synthesized sf1.0, interleaved Bench-style
  * passes with per-query medians, and report the per-query scaling exponent
  *   alpha = ln(t_sf1 / t_sf0.1) / ln(FACTOR)
  * (1.0 = linear, 2.0 = quadratic). Host timing noise is ±36% per query
  * (COVERAGE.md round 6), i.e. ±0.13 in alpha — plenty to tell linear from
  * quadratic. Fixed per-job overhead (~0.3 s) deflates alpha slightly for
  * sub-second queries; the raw times are printed so that bias is visible.
  *
  * Usage: runMain graft.ScalingProbe [sf0.1-dir] [sf1.0-out-dir]
  * Generation is skipped when the output dir already holds a _SUCCESS-ful
  * lineitem table.
  */
object ScalingProbe {

  val FACTOR = 10

  /** The 10 most expensive queries of round 6 (VERDICT.md plan-audit table),
    * i.e. where a hidden super-linearity would hurt most. */
  val probeNames: Seq[String] = Seq(
    "a13_corr", "a11_quality_report", "pipeline_features", "a5_quantiles",
    "d4_ngram_jaccard", "d2_minhash_lsh", "d6_dup_clusters", "j5_asof_join",
    "t12_tfidf", "w6_signals")

  /** Quadratic-by-declared-design queries (sampled oracle baselines, not the
    * scale path) — annotated, not failed, when super-linear. d4/d5 are the
    * documented quadratic sample paths (LSH is the scale path); sim1 is the
    * brute-force ANN truth baseline (LSH/IVF are the scale path); sim5's
    * stage 1 is a corpus x queries scan like sim1 (a 4x constant-factor
    * accelerator of it, ~2x wall at sf1.0) and the probe's queryMod grows
    * the query set WITH the corpus, so under this probe it inherits sim1's
    * regime — with a production-shaped FIXED query set it is linear in the
    * corpus. */
  val quadraticByDesign: Set[String] =
    Set("d4_ngram_jaccard", "d5_embedding_neardup", "sim1_cosine_topk",
      "sim5_prefix_rerank",
      // anchors scale with the corpus under the probe's queryMod sampling;
      // production shape is a fixed anchor batch — linear in the corpus
      "e3_hard_negatives",
      // PQ ADC is corpus x queries lookups by construction (8 adds/pair);
      // fixed query batch -> linear in the corpus
      "sim7_pq_topk",
      // sim8's IVF routing divides the ADC work by ~nLists/nprobe but the
      // corpus-growing queryMod still multiplies it by the corpus — same
      // corpus x queries regime as sim7 at an 8x smaller constant. Its
      // measured alpha sits at the linear floor today only because that
      // constant keeps it overhead-dominated; at deeper decades it would
      // leave the floor for the same declared-by-design reason as sim7.
      "sim8_ivfpq",
      // sim20 embeds sim1 as its recall truth, so it inherits sim1's
      // corpus x queries regime under the probe's queryMod sampling; the
      // FIXED-query-set production shape is registered as
      // sim22_recall_batch (linear in the corpus — probe that instead)
      "sim20_recall")

  // ===== generation ========================================================

  private def replicate(df: DataFrame): DataFrame =
    df.crossJoin(broadcast(
      org.apache.spark.sql.SparkSession.active.range(FACTOR)
        .withColumnRenamed("id", "rep")))

  /** `col + rep * (max(col)+1)`, so replica key spaces never collide.
    * The max is cast to long so int-typed keys work, and an empty table
    * (null max) degenerates to step 1 instead of an NPE. */
  private def offset(df: DataFrame, keys: String*): DataFrame = {
    val steps: Map[String, Long] = keys.map { k =>
      val m = df.agg(max(col(k)).cast("long")).first()
      k -> (Option(m.get(0)).fold(0L)(_.asInstanceOf[Long]) + 1L)
    }.toMap
    val rep = replicate(df)
    keys.foldLeft(rep)((d, k) =>
      d.withColumn(k, col(k) + col("rep") * lit(steps(k))))
  }

  def generate(spark: SparkSession, src: String, out: String): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // 32 output files per table: a replicate of a single-file input would
    // otherwise write ONE parquet file with ONE row group — unsplittable,
    // so every shuffle-free scan probes at 1/32 of the machine (measured:
    // t33 at sf10 ran one core, load avg 1.0, 617 s for ~20 s of work).
    // Row order changes under the repartition; every registered query has
    // a total ORDER BY, so results are unaffected.
    def write(df: DataFrame, t: String): Unit = {
      df.drop("rep").repartition(32).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      System.err.println(s"[probe] wrote $t")
    }

    write(offset(read("lineitem"), "l_orderkey", "l_partkey", "l_suppkey"),
      "lineitem")
    write(offset(read("orders"), "o_orderkey", "o_custkey"), "orders")
    write(offset(read("customer"), "c_custkey"), "customer")
    write(offset(read("supplier"), "s_suppkey"), "supplier")
    write(offset(read("part"), "p_partkey"), "part")
    // fixed-size dimensions: copy once, no replication
    write(read("nation"), "nation")
    write(read("region"), "region")

    // documents: distinct token space per replica (suffix every token with
    // '§'+replica id; replica 0 keeps the original text byte-for-byte).
    // The '§' separator cannot appear in corpus tokens, so a token that
    // already ends in digits ("w1" in replica 0) can never equal another
    // token's suffixed form ("w"+"1" in replica 1).
    // NULL text stays NULL — concat_ws would quietly turn it into "".
    write(offset(read("documents"), "doc_id")
      .withColumn("text", when(col("text").isNull || col("rep") === 0,
          col("text"))
        .otherwise(concat_ws(" ",
          expr("transform(split(text, ' '), t -> concat(t, '§', rep))"))))
      .withColumn("n_chars", when(col("text").isNull, col("n_chars"))
        .otherwise(length(col("text")))),
      "documents")

    // embeddings: norm-preserving deterministic sign flips decorrelate the
    // replicas (pmod(..., 7) < 3 flips ~3/7 of coordinates -> expected
    // cross-replica cosine ~ 1 - 2*(3/7) ~ 0.14).
    write(offset(read("embeddings"), "vec_id")
      .withColumn("embedding", expr(
        """CASE WHEN rep = 0 THEN embedding
          |ELSE transform(embedding, (x, j) ->
          |  CASE WHEN pmod((j + 1) * 2654435761 + rep * 97, 7) < 3
          |       THEN -x ELSE x END)
          |END""".stripMargin).cast("array<float>")),
      "embeddings")

    // events: normalize ts to a real TIMESTAMP before writing. The driver
    // corpus stores TIMESTAMP_NS, which this session's nanosAsLong config
    // reads as BIGINT — written back as BIGINT the DuckDB-side oracles
    // (epoch_us/date_trunc over ts) stop binding on the synthesized
    // corpus. Sources.events accepts either representation, so the engine
    // is indifferent; micros precision is what the engine normalizes to
    // anyway. Chained generation (sf10 from sf1.0) reads the already-
    // converted TIMESTAMP and passes through.
    val ev = graft.io.Sources.normalizeEventTs(read("events"))
    write(offset(ev, "event_id", "user_id"), "events")
  }

  // ===== probing ===========================================================

  def main(args: Array[String]): Unit = {
    // Decade selection: default probes sf0.1 -> sf1.0; SPARK_GRAFT_PROBE_LO /
    // _HI select another pair, e.g. LO=target/scaledata/sf1.0,
    // HI=target/scaledata/sf10 for the second decade. Synthesized corpora
    // chain: sf1.0 is generated from the driver's sf0.1, sf10 from sf1.0.
    // normalize trailing slashes so every spelling of a chain path matches
    def norm(p: String): String = p.replaceAll("/+$", "")
    val base = norm(args.lift(0).getOrElse("/root/testdata/sf0.1"))
    val src = norm(sys.env.getOrElse("SPARK_GRAFT_PROBE_LO", base))
    val out = norm(sys.env.getOrElse("SPARK_GRAFT_PROBE_HI",
      args.lift(1).getOrElse("target/scaledata/sf1.0")))
    // each synthesized dir's generation source (10x per step)
    val chain: Map[String, String] = Map(
      "target/scaledata/sf1.0" -> base,
      "target/scaledata/sf10" -> "target/scaledata/sf1.0")
    val iters = sys.env.getOrElse("SPARK_GRAFT_PROBE_ITERS", "3").toInt
    val spark = SparkEntry.localSession()

    // a corpus is present if lineitem.parquet is either a single parquet
    // FILE (the driver's testdata layout) or a Spark-written DIRECTORY with
    // a _SUCCESS marker (this probe's synthesized corpora)
    def present(dir: String): Boolean = {
      val li = new java.io.File(s"$dir/lineitem.parquet")
      li.isFile || new java.io.File(li, "_SUCCESS").exists()
    }
    def ensure(dir: String, generateFrom: Option[String]): Unit =
      if (present(dir)) System.err.println(s"[probe] reusing $dir")
      else chain.get(dir).orElse(generateFrom) match {
        case Some(from) =>
          ensure(from, None)
          System.err.println(s"[probe] generating 10x of $from at $dir")
          generate(spark, from, dir)
        case None => sys.error(
          s"[probe] $dir does not exist (no $dir/lineitem.parquet/_SUCCESS) " +
            "and is not a synthesized chain dir — generate it first or point " +
            "SPARK_GRAFT_PROBE_LO/_HI at an existing corpus")
      }
    ensure(src, None)            // the lo corpus must exist or be chainable
    ensure(out, Some(src))       // a caller-supplied hi dir generates from lo

    // corpus-preparation mode for downstream tools (graft.Verify at a
    // synthesized scale): ensure the chain exists, skip the timing passes
    if (sys.env.get("SPARK_GRAFT_PROBE_GEN_ONLY").contains("1")) {
      System.err.println(s"[probe] gen-only: $src and $out ready, exiting")
      spark.stop(); return
    }

    // focused re-adjudication of one noisy query: SPARK_GRAFT_PROBE_QUERIES
    // (comma-separated names) overrides the default top-10 list
    val names = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .fold(probeNames)(SparkEntry.select(_).map(_._1))
    // Probe-only variants for queries whose REGISTERED form derives its
    // workload from the corpus in a way that confounds the scaling read.
    // c2's registered benchmark slice (vec_id % 37 == 0) grows 10x with the
    // corpus, so the registered query measures corpus x benchmark — a
    // fixture artifact, not the production shape (a benchmark suite is
    // fixed while the training corpus grows). Replica 0 of every
    // synthesized corpus preserves the base corpus's vec_ids verbatim, so
    // pinning the eval set to base-corpus ids (vec_id <= base max) holds it
    // CONSTANT at every probed scale while the corpus side still scales.
    val baseMaxVec: Long = spark.read.parquet(s"$base/embeddings.parquet")
      .agg(max("vec_id")).first().getLong(0)
    val probeOverrides: Map[String, (SparkSession, String) => DataFrame] = Map(
      "c2_embed_decontam" -> { (s: SparkSession, dir: String) =>
        val emb = graft.io.Sources.embeddings(s, dir)
        ext.Similarity.embeddingContamination(
          corpus = emb.filter(col("vec_id") % 37 =!= 0),
          benchmark = emb.filter(col("vec_id") % 37 === 0 &&
            col("vec_id") <= baseMaxVec),
          threshold = 0.3)
          .orderBy("vec_id")
      },
      // a14's REGISTERED form runs the sketch next to an exact
      // COUNT(DISTINCT) as its own accuracy report — the exact side's
      // Expand dominates and measures ~linear. The sketch ALONE is the
      // production scale path; probe it without the baseline rider.
      "a14_kmv_distinct" -> { (s: SparkSession, dir: String) =>
        graft.functions.GraftFunctions.register(s)
        graft.io.Sources.lineitem(s, dir)
          .select(col("l_returnflag").as("flag"),
            conv(substring(md5(col("l_partkey").cast("string")), 1, 8), 16, 10)
              .cast("long").as("h"))
          .groupBy("flag")
          .agg(expr("kmv_sketch(h, 64)").as("sk"))
          .select(col("flag"), col("sk.n_kept"), col("sk.kth"))
          .orderBy("flag")
      })
    val queries = names.map(n =>
      n -> probeOverrides.getOrElse(n, SparkEntry.queries(n)))
    def run(fn: (SparkSession, String) => DataFrame, dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    run(queries.head._2, src) // warmup

    // interleaved passes over (query x scale), Bench methodology
    val samples =
      scala.collection.mutable.Map.empty[(String, String), List[Double]]
        .withDefaultValue(Nil)
    for (pass <- 1 to iters; (name, fn) <- queries; dir <- Seq(src, out)) {
      val t = run(fn, dir)
      samples((name, dir)) ::= t
      System.err.println(f"[probe] pass=$pass ${dir.split('/').last}%-7s $name%-22s $t%.2f s")
    }
    def med(xs: List[Double]): Double = { val s = xs.sorted; s(s.size / 2) }

    println(s"| query | ${src.split('/').last} s | ${out.split('/').last} s | ratio | alpha |")
    println(f"|---|---|---|---|---|")
    val rows = queries.map { case (name, _) =>
      val t0 = med(samples((name, src)))
      val t1 = med(samples((name, out)))
      val alpha = math.log(t1 / t0) / math.log(FACTOR.toDouble)
      val note = if (quadraticByDesign(name)) " (quadratic-by-design)" else ""
      println(f"| $name | $t0%.2f | $t1%.2f | ${t1 / t0}%.1fx | $alpha%.2f$note |")
      (name, t0, t1, alpha)
    }
    val worst = rows.filterNot(r => quadraticByDesign(r._1)).maxBy(_._4)
    println(f"worst scale-path alpha: ${worst._1} ${worst._4}%.2f")
  }
}
