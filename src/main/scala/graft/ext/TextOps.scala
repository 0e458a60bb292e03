package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions
import graft.ops.Materialize.MaterializeOps

/** Text-analysis operators for a training-data pipeline over the `documents`
  * table: tokenization, shingling, language ID, quality scoring, token
  * counting, fingerprinting.
  *
  * Everything is built from codegen'd builtins and higher-order array
  * functions (transform/filter/aggregate) — no UDFs — so the whole stage
  * stays inside whole-stage codegen and scales linearly with document count;
  * there is no shuffle at all until an operator aggregates.
  */
object TextOps {

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace-run word count of `text`; trimmed, so leading and trailing
    * blanks add no word. */
  def wordCount(text: Column): Column = size(split(trim(text), "\\s+"))

  /** Adjacent token pairs ("a b") of a token array, in order: empty below
    * 2 tokens, NULL for a NULL array. zip_with over two offset slices — a
    * higher-order projection, no self-join on position, no UDF. */
  def pairs(toks: Column): Column =
    zip_with(slice(toks, lit(1), size(toks) - 1), slice(toks, lit(2), size(toks) - 1),
      (a, b) => concat(a, lit(" "), b))

  /** Per-(doc_id, term) frequencies `(doc_id, <term>, tf)` of the `terms`
    * array column (the whitespace tokens by default): one explode and one
    * map-side-combining aggregate. Callers that read it twice materialize
    * it themselves. */
  def termFrequencies(docs: DataFrame, terms: Column = tokens(col("text")),
                      term: String = "token"): DataFrame =
    docs.select(col("doc_id"), explode(terms).as(term))
      .groupBy("doc_id", term).agg(count(lit(1)).as("tf"))

  /** Corpus token counts `(token, n)`: occurrences of each whitespace
    * token over all documents. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))

  /** Word trigram shingles from a `toks` array column; empty below 3 tokens.
    * Higher-order transform — no explode, no UDF. */
  val shingleSql: String =
    "CASE WHEN size(toks) >= 3 THEN " +
      "transform(sequence(0, size(toks) - 3), i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])) " +
      "ELSE CAST(array() AS ARRAY<STRING>) END"

  /** doc_id, text, toks, shingles. */
  def withShingles(docs: DataFrame): DataFrame =
    docs.withColumn("toks", tokens(col("text")))
      .withColumn("shingles", expr(shingleSql))

  /** Language-ID by stopword hits (n-gram-free heuristic): count tokens in
    * each language's small stopword list, argmax with deterministic priority
    * en > de > es > fr, 'und' (undetermined) when all scores are 0. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "es" -> Seq("el", "la", "que", "y", "en", "los"),
    "fr" -> Seq("le", "les", "des", "et", "une", "dans"))

  private val langs = Seq("en", "de", "es", "fr")

  /** Stopword hits of `lang` in the `toks` column. */
  private def score(lang: String): Column = {
    val list = stopwords(lang).map(w => s"'$w'").mkString(", ")
    expr(s"size(filter(toks, t -> t IN ($list)))")
  }

  /** The language whose column `scoreCol(lang)` is highest, ties by
    * priority en > de > es > fr, 'und' when every score is 0. */
  private def argmaxLang(scoreCol: String => Column): Column = {
    val Seq(en, de, es, fr) = langs.map(scoreCol)
    when(en >= de && en >= es && en >= fr && en > 0, "en")
      .when(de >= es && de >= fr && de > 0, "de")
      .when(es >= fr && es > 0, "es")
      .when(fr > 0, "fr")
      .otherwise("und")
  }

  /** Adds score_<lang> columns and detected_lang. */
  def withLangId(docs: DataFrame): DataFrame =
    langs.foldLeft(docs.withColumn("toks", tokens(col("text")))) {
      (d, l) => d.withColumn(s"score_$l", score(l))
    }.withColumn("detected_lang", argmaxLang(l => col(s"score_$l")))

  /** Character-n-gram language-ID profiles: a few distinctive trigrams per
    * language. Scores count MATCHED CHARACTERS via non-overlapping regexp
    * elimination (length minus length-after-removal) — left-to-right
    * non-overlap is identical in every regex engine, which keeps the DuckDB
    * oracle bit-exact, unlike substring-position counting. */
  val ngramProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "ing", "and"),
    "de" -> Seq("sch", "der", "ung"),
    "es" -> Seq("que", "los", "nes"),
    "fr" -> Seq("les", "ent", "une"))

  private def ngramScore(lang: String): Column =
    ngramProfiles(lang)
      .map(t => length(col("text")) - length(regexp_replace(col("text"), t, "")))
      .reduce(_ + _).cast("long")

  /** The n-gram twin of withLangId: adds ngram_score_<lang> columns and
    * detected_lang_ngram with the same deterministic argmax priority
    * (en > de > es > fr) and 'und' when nothing matches. Pure codegen'd
    * string expressions — a linear scan per document, no explode. */
  def withLangIdNgram(docs: DataFrame): DataFrame =
    langs.foldLeft(docs) {
      (d, l) => d.withColumn(s"ngram_score_$l", ngramScore(l))
    }.withColumn("detected_lang_ngram",
      argmaxLang(l => col(s"ngram_score_$l")))

  /** Heuristic quality score: length, punctuation ratio, stopword ratio —
    * the filters a pre-training corpus pipeline applies before dedup. */
  def withQualityScore(docs: DataFrame): DataFrame =
    docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("text_len", length(col("text")))
      // nullif: an empty document must yield null, not 0/0 = NaN (NaN would
      // poison quality_score and break oracle hash parity)
      .withColumn("punct_ratio",
        length(regexp_replace(col("text"), "[a-z0-9 ]", "")).cast("double") /
          expr("nullif(text_len, 0)"))
      .withColumn("stopword_ratio",
        score("en").cast("double") / col("n_tokens"))
      .withColumn("quality_score",
        lit(0.4) * least(col("n_tokens").cast("double") / 100, lit(1.0)) +
          lit(0.3) * (lit(1.0) - col("punct_ratio")) +
          lit(0.3) * least(col("stopword_ratio") * 5, lit(1.0)))

  /** Token counting: whitespace tokens, a regex word count, and a BPE-ish
    * chars/4 estimate (the standard quick subword-count heuristic). */
  def withTokenCounts(docs: DataFrame): DataFrame =
    docs
      .withColumn("ws_tokens", wordCount(col("text")))
      .withColumn("word_tokens", regexp_count(col("text"), lit("[a-z]+")))
      .withColumn("bpe_estimate", ceil(length(col("text")) / 4.0).cast("long"))

  /** Default redaction patterns: emails, URLs, and phone-like digit runs —
    * the scrub a corpus pipeline applies before anything persists. Order
    * matters: URLs before phone numbers, or a URL's digits redact first
    * and break the containing match. */
  val defaultRedactions: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "https?://[^\\s]+" -> "<URL>",
    "\\+?\\d[\\d\\s().-]{7,}\\d" -> "<PHONE>")

  /** Redact sensitive spans in `text`, replacing each match with its tag.
    * Sequential regexp_replace chain — codegen'd, one linear scan per
    * pattern, no UDF. Patterns apply in order over the already-redacted
    * text. For the audited, oracle-checked PII pass (per-class counts +
    * Java/RE2-common patterns) see [[Pii.redactPii]]. */
  def redact(docs: DataFrame,
             patterns: Seq[(String, String)] = defaultRedactions): DataFrame =
    docs.withColumn("text",
      patterns.foldLeft(col("text")) { case (c, (pat, tag)) =>
        regexp_replace(c, pat, tag)
      })

  /** Distributed per-source prefix sum of `valueCol` in doc_id order,
    * written into `outCol`, via a sharded two-phase plan:
    *
    *   1. shard = doc_id div shardBlock — a DETERMINISTIC, monotone,
    *      contiguous bucketing (doc_id is a dense BIGINT), so the global
    *      per-source order is exactly (shard asc, doc_id asc) and the
    *      result is invariant to where shard boundaries fall;
    *   2. local inclusive cumsum per (source, shard) — parallel across
    *      ~numDocs/shardBlock shards, never one task per source;
    *   3. per-(source, shard) totals → exclusive running offsets (a window
    *      over the TINY totals table: numDocs/shardBlock rows, not rows) →
    *      joined back on (source, shard) and added to the local cumsum.
    *
    * This replaces `Window.partitionBy("source")`, which at 100 TB with a
    * handful of sources sorts and scans an entire source in ONE task. All
    * arithmetic is exact longs, so the two-phase result is bit-identical to
    * the single-window form. The two branches (local cumsum + shard
    * totals) each evaluate the input lineage — callers composing prefix
    * sums or feeding an expensive upstream should checkpoint the input
    * first (CorpusPipeline.curate does), or accept one extra column-pruned
    * scan; either beats shuffling payload rows into one task per source. */
  private[ext] def shardedPrefixSum(docs: DataFrame, valueCol: String,
                                    outCol: String,
                                    shardBlock: Long,
                                    groupCol: String = "source"): DataFrame = {
    require(shardBlock >= 1, "shardBlock must be >= 1")
    val sharded = docs.withColumn("__shard", expr(s"doc_id div ${shardBlock}L"))
    val wLocal = Window.partitionBy(groupCol, "__shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Exclusive prefix over shard totals: one row per populated shard, so
    // this per-group window is over numDocs/shardBlock rows — tiny, and
    // itself shardable recursively if a corpus ever outgrew it.
    val wOffsets = Window.partitionBy(groupCol).orderBy("__shard")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(groupCol, "__shard")
      .agg(sum(col(valueCol)).as("__shard_total"))
      .withColumn("__offset", coalesce(sum("__shard_total").over(wOffsets), lit(0L)))
      .select(col(groupCol).as("__o_group"), col("__shard").as("__o_shard"),
        col("__offset"))
    // null-safe group equality: a NULL group is a legitimate partition (the
    // replaced Window.partitionBy treated it as its own partition); a
    // null-unsafe equi-join would silently drop those rows. EqualNullSafe
    // is still a hash-joinable key.
    sharded
      .withColumn("__local_cum", sum(col(valueCol)).over(wLocal))
      .join(offsets, col(groupCol) <=> col("__o_group") &&
        col("__shard") === col("__o_shard"))
      .withColumn(outCol, col("__local_cum") + col("__offset"))
      .drop("__o_group", "__o_shard", "__shard", "__local_cum", "__offset")
  }

  /** Docs per prefix-sum shard. 64Ki docs keeps a shard's sort comfortably
    * in one task while the offsets table stays numDocs/65536 rows. */
  val defaultShardBlock: Long = 65536L

  /** Sequence packing, concat-then-chunk style: documents are laid out in a
    * deterministic order (doc_id) within each source stream and assigned to
    * the fixed-token-budget pack their first token falls in — the standard
    * LLM pretraining shape (concatenate the stream, slice every
    * `budgetTokens`). A doc straddling a boundary belongs to the pack it
    * starts in. The per-source cumsum is a sharded two-phase prefix sum
    * (see [[shardedPrefixSum]]) — parallel across shards, no per-source
    * single-reducer, no sequential driver loop. */
  def packSequences(docs: DataFrame, budgetTokens: Int,
                    shardBlock: Long = defaultShardBlock): DataFrame = {
    val toked = docs.withColumn("n_tokens", wordCount(col("text")).cast("long"))
    shardedPrefixSum(toked, "n_tokens", "cum_tokens", shardBlock)
      .withColumn("pack_id",
        expr(s"(cum_tokens - n_tokens) div ${budgetTokens.toLong}"))
  }

  /** Source-mix downsampling: keep every `stride`-th document of each
    * source (in doc_id order), with per-source strides — the deterministic
    * form of "mix sources at these ratios" in corpus curation. Stride
    * sampling beats hash- or rand-based sampling here because it is exactly
    * reproducible across engines and runs, and error-free on the kept
    * fraction (1/stride of each source, ±1). The per-source row_number is
    * the sharded prefix sum of 1 (see [[shardedPrefixSum]]) — the stride
    * filter only needs the rank, which the two-phase sum reproduces
    * exactly, so there is no per-source single-reducer window. */
  def sourceMix(docs: DataFrame, strides: Map[String, Int],
                defaultStride: Int = 1,
                shardBlock: Long = defaultShardBlock): DataFrame = {
    require((defaultStride +: strides.values.toSeq).forall(_ >= 1),
      "strides must be >= 1")
    val strideCol = strides.foldLeft(lit(defaultStride)) {
      case (acc, (s, k)) => when(col("source") === s, lit(k)).otherwise(acc)
    }
    shardedPrefixSum(docs.withColumn("__one", lit(1L)), "__one", "__rn", shardBlock)
      .filter((col("__rn") - 1) % strideCol === 0)
      .drop("__rn", "__one")
  }

  /** Temperature-flattened group mixture — the multilingual/pretraining
    * sampling recipe (XLM-R exponential smoothing, LLaMA data mixes):
    * group g keeps docs at rate proportional to share^(1/tau), so tau = 1
    * is the natural mix and tau -> inf flattens every group toward the
    * smallest one. Deterministic derivation: stride_g = round-half-up of
    * (n_g / n_min)^(1 - 1/tau), floored at 1 (the smallest group always
    * keeps everything), with [[sourceMix]]'s keep-every-stride-th rule over
    * the sharded prefix-sum rank. The tie-guarded rounding
    * (floor(x + 0.5 - 1e-9)) keeps the stride engine-stable when the
    * oracle recomputes the power in a different libm.
    *
    * Everything is declarative — counts and strides live in a broadcast
    * frame (bounded by group cardinality), nothing collects to the driver;
    * the corpus pays the prefix-sum exchange plus one broadcast join.
    * NULL group values rank in their own partition and join null-safely,
    * so they mix like any other group. Two corpus scans (counts + rank) —
    * checkpoint upstream if the input lineage is expensive. */
  def temperatureMix(docs: DataFrame, groupCol: String = "source",
                     tau: Double = 2.0,
                     shardBlock: Long = defaultShardBlock): DataFrame = {
    require(tau >= 1.0, "tau must be >= 1 (tau = 1 keeps the natural mix)")
    val counts = docs.groupBy(groupCol).agg(count(lit(1)).as("__ns"))
    val strides = counts
      .crossJoin(broadcast(counts.agg(min("__ns").as("__nmin"))))
      .withColumn("__stride", greatest(lit(1L),
        floor(pow(col("__ns").cast("double") / col("__nmin"),
          lit(1.0 - 1.0 / tau)) + lit(0.5) - lit(1e-9)).cast("long")))
      .select(col(groupCol).as("__g"), col("__stride"))
    shardedPrefixSum(docs.withColumn("__one", lit(1L)), "__one", "__rn",
        shardBlock, groupCol)
      .join(broadcast(strides), col(groupCol) <=> col("__g"))
      .filter((col("__rn") - 1) % col("__stride") === 0)
      .drop("__rn", "__one", "__stride", "__g")
  }

  /** Gopher-style repetition statistics per document — the signals a
    * pre-training quality filter thresholds on (Rae et al. 2021 §A1.1:
    * excessive repetition predicts low-quality text):
    *
    *   - `top_tok_frac`: count of the most frequent token / total tokens;
    *   - `dup_bigram_frac`: 1 - distinct bigrams / total bigrams;
    *   - `repetitive`: either fraction above its threshold.
    *
    * Shape at scale: one explode + two-level hash aggregation per signal
    * (partial map-side combine on (doc_id, token) then (doc_id)) and a
    * final doc_id equi-join — everything hash-partitions by doc_id or
    * (doc_id, gram); no windows, no per-source reducers. The flag compares
    * the tie-safe-ROUNDED fractions so the boolean is reproducible across
    * engines even when a document lands exactly on a threshold.
    *
    * Row-preserving, like the other with* augmenters: stats left-join back
    * onto the input, so a NULL-text document survives with null stats and
    * repetitive=false instead of vanishing (split(NULL) is NULL and explode
    * would otherwise drop the doc from the aggregate side entirely). */
  def withRepetitionStats(docs: DataFrame,
                          topTokThreshold: Double = 0.12,
                          dupBigramThreshold: Double = 0.05): DataFrame = {
    val uni = termFrequencies(docs)
      .groupBy("doc_id").agg(
        sum("tf").as("n_tokens"),
        count(lit(1)).as("distinct_tokens"),
        max("tf").as("__max_c"))
    val bi = docs
      .select(col("doc_id"), explode(pairs(tokens(col("text")))).as("__g"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        countDistinct(col("__g")).as("distinct_bigrams"))
    docs.join(uni.join(bi, Seq("doc_id"), "left"), Seq("doc_id"), "left")
      .withColumn("top_tok_frac",
        graft.ops.Num.cround(col("__max_c").cast("double") / col("n_tokens"), 6))
      .withColumn("dup_bigram_frac",
        graft.ops.Num.cround(
          lit(1.0) - col("distinct_bigrams").cast("double") / col("n_bigrams"), 6))
      .withColumn("repetitive",
        coalesce(col("top_tok_frac") > topTokThreshold, lit(false)) ||
          coalesce(col("dup_bigram_frac") > dupBigramThreshold, lit(false)))
      .drop("__max_c")
  }

  /** Deterministic content-hash train/val/test assignment: bucket =
    * first 16 bits of md5(text || ':' || salt) mod 100, split by
    * cumulative percentage. Content-addressed (stable under re-ids and
    * re-partitioning, reproducible across engines and runs — unlike
    * rand()-based sampling) and salted (a new salt re-deals the split
    * without touching the data). Pure codegen'd per-row expressions: no
    * shuffle at all.
    *
    * NULL text is coalesced to '' so every row gets a deterministic bucket
    * (otherwise a NULL hash would fall through `otherwise` and silently
    * land every NULL doc in the test split). Bias note: 16 bits mod 100
    * overrepresents buckets 0-35 by 656/65536 vs 655/65536 (~0.15% relative
    * — negligible for split sizing, and removable by widening to 32 bits
    * if a use-case ever cares). */
  def withSplitAssignment(docs: DataFrame, trainPct: Int = 80,
                          valPct: Int = 10, salt: String = "graft"): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "trainPct/valPct must be >= 0 and sum to <= 100")
    docs
      .withColumn("bucket",
        conv(substring(md5(concat(coalesce(col("text"), lit("")), lit(":" + salt))), 1, 4), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Deterministic stratified held-out sample: the k docs of each stratum
    * with the SMALLEST md5-derived priority hash — a per-stratum bottom-k
    * (min-wise) sample, the standard mergeable uniform-without-replacement
    * sketch (Cohen & Kaplan, "Summarizing data using bottom-k sketches",
    * PODC 2007). Eval-set construction needs exactly this shape: a fixed
    * per-source quota (a plain percentage split under-represents small
    * sources, see [[withSplitAssignment]]), reproducible from doc_id alone,
    * and insensitive to row order.
    *
    * Scale shape: the priority is a per-row hash and the per-stratum
    * bottom-k runs on the bounded native `top_k_by` aggregate (negated
    * score), so every map partition reduces to <= k pairs per stratum
    * before the shuffle — no per-stratum window sort, no task ever holds a
    * whole stratum. The same hash-priority construction extends to a
    * weighted sample (priority = h^(1/w)) without changing the plan shape.
    *
    * Output: (stratum, rank, doc_id, smp_hash), rank 1 = smallest hash,
    * ties broken by the smaller doc_id. */
  def stratifiedSample(docs: DataFrame, strataCol: String = "source",
                       k: Int = 5): DataFrame = {
    require(k > 0, "sample quota k must be positive")
    GraftFunctions.topKBy(docs.select(col(strataCol), col("doc_id"))
        .withColumn("h",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long"))
        .groupBy(strataCol), -col("h").cast("double"), col("doc_id"), k)
      .select(col(strataCol), col("rank"), col("id").as("doc_id"),
        (-col("score")).cast("long").as("smp_hash"))
      .orderBy(strataCol, "rank")
  }

  /** Weighted stratified sampling — the weighted twin of
    * [[stratifiedSample]] via the Efraimidis–Spirakis A-Res key
    * (Efraimidis & Spirakis, "Weighted random sampling with a
    * reservoir", IPL 2006): per stratum, keep the k docs with the
    * LARGEST ln(u)/w, where u is a deterministic md5-derived uniform in
    * (0, 1] and w the doc's weight — each doc's inclusion probability is
    * proportional to its weight, reproducible from doc_id alone. The
    * log-key form (not u^(1/w)) keeps keys well-spread where large
    * weights crowd u^(1/w) against 1.0; the key is tie-safe-ROUNDED
    * (scale 6) before ranking, with doc_id breaking any created tie, so
    * the selection boundary can never flip on a cross-engine ln() ulp.
    *
    * Plan shape is identical to t18: the bounded `top_k_by` aggregate
    * reduces every map partition to <= k pairs per stratum before the
    * shuffle — no per-stratum window sort. Zero- or negative-weight rows
    * are excluded (their ES key is undefined).
    *
    * Output: (stratum, rank, doc_id, es_key), rank 1 = best key. */
  def weightedSample(docs: DataFrame, strataCol: String = "source",
                     weightCol: String = "n_chars", k: Int = 5): DataFrame = {
    require(k > 0, "sample quota k must be positive")
    GraftFunctions.topKBy(docs.select(col(strataCol), col("doc_id"), col(weightCol))
        .filter(col(weightCol) > 0)
        .withColumn("u",
          (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("double") + 1.0) / 4294967296.0)
        .withColumn("es_key",
          graft.ops.Num.cround(log(col("u")) / col(weightCol).cast("double"), 6))
        .groupBy(strataCol), col("es_key"), col("doc_id"), k)
      .select(col(strataCol), col("rank"), col("id").as("doc_id"),
        col("score").as("es_key"))
      .orderBy(strataCol, "rank")
  }

  /** Packing-efficiency histogram: bin documents into power-of-two
    * sequence-length buckets (a doc of t tokens lands in the smallest
    * 2^e >= t) and report per-bucket padding waste — the fraction of a
    * fixed-length training batch padded to the bucket ceiling that would
    * be pad tokens. This is the number a pipeline reads before choosing
    * packing ([[packSequences]]) over padded batching, and per-bucket
    * batch shapes after it.
    *
    * The bucket is derived integer-exactly from the BIT LENGTH of t-1
    * (`length(bin(t-1))` then a shift) — never log2 floats, whose
    * exactness at powers of two is not a cross-engine guarantee. One
    * narrow aggregation: the shuffle carries (bucket, count, sum)
    * partials only. */
  def packingWasteStats(docs: DataFrame): DataFrame =
    withTokenCounts(docs.filter(col("text").isNotNull))
      .withColumn("t", greatest(col("ws_tokens").cast("long"), lit(1L)))
      .withColumn("bin_len", when(col("t") <= 1, lit(1L))
        .otherwise(expr("shiftleft(CAST(1 AS BIGINT), length(bin(t - 1)))")))
      .groupBy("bin_len")
      .agg(count(lit(1)).as("n_docs"), sum(col("t")).as("sum_tokens"))
      .withColumn("waste",
        col("bin_len") * col("n_docs") - col("sum_tokens"))
      .withColumn("waste_frac", graft.ops.Num.cround(
        col("waste").cast("double") / (col("bin_len") * col("n_docs")), 6))
      .orderBy("bin_len")

  /** Token-budget sampling: keep each source's documents (in doc_id order)
    * while the running token total stays within `budgetTokens` — the
    * deterministic form of capping a source's contribution to a training
    * mix. Whole-document boundary semantics: a document that would straddle
    * the budget is dropped entirely (the cap keeps whole docs while the
    * running total fits; it does not truncate a doc mid-stream), so the
    * kept total is <= budgetTokens, not == it. The running total is the
    * sharded two-phase prefix sum (see [[shardedPrefixSum]]), so no source
    * ever funnels through one task. The tokenized input is checkpointed
    * before the prefix sum because its two branches each re-evaluate their
    * input lineage (the helper's documented contract). */
  def tokenBudgetFilter(docs: DataFrame, budgetTokens: Long,
                        shardBlock: Long = defaultShardBlock): DataFrame = {
    require(budgetTokens >= 0, "budgetTokens must be >= 0")
    val toked = docs.withColumn("n_tokens", wordCount(col("text")).cast("long"))
      .materialized
    shardedPrefixSum(toked, "n_tokens", "cum_tokens", shardBlock)
      .filter(col("cum_tokens") <= budgetTokens)
  }

  /** Corpus-wide vocabulary statistics, top-k by occurrence count — the
    * tokenizer-training / corpus-profiling primitive (a BPE or unigram-LM
    * trainer starts from exactly this table). Per token: total occurrences
    * and document frequency.
    *
    * Shape at scale: explode -> two-level hash aggregation — (token,
    * doc_id) partials combine map-side, then the (token) agg gets both the
    * occurrence sum AND the exact doc frequency from the first level's
    * output without a count-distinct expansion. The top-k is a
    * TakeOrderedAndProject (per-partition heaps + driver merge of k rows),
    * never a full sort of the vocabulary. Deterministic tiebreak:
    * occurrences desc, token asc. */
  def vocabulary(docs: DataFrame, k: Int = 1000): DataFrame = {
    require(k >= 1, "k must be >= 1")
    termFrequencies(docs)
      .groupBy("token").agg(
        sum("tf").as("n_occurrences"),
        count(lit(1)).as("doc_freq"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)
  }

  /** Corpus bigram collocations — top-k adjacent token pairs by count,
    * with doc frequency and pointwise mutual information against the
    * unigram model: PMI = ln((c₁₂/N₂) / ((c₁/N₁)(c₂/N₁))). High-count
    * high-PMI pairs are the BPE merge / collocation candidates next to
    * t11's unigram vocabulary (reference provenance: the reference has no
    * text surface; this extends tokenizer-prep analytics).
    *
    * Bigrams are the [[pairs]] of each document's tokens. Shape at scale:
    * the corpus reduces through TWO map-side-combining count aggregates
    * (bigram [[termFrequencies]], [[tokenCounts]]); the top-k ranking is
    * a bounded TakeOrdered at k rows; and the PMI enrichment joins the
    * k-row shortlist (broadcast) against the unigram counts — nothing
    * downstream of the counts scales with the corpus. Determinism: counts
    * are exact integers, the PMI formula is rendered with identical
    * parenthesization in the DuckDB oracle, and ln agrees across engines
    * to 1 ulp (t22/t25 precedent) — tie-safe-rounded at 6. */
  def bigramCollocations(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val bgCounts = termFrequencies(docs, pairs(tokens(col("text"))), "bigram")
      .groupBy("bigram").agg(
        sum("tf").as("n_occurrences"),
        count(lit(1)).as("doc_freq"))
    val uni = tokenCounts(docs)
    val nBg = bgCounts.agg(sum("n_occurrences").cast("double").as("n_bigrams"))
    val nUni = uni.agg(sum("n").cast("double").as("n_unigrams"))
    val top = bgCounts
      .orderBy(col("n_occurrences").desc, col("bigram").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occurrences").desc, col("bigram").asc)).cast("int"))
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
      .withColumn("__w2", split(col("bigram"), " ").getItem(1))
    val u1 = uni.select(col("token").as("__w1"), col("n").cast("double").as("__uc1"))
    val u2 = uni.select(col("token").as("__w2"), col("n").cast("double").as("__uc2"))
    // each join streams the big unigram table against the broadcast k-row
    // shortlist, so only <= k rows ever leave either join
    val withU1 = u1.join(broadcast(top), "__w1")
    u2.join(broadcast(withU1), "__w2")
      .crossJoin(broadcast(nBg)).crossJoin(broadcast(nUni))
      .select(col("bigram"), col("n_occurrences"), col("doc_freq"), col("rank"),
        graft.ops.Num.cround(
          log((col("n_occurrences").cast("double") / col("n_bigrams")) /
            ((col("__uc1") / col("n_unigrams")) * (col("__uc2") / col("n_unigrams")))),
          6).as("pmi"))
      .orderBy("rank")
  }

  /** Vocabulary coverage curve — for each candidate vocab size, the share
    * of all token OCCURRENCES a top-N frequency vocabulary covers (the
    * tokenizer-design question "how big must the vocab be before OOV is
    * rare?", the empirical face of t25's Zipf fit: slope ≈ -1 implies
    * coverage grows ~log N). Ranking is (count desc, token asc) — the
    * t11/t25 tie-safe order.
    *
    * Shape at scale: one token-count shuffle (map-side combine) reduces
    * the corpus to the vocab-sized table; the candidate ranking is a
    * bounded TakeOrdered at max(sizes) rows, and every join after it runs
    * over those ≤ max(sizes) rows against a broadcast threshold list —
    * the corpus is read once, and nothing downstream of the count scales
    * with it. */
  def vocabCoverage(docs: DataFrame,
                    sizes: Seq[Int] = Seq(10, 100, 1000, 10000)): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = tokenCounts(docs)
    val total = counts.agg(sum(col("n")).as("__tot"),
      count(lit(1)).as("__vocab"))
    val ranked = counts
      .orderBy(col("n").desc, col("token")).limit(sizes.max)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("token"))))
    ranked.join(broadcast(sizes.toDF("vocab_size")),
        col("rank") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(count(lit(1)).as("n_vocab_used"), sum(col("n")).as("n_covered"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size"),
        col("n_vocab_used").cast("int").as("n_vocab_used"),
        col("n_covered"),
        col("__vocab").as("total_vocab"),
        graft.ops.Num.cround(col("n_covered") / col("__tot"), 6)
          .as("coverage"))
  }

  /** Zipf/power-law fit of the token frequency spectrum: OLS slope of
    * ln(frequency) on ln(rank) over the `topN` most frequent tokens —
    * natural text follows Zipf's law with slope ≈ −1, so the fitted
    * slope is a one-number corpus-health probe (synthetic, templated, or
    * boilerplate-heavy corpora read far from −1; a training-mix monitor
    * watches this per source next to [[sourceEntropy]]'s mix entropy).
    * Output: one row (n_tokens, zipf_slope, zipf_intercept).
    *
    * Shape at scale: token counting is the [[vocabulary]] two-stage
    * aggregate (the only corpus-sized work); the regression runs over
    * `topN` rows — the rank window and the OLS sums never see the corpus.
    * Determinism: rank orders by (count DESC, token) — exact integers —
    * and the OLS sums are `topN` O(1) doubles with no cancellation
    * (n·Σx² − (Σx)² ≈ 0.14·n·Σx² at topN=100), so the 6-dp rounding
    * sits ~8 orders above cross-engine summation ulps. */
  def zipfFit(docs: DataFrame, topN: Int = 100): DataFrame = {
    val ranked = vocabulary(docs, k = topN)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("token").asc)))
      .select(log(col("rank").cast("double")).as("x"),
        log(col("n_occurrences").cast("double")).as("y"))
    val s = ranked.agg(
      count(lit(1)).cast("double").as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
      (col("n") * col("sxx") - col("sx") * col("sx"))
    s.select(col("n").cast("bigint").as("n_tokens"),
      graft.ops.Num.cround(slope, 6).as("zipf_slope"),
      graft.ops.Num.cround((col("sy") - slope * col("sx")) / col("n"), 6)
        .as("zipf_intercept"))
  }

  /** Per-document top-`topK` keywords by smoothed TF-IDF (sklearn-style
    * idf = ln((N+1)/(df+1)) + 1) — the corpus-analysis / clustering-prep
    * primitive. Output: (doc_id, keyword_rank, token, tf, score).
    *
    * Shape at scale: term frequencies and document frequencies are the
    * same two-level aggregation as [[vocabulary]]; the tf<->df join is a
    * token-keyed hash join (the vocabulary of a web-scale corpus is too
    * big to assume broadcastable — AQE may still choose it when small);
    * the per-document top-k window partitions by doc_id, so partitions
    * are tiny and the sort never concentrates. The document count rides
    * in as a literal (one count action), not a cross join.
    *
    * Ranking compares the tie-safe-ROUNDED score (scale 6) with token as
    * the tiebreak, so ranks are reproducible across engines even when two
    * tokens score within a ulp of each other. */
  def withTfIdfKeywords(docs: DataFrame, topK: Int = 3): DataFrame = {
    require(topK >= 1, "topK must be >= 1")
    val nDocs = docs.count()
    // tf feeds BOTH the score join and the doc-frequency aggregate:
    // checkpoint so the corpus is scanned+tokenized once, not once per
    // branch (same reuse contract as shardedPrefixSum callers)
    val tf = termFrequencies(docs).materialized
    val df = tf.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    val scored = tf.join(df, Seq("token"))
      .withColumn("score", graft.ops.Num.cround(
        col("tf").cast("double") *
          (log((lit(nDocs) + lit(1.0)) / (col("doc_freq") + lit(1.0))) + lit(1.0)),
        6))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("token").asc)
    scored
      .withColumn("keyword_rank", row_number().over(w))
      .filter(col("keyword_rank") <= topK)
      .select(col("doc_id"), col("keyword_rank"), col("token"),
        col("tf"), col("score"))
  }

  /** Unigram-LM log-probability scoring — the cheap stand-in for a KenLM
    * perplexity filter (CCNet-style: flag documents whose tokens are
    * improbable under a corpus-level language model). The LM is the corpus's
    * own unigram MLE, so no external model artifact is needed and every
    * scored token is in-vocabulary by construction (no smoothing required).
    * Per document: `n_tokens` and
    * `avg_neg_logprob = -(1/n) * sum_i ln p(tok_i)` with
    * `p(t) = occurrences(t) / total corpus tokens` — higher = more
    * surprising = lower-quality or out-of-domain under the corpus LM.
    *
    * Shape at scale: the same two-level aggregation skeleton as
    * [[withTfIdfKeywords]] — the per-(doc, token) tf table is checkpointed
    * once and feeds BOTH the corpus occurrence aggregate and the per-doc
    * score (one corpus scan + one small materialization); the
    * tf<->occurrence join is a token-keyed hash join (web-scale vocabularies
    * are not assumed broadcastable — AQE may still choose it); the grand
    * total collapses to ONE double literal (`ln N`) via a single action over
    * the tiny occurrence table, so no cross join ever touches the corpus.
    * `avg_neg_logprob = ln N - sum(tf * ln occ) / n` keeps the arithmetic a
    * per-doc float sum that tie-safe rounding (scale 6) makes engine-stable.
    *
    * Row-preserving like the other with* augmenters: a NULL-text document
    * survives with null stats. */
  def withUnigramLogProb(docs: DataFrame): DataFrame = {
    val tf = termFrequencies(docs).materialized
    val occ = tf.groupBy("token").agg(sum("tf").as("occ"))
    // An empty corpus (no docs, or every text NULL/blank) sums to NULL, not
    // 0 — degrade to the same row-preserving shape the left join below
    // produces (null stats for unscorable docs) instead of NPE-ing.
    val totalRow = occ.agg(sum("occ")).first()
    if (totalRow.isNullAt(0))
      return docs
        .withColumn("n_tokens", lit(null).cast("long"))
        .withColumn("avg_neg_logprob", lit(null).cast("double"))
    val lnTotal = math.log(totalRow.getLong(0).toDouble)
    val perDoc = tf.join(occ, Seq("token"))
      .groupBy("doc_id").agg(
        sum("tf").as("n_tokens"),
        sum(col("tf").cast("double") * log(col("occ"))).as("__slog"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("avg_neg_logprob",
        graft.ops.Num.cround(lit(lnTotal) - col("__slog") / col("n_tokens"), 6))
      .drop("__slog")
  }

  /** Interpolated bigram-LM surprise score per document — the next rung
    * above [[withUnigramLogProb]]'s unigram filter (CCNet/KenLM-style
    * quality scoring with context): for each adjacent token pair,
    * P(w2|w1) = lambda * c(w1 w2)/c(w1) + (1-lambda) * c(w2)/N, and the
    * score is the mean negative ln over the document's bigrams
    * (Jelinek-Mercer interpolation — the unigram back-off term keeps
    * unseen-in-context pairs finite). Low scores = predictable text; high
    * = disfluent/OOD (or boilerplate the unigram model can't see because
    * every WORD is common while the TRANSITIONS are not).
    *
    * Shape at scale: bigrams are the t27 [[pairs]] (no self-join); the
    * per-doc bigram tf, the corpus bigram counts, and the
    * two unigram-count joins are all hash-partitioned equi-joins with
    * map-side-combined aggregates on both sides — linear end to end, the
    * t13 join discipline. N rides a broadcast 1-row cross join.
    * Row-preserving: docs with < 2 tokens (or NULL text) come back with
    * null n_bigrams/score. Determinism: counts are exact, the
    * interpolation renders with identical parenthesization in the oracle,
    * ln agrees to 1 ulp (t13/t22 precedent), rounded tie-safe at 6. */
  def withBigramLogProb(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    require(lambda > 0 && lambda <= 1, "lambda must be in (0, 1]")
    val btf = termFrequencies(docs, pairs(tokens(col("text"))), "bigram")
      .materialized
    val bocc = btf.groupBy("bigram").agg(sum("tf").as("bocc"))
    val uocc = tokenCounts(docs)
    val nUni = uocc.agg(sum("n").cast("double").as("n_unigrams"))
    val perDoc = btf
      .join(bocc, Seq("bigram"))
      .withColumn("__w1", split(col("bigram"), " ").getItem(0))
      .withColumn("__w2", split(col("bigram"), " ").getItem(1))
      .join(uocc.select(col("token").as("__w1"), col("n").as("__uc1")), Seq("__w1"))
      .join(uocc.select(col("token").as("__w2"), col("n").as("__uc2")), Seq("__w2"))
      .crossJoin(broadcast(nUni))
      .withColumn("__lp", log(
        lit(lambda) * (col("bocc").cast("double") / col("__uc1")) +
          lit(1.0 - lambda) * (col("__uc2").cast("double") / col("n_unigrams"))))
      .groupBy("doc_id").agg(
        sum("tf").as("n_bigrams"),
        sum(col("tf").cast("double") * col("__lp")).as("__slog"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .withColumn("avg_neg_logprob2",
        graft.ops.Num.cround(-(col("__slog") / col("n_bigrams")), 6))
      .drop("__slog")
  }

  /** C4-style duplicate-span removal: split every document into
    * consecutive `spanTokens`-token spans (the C4 paper drops repeated
    * three-sentence spans corpus-wide; token spans are the fixture's
    * analog), keep only the globally FIRST occurrence of each distinct
    * span — earliest (doc_id, span index) wins — and reassemble each
    * document from its surviving spans in order. The boilerplate killer
    * that exact/near doc-dedup cannot express: a repeated header/footer
    * paragraph disappears from every document but its first.
    *
    * Output (row-preserving): (doc_id, cleaned_text, n_spans, n_kept).
    * NULL text stays NULL with 0/0; a document whose every span lost its
    * election comes back as ''.
    *
    * Shape at scale — three exchanges, only one of which carries text:
    *  1. winner election over a (doc_id, chunk_id, md5) projection — only
    *     16-byte digests + two ints ride the span-key shuffle (the d7
    *     payload-free discipline), ONE min(struct) hash aggregate with
    *     map-side partials;
    *  2. winners regroup to per-doc kept-chunk arrays — rows bounded by
    *     distinct spans, a contraction of (1);
    *  3. spans join the kept-sets on doc_id and the final reassembly
    *     groupBy(doc_id) REUSES that exchange (same key) — the one
    *     unavoidable text-carrying shuffle, linear in corpus size.
    * No window over the span key (a hot boilerplate span is a hot KEY;
    * min(struct) partial-aggregates it away before the shuffle, where a
    * row_number would sort the whole hot group in one task). */
  def dedupSpans(docs: DataFrame, spanTokens: Int = 8): DataFrame = {
    val spans = chunkDocuments(docs, chunkTokens = spanTokens, overlap = 0)
    val winners = spans
      .select(col("doc_id"), col("chunk_id"), md5(col("chunk_text")).as("__h"))
      .groupBy("__h")
      .agg(min(struct(col("doc_id"), col("chunk_id"))).as("__w"))
    val keepSets = winners
      .groupBy(col("__w.doc_id").as("doc_id"))
      .agg(collect_set(col("__w.chunk_id")).as("__kept"))
    val rebuilt = spans.join(keepSets, Seq("doc_id"), "left")
      .withColumn("__keep", array_contains(
        coalesce(col("__kept"), expr("CAST(array() AS ARRAY<INT>)")),
        col("chunk_id")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_spans"),
        sum(when(col("__keep"), 1L).otherwise(0L)).cast("int").as("n_kept"),
        concat_ws(" ", expr(
          """transform(
            |  array_sort(collect_list(
            |    CASE WHEN __keep THEN struct(chunk_id, chunk_text) END)),
            |  s -> s.chunk_text)""".stripMargin)).as("cleaned_text"))
      .select("doc_id", "cleaned_text", "n_spans", "n_kept")
    // NULL-text docs emit no spans; resurrect them by union (a filter, not
    // another doc_id join) so the op stays row-preserving
    rebuilt.unionAll(docs.filter(col("text").isNull).select(col("doc_id"),
      lit(null).cast("string").as("cleaned_text"),
      lit(0).as("n_spans"), lit(0).as("n_kept")))
  }

  /** RAG-style document chunking: fixed token windows with overlap —
    * chunk i starts at token i*(chunkTokens-overlap) and spans up to
    * chunkTokens tokens; every start below the document length emits a
    * chunk (the langchain-style stride rule), so the final chunk may be a
    * short tail. Output: (doc_id, chunk_id, n_chunk_tokens, chunk_text).
    *
    * Pure codegen'd array builtins (split/sequence/slice/concat_ws) with
    * one posexplode — a linear generate-style projection, no shuffle, no
    * UDF; chunk volume is bounded at ~n/stride rows per document. NULL or
    * empty text emits no chunks (the chunk table is a derived corpus, not
    * a row-preserving augmentation). */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 64,
                     overlap: Int = 16): DataFrame = {
    require(overlap >= 0 && chunkTokens > overlap,
      "need chunkTokens > overlap >= 0")
    val stride = chunkTokens - overlap
    docs
      .withColumn("__toks", tokens(col("text")))
      .withColumn("__n", size(col("__toks")))
      .select(col("doc_id"), col("__n"), posexplode(expr(
        s"""CASE WHEN __n >= 1
           |THEN transform(sequence(0, __n - 1, $stride),
           |               s -> concat_ws(' ', slice(__toks, s + 1, $chunkTokens)))
           |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin))
        .as(Seq("chunk_id", "chunk_text")))
      .withColumn("n_chunk_tokens",
        least(lit(chunkTokens), col("__n") - col("chunk_id") * stride))
      .select("doc_id", "chunk_id", "n_chunk_tokens", "chunk_text")
  }

  /** Document fingerprints: md5 of whitespace-normalized text (exact-dup
    * key) and the minimum shingle hash (a 1-permutation MinHash — stable
    * under small edits, the winnowing-style near-dup key). */
  def withFingerprints(docs: DataFrame): DataFrame =
    withShingles(docs)
      .withColumn("md5_fingerprint",
        md5(regexp_replace(lower(col("text")), "\\s+", " ")))
      .withColumn("min_shingle_fingerprint",
        expr("array_min(transform(shingles, s -> substring(md5(s), 1, 16)))"))

  /** Corpus text normalization — the C4/CCNet-style hygiene pass every
    * pretraining corpus runs before dedup/tokenization: Unicode NFC,
    * lowercase, diacritic strip (one fused native expression, codegen'd,
    * no UDF — [[graft.functions.FoldText]]), then whitespace-run collapse
    * to single spaces and trim. The collapse class is the explicit ASCII
    * `[ \t\n\r\f]` on BOTH engines: Java's `\s` and RE2's `\s` disagree
    * on vertical tab, and an explicit class removes the dialect edge
    * (the t20 regex-contract discipline). Adds norm_text plus raw/
    * normalized char lengths — the shrinkage evidence a curation report
    * wants. Row-wise and shuffle-free (PlanSpec guard). */
  def normalizeDocuments(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .withColumn("norm_text",
        trim(regexp_replace(GraftFunctions.call("fold_text", col(textCol)),
          "[ \\t\\n\\r\\f]+", " ")))
      .withColumn("raw_len", length(col(textCol)))
      .withColumn("norm_len", length(col("norm_text")))

  /** BM25 keyword retrieval (Robertson et al., Okapi at TREC-3): score the
    * corpus against a fixed set of query strings, top-k docs per query —
    * the LEXICAL retrieval baseline a curation/eval pipeline runs next to
    * the ANN family (sim1-sim18), and the standard first leg of hybrid
    * lexical+vector search. Per (query, doc):
    * `bm25 = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
    * over the query's distinct terms, with the always-positive Lucene
    * rendering `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))`.
    *
    * Shape at scale: ONE corpus tokenize feeds both map-side-combining
    * aggregates (the (doc, token) tf table — carrying dl via first() so no
    * doc-length join ever happens — and the vocab-sized df table); the
    * query-term table broadcasts against tf, so only rows for docs
    * CONTAINING a query term survive past the scan (the posting-list
    * restriction an inverted index does); df is restricted to the query's
    * terms the same way and the resulting terms-sized stats broadcast
    * back. The per-query reduction is the bounded native `top_k_by` — map
    * partitions ship ≤ k docs per query, no per-query sort sees the
    * corpus. N/avgdl collapse to literals via one action over a 1-row
    * aggregate (the t13 grand-total pattern; both are exact — integer
    * count, and an integer-sum-over-count division — so the literal is
    * engine-deterministic). Scores are tie-safe-rounded (scale 6) before
    * ranking with doc_id tiebreak, the cross-engine ordering discipline. */
  def bm25TopK(docs: DataFrame, queries: Seq[(Int, String)], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tf = docs
      .select(col("doc_id"), size(tokens(col("text"))).as("dl"),
        explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .materialized
    val dfTbl = tf.groupBy("token").agg(count(lit(1)).as("doc_freq"))
    val stats = docs.agg(count(lit(1)).as("n"),
      avg(size(tokens(col("text")))).as("avgdl")).first()
    val nDocs = stats.getLong(0).toDouble
    // NULL when no document has text; tf is then empty, so nothing reads it
    val avgdl = lit(stats.get(1))
    val qt = queries
      .flatMap { case (qid, q) => q.split(" ").distinct.map(t => (qid, t)) }
      .toDF("query_id", "token")
    val qdf = dfTbl.join(broadcast(qt.select("token").distinct()), "token")
    val scored = tf.join(broadcast(qt), "token")
      .join(broadcast(qdf), "token")
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs) - col("doc_freq") + lit(0.5)) /
          (col("doc_freq") + lit(0.5))))
      .withColumn("term_score", col("idf") *
        (col("tf") * (lit(k1) + lit(1.0))) /
        (col("tf") + lit(k1) *
          (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl)))
      .groupBy("query_id", "doc_id")
      .agg(graft.ops.Num.cround(sum("term_score"), 6).as("bm25"))
    GraftFunctions.topKBy(scored.groupBy("query_id"), col("bm25"), col("doc_id"), k)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"),
        col("score").as("bm25"))
  }

  /** Merge rounds of the BPE trainer — shared with the oracle's unrolled
    * CTEs so both engines train the same vocabulary. */
  val BpeRounds = 8

  /** The BPE word table `(w, wc)`: lowercase space-split words of 2+
    * characters and their corpus counts — the one corpus aggregate BPE
    * training pays (map-side combined); every later step runs on this
    * distinct-word vocabulary, Heaps-law sublinear in the corpus. */
  def bpeWords(docs: DataFrame): DataFrame =
    docs.select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))

  /** Merge state 0, materialized: every word as its marked symbol string
    * (each character wrapped in '<'/'>', safe because the corpus is pure
    * [a-z ]) with its count, `(sw, wc)`. */
  def bpeVocab(docs: DataFrame): DataFrame =
    bpeWords(docs).select(
      regexp_replace(col("w"), "(.)", "<$1>").as("sw"), col("wc")).materialized

  /** One round's pair-count table `(left_sym, right_sym, pair_count)` over
    * a marked-vocabulary frame: symbols re-split on '><', adjacent pairs
    * weighted by word count, partial-combined into a table bounded by the
    * live symbol alphabet². `size >= 2` guards the fully-merged
    * single-symbol words BEFORE sequence(1, n-1) — Spark's sequence(1, 0)
    * descends, it does not return empty. */
  def bpePairCounts(vocab: DataFrame): DataFrame =
    vocab.select(col("wc"),
        split(expr("substring(sw, 2, length(sw) - 2)"), "><").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("wc"), explode(expr(
        """transform(sequence(1, size(syms) - 1),
          |  i -> struct(element_at(syms, i) AS l,
          |              element_at(syms, i + 1) AS r))""".stripMargin)).as("p"))
      .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
      .agg(sum("wc").as("pair_count"))

  /** The BPE merge loop (Sennrich et al. 2016): states 0 to [[BpeRounds]].
    * State 0 is [[bpeVocab]]; state r applies round r's winning pair — the
    * top of [[bpePairCounts]] over state r-1 by count desc, then (left,
    * right) ascending, a 1-row TakeOrderedAndProject broadcast into the
    * merge projection — and is materialized ONCE as `(sw, wc, left_sym,
    * right_sym, pair_count)`: the pair rides the merged-vocab checkpoint
    * as three constant columns, so reading it costs no job of its own, and
    * each round's lineage starts at a checkpoint. The merge is ONE literal
    * `replace('<a><b>' -> '<ab>')`: string replace scans left-to-right
    * non-overlapping in both engines, which IS BPE's greedy merge order
    * ('<a><a><a>' -> '<aa><a>'), and the markers make cross-symbol false
    * matches impossible ('<xa><b>' never contains '<a><b>'). */
  def bpeStates(docs: DataFrame): Seq[DataFrame] =
    (1 to BpeRounds).scanLeft(bpeVocab(docs)) { (vocab, _) =>
      val top = bpePairCounts(vocab)
        .orderBy(col("pair_count").desc,
          col("left_sym").asc, col("right_sym").asc)
        .limit(1)
        .select(col("left_sym"), col("right_sym"), col("pair_count"))
      vocab.select("sw", "wc").crossJoin(broadcast(top))
        .select(expr(
          """replace(sw, concat('<', left_sym, '><', right_sym, '>'),
            |        concat('<', left_sym, right_sym, '>'))""".stripMargin)
          .as("sw"), col("wc"),
          col("left_sym"), col("right_sym"), col("pair_count"))
        .materialized
    }
}
