package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Materialize.MaterializeOps

/** End-to-end training-corpus curation: the ext operators composed in the
  * order a production pretraining pipeline runs them —
  *
  *   exact dedup -> near dedup (MinHash/LSH + clustering) ->
  *   quality + language filters [-> unigram-LM surprise filter] ->
  *   benchmark decontamination [-> per-source quality cap] ->
  *   source mixing -> sequence packing
  *
  * Exact dedup goes first (cheapest pass, biggest volume win on crawled
  * corpora), near-dedup runs on the exact-unique survivors so the LSH
  * band join never sees byte-identical clones, filters run before mixing
  * so strides apply to the kept population, decontamination runs on the
  * filter survivors (after redaction — hashing normalized text — and
  * before mixing, so eval-set leaks never reach the training mix), and
  * packing is last because pack ids depend on the final survivor set.
  *
  * Every stage is a declarative transformation on the same DataFrame —
  * one linear pass per stage plus the documented dedup shuffles; nothing
  * collects to the driver.
  */
object CorpusPipeline {

  /** Knobs for a curation run. `langs` keeps only documents whose detected
    * language is in the set; `minQuality` floors the heuristic quality
    * score; `sourceStrides` downsamples named sources k:1; `redact`
    * scrubs emails/URLs/phone numbers BEFORE anything hashes, so two docs
    * differing only in a redacted span dedup as the duplicates they are. */
  case class CurationConfig(
      langs: Set[String] = Set("en"),
      minQuality: Double = 0.3,
      nHashes: Int = 16,
      nBands: Int = 8,
      // exact-Jaccard floor for verifying LSH candidates before clustering
      // (K-M signature correlation makes boilerplate-sharing docs collide
      // on every band at tiny true overlap — see Dedup.jaccardVerifyPairs)
      minJaccard: Double = 0.5,
      sourceStrides: Map[String, Int] = Map.empty,
      // temperature-flattened source mixing (XLM-R/LLaMA-style): derive
      // the strides from the survivors' own source counts at this tau
      // instead of hand-picking sourceStrides (Some overrides the map)
      mixTemperature: Option[Double] = None,
      packBudgetTokens: Int = 2048,
      redact: Boolean = true,
      // unicode normalization (t21's fold: NFC + lowercase + de-accent +
      // whitespace collapse) BEFORE any hashing, so docs differing only
      // in case/diacritics/spacing become the duplicates they are —
      // false by default (normalizing rewrites the corpus text, which is
      // a policy decision, not hygiene like redaction)
      normalize: Boolean = false,
      decontamNgram: Int = 8,
      // CCNet-style LM filter: drop docs whose mean token surprise under
      // the survivors' own unigram LM exceeds the ceiling (None = skip)
      maxSurprise: Option[Double] = None,
      // C4-style duplicate-span removal: strip every repeated spanTokens-
      // token span (keep-first corpus-wide) and drop docs left empty —
      // the boilerplate pass document dedup can't express (None = skip)
      spanDedupTokens: Option[Int] = None,
      // RefinedWeb-style per-source cap: keep only the k best-quality docs
      // of each source (None = unlimited)
      perSourceCap: Option[Int] = None)

  /** Row counts after each stage — the shrinkage funnel every corpus run
    * reports. Computing it costs one count action per stage (each cheap:
    * the expensive clustering stage is checkpoint-materialized inside
    * duplicateClusters). */
  case class CurationReport(
      input: Long,
      afterExactDedup: Long,
      afterNearDedup: Long,
      afterSpanDedup: Long,
      afterFilters: Long,
      afterLmFilter: Long,
      afterDecontam: Long,
      afterCap: Long,
      afterMix: Long,
      nPacks: Long)

  /** Run the full curation pass over (doc_id, source, text) rows. Returns
    * the packed corpus — survivors with n_tokens/cum_tokens/pack_id — and
    * the shrinkage report. `benchmark` is the held-out eval set to
    * decontaminate against (None skips the stage — afterDecontam then
    * equals afterFilters). */
  def curate(docs: DataFrame,
             cfg: CurationConfig = CurationConfig(),
             benchmark: Option[DataFrame] = None): (DataFrame, CurationReport) = {
    // 0. scrub before any hashing (redaction normalizes content, so docs
    // differing only in a redacted span become the duplicates they are);
    // optional unicode fold first for the same reason — case/diacritic/
    // whitespace variants of one document must share a digest
    val folded =
      if (cfg.normalize)
        TextOps.normalizeDocuments(docs)
          .drop("text", "raw_len", "norm_len")
          .withColumnRenamed("norm_text", "text")
      else docs
    val scrubbed = if (cfg.redact) TextOps.redact(folded) else folded

    // 1. exact dedup: keep the smallest doc_id per content digest. Winner
    // election shuffles (digest, doc_id) only — document payloads never
    // ride the digest exchange (see Dedup.keepFirstPerDigest).
    // materialized (localCheckpoint/persist per conf): the report's stage
    // counts and the returned frame would otherwise re-execute this
    // shuffle once per action; the
    // checkpoint blocks are reclaimed by the ContextCleaner once the frame
    // goes out of scope.
    val exactUnique = Dedup.keepFirstPerDigest(scrubbed).materialized

    // 2. near dedup: LSH candidates -> connected components -> keep reps.
    // Signatures are checkpointed BEFORE the band self-join: both join
    // sides otherwise recompute the tokenize+md5 signature subtree — at
    // corpus scale that double-reads and double-hashes every document.
    val signatures = Dedup.minhashSignatures(exactUnique, cfg.nHashes)
      .materialized
    // candidates are VERIFIED with exact Jaccard before clustering: false
    // candidates (correlated-signature boilerplate collisions) must not
    // merge distinct documents — that would silently delete real content
    val pairs = Dedup.jaccardVerifyPairs(exactUnique,
      Dedup.lshCandidatePairs(signatures, cfg.nBands), cfg.minJaccard)
    val nearUnique = Dedup.dedupByClusters(
      exactUnique, Dedup.duplicateClusters(pairs))

    val (packed, t) = curateTail(docs.columns.toSeq, nearUnique, cfg, benchmark)
    val report = CurationReport(
      input = docs.count(),
      afterExactDedup = exactUnique.count(),
      afterNearDedup = nearUnique.count(),
      afterSpanDedup = t.afterSpanDedup,
      afterFilters = t.afterFilters,
      afterLmFilter = t.afterLmFilter,
      afterDecontam = t.afterDecontam,
      afterCap = t.afterCap,
      afterMix = t.afterMix,
      nPacks = t.nPacks)
    (packed, report)
  }

  /** Stage counts of the post-dedup tail ([[curateTail]]). */
  private[ext] case class TailCounts(
      afterSpanDedup: Long, afterFilters: Long, afterLmFilter: Long,
      afterDecontam: Long, afterCap: Long, afterMix: Long, nPacks: Long)

  /** Stages 2b-6 of [[curate]] — everything downstream of document-level
    * dedup. Split out so [[IncrementalCuration]] can run the identical
    * tail over its incrementally-deduplicated survivor snapshot: the tail
    * stages (span dedup, filters, decontamination, caps, mixing, packing)
    * are global functions of the survivor set, so batch and incremental
    * curation share them by construction. `outCols` is the caller's
    * document column set (the stages are shape-preserving). */
  private[ext] def curateTail(outCols: Seq[String], nearUnique: DataFrame,
      cfg: CurationConfig,
      benchmark: Option[DataFrame]): (DataFrame, TailCounts) = {

    // 2b. optional C4-style span dedup: repeated boilerplate spans vanish
    // corpus-wide (keep-first), documents rebuilt from survivors; docs left
    // EMPTY by the scrub drop here (they carry no trainable text). Runs
    // after doc-level dedup — the span election then never pays for clone
    // documents — and before the filters, so quality/language scores see
    // the boilerplate-free text they'll actually train on. NULL-text docs
    // pass through (the filters own that drop).
    val boilerplateFree = cfg.spanDedupTokens match {
      case Some(k) =>
        val rebuilt = TextOps.dedupSpans(nearUnique, k)
          .filter(col("cleaned_text").isNull || col("cleaned_text") =!= "")
          .select(col("doc_id"), col("cleaned_text"))
        nearUnique.drop("text")
          .join(rebuilt, Seq("doc_id"))
          .withColumnRenamed("cleaned_text", "text")
          .select(outCols.map(col): _*)
          .materialized
      case None => nearUnique
    }

    // 3. quality + language filters (regex-heavy scoring: checkpoint so the
    // mix/pack stages and the report each read it once)
    val filtered = TextOps.withQualityScore(TextOps.withLangId(boilerplateFree))
      .filter(col("detected_lang").isin(cfg.langs.toSeq: _*) &&
        col("quality_score") >= cfg.minQuality)
      .select(outCols.map(col): _*)
      .materialized

    // 3b. optional unigram-LM surprise filter (CCNet-style): the LM is the
    // filter survivors' OWN unigram distribution — no external model
    // artifact — and a doc whose mean token surprise exceeds the ceiling
    // is dropped as out-of-distribution noise. Runs after the heuristic
    // filters so the LM trains on already-plausible text.
    val lmFiltered = cfg.maxSurprise match {
      case Some(ceiling) =>
        TextOps.withUnigramLogProb(filtered)
          .filter(col("avg_neg_logprob") <= ceiling)
          .select(outCols.map(col): _*)
          .materialized
      case None => filtered
    }

    // 4. benchmark decontamination: drop filter survivors sharing an
    // n-gram with the held-out eval set. Runs AFTER redaction (both sides
    // hash normalized text) and BEFORE mixing, so a leak can never ride a
    // stride into the training mix. The contamination report's shuffles
    // carry 8-byte n-gram hashes, never n-gram strings (see Decontaminate);
    // the anti-join itself is a doc_id semi-structure — payload-free.
    val decontaminated = benchmark match {
      case Some(bench) =>
        val contaminated = Decontaminate.contamination(
          lmFiltered, if (cfg.redact) TextOps.redact(bench) else bench,
          cfg.decontamNgram).select(col("doc_id"))
        lmFiltered.join(contaminated, Seq("doc_id"), "left_anti")
          .materialized
      case None => lmFiltered
    }

    // 4b. optional per-source cap: keep the k best-quality docs of each
    // source via the bounded top_k_by aggregate — each map partition
    // reduces to <= k (score, id) pairs per source before the shuffle, so
    // there is NO per-source window sort (functions/TopKByScore); the
    // survivors come back by payload-free doc_id semi-join. Runs after
    // decontamination so caps fill with clean documents.
    val capped = cfg.perSourceCap match {
      case Some(cap) =>
        val best = graft.functions.GraftFunctions.topKBy(
            TextOps.withQualityScore(decontaminated)
              .withColumn("__q", graft.ops.Num.cround(col("quality_score"), 6))
              .groupBy("source"), col("__q"), col("doc_id"), cap)
          .select(col("id").as("doc_id"))
        decontaminated.join(best, Seq("doc_id"), "left_semi")
          .materialized
      case None => decontaminated
    }

    // 5. source mixing, 6. packing (1:1 with the mixed survivors).
    // Checkpoint between them: each sharded prefix sum reads its input
    // from two branches (local cumsum + shard totals), so an unbroken
    // mix->pack lineage would recompute the mix join four times.
    val mixed = (cfg.mixTemperature match {
      case Some(tau) => TextOps.temperatureMix(capped, "source", tau)
      case None => TextOps.sourceMix(capped, cfg.sourceStrides)
    }).materialized
    val packed = TextOps.packSequences(mixed, cfg.packBudgetTokens)
      .materialized

    (packed, TailCounts(
      afterSpanDedup = boilerplateFree.count(),
      afterFilters = filtered.count(),
      afterLmFilter = lmFiltered.count(),
      afterDecontam = decontaminated.count(),
      afterCap = capped.count(),
      afterMix = packed.count(), // packing is row-preserving
      nPacks = packed.select("source", "pack_id").distinct().count()))
  }
}
