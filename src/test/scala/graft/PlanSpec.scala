package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale properties ARCHITECTURE.md
  * claims must stay visible in the executed plan. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    Queries.all(name)(spark, dir).queryExecution.executedPlan.toString

  test("pipeline derives all features over a single symbol exchange") {
    val p = plan("pipeline_features")
    val symbolExchanges = "hashpartitioning\\(symbol".r.findAllIn(p).length
    assert(symbolExchanges == 1,
      s"expected exactly one symbol hash exchange, got $symbolExchanges")
  }

  test("the observed quality checks ride the feature windows' exchange and sort") {
    // the uniqueness check's lag uses Derive's (symbol) partitioning and
    // (symbol, date) order, so observing the suite adds no shuffle or sort
    import org.apache.spark.sql.functions.col
    val features = graft.ops.Derive.addDerived(graft.ops.Cleaning.clean(
      graft.io.Sources.stockFromLineitem(spark, dir), col("rid")).drop("rid"))
    val observed = graft.quality.Expectations.observe(features).frame
    def count(df: org.apache.spark.sql.DataFrame, node: String): Int =
      node.r.findAllIn(df.queryExecution.executedPlan.toString).length
    for (node <- Seq("Exchange ", "Sort \\["))
      assert(count(observed, node) == count(features, node),
        s"$node:\n${observed.queryExecution.executedPlan}")
    assert(count(observed, "CollectMetrics") == 1)
  }

  test("dimension joins broadcast the small side") {
    val p = plan("j1_join_dims")
    assert(p.contains("BroadcastHashJoin"), "nation/region should broadcast")
  }

  test("sort+limit plans as top-k, not a full sort") {
    val p = plan("o3_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), "LIMIT should become top-k")
  }

  test("keyset pagination is top-k over the cursor filter — no global sort") {
    val p = plan("o8_keyset_page")
    assert(p.contains("TakeOrderedAndProject"),
      "keyset page should be per-partition top-k + driver merge")
    assert(!p.contains("Exchange rangepartitioning"),
      s"keyset page must not globally sort:\n$p")
  }

  test("narrow projection prunes the parquet read schema") {
    val p = Queries.all("u2_distinct")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<l_partkey:bigint>"),
      "distinct symbols should read only l_partkey")
  }

  test("brute-force ANN broadcasts the query side (corpus is never shuffled)") {
    val p = plan("sim1_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
  }

  test("sketch scale paths join on band/bucket/list keys — never all-pairs") {
    // d2/sim2/sim3 are the 100 TB paths: their joins must key on the
    // band/bucket/list equality, not degenerate into a cartesian or a
    // nested-loop over the full corpus (the quarantined quadratic paths
    // d4/d5/sim1 are sample- or broadcast-bounded by design).
    for (name <- Seq("d2_minhash_lsh", "sim2_lsh_topk", "sim3_ivf_topk")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      // The only tolerated nested-loop is the deliberate broadcast-cross of
      // the tiny constant table (8x64 hyperplanes / 16 IVF anchors) against
      // the corpus — linear, one pass. An Inner/Semi nested loop would mean
      // the candidate join itself degenerated to all-pairs.
      val badBnlj = p.linesIterator
        .filter(_.contains("BroadcastNestedLoopJoin"))
        .filterNot(_.contains("Cross")).toSeq
      assert(badBnlj.isEmpty, s"$name plans a non-cross nested-loop join: $badBnlj")
      assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
        || p.contains("ShuffledHashJoin"),
        s"$name's candidate join must key on band/bucket/list")
    }
  }

  test("packing and mixing shard the per-source prefix sum — no " +
    "source-only window over the fact rows") {
    for (name <- Seq("t6_pack_sequences", "t7_source_mix")) {
      val p = plan(name)
      // The fact-row cumsum must partition on (source, __shard) — many
      // concurrent tasks per source — never on source alone, which at
      // 100 TB is one task per source.
      assert("hashpartitioning\\(source[#0-9L]*, __shard".r.findFirstIn(p).isDefined,
        s"$name: fact rows must hash on (source, __shard)")
      // The only source-only exchange allowed is the one under the TINY
      // shard-totals window (numDocs/shardBlock rows). The fact-row side
      // must not re-appear under a source-only partitioning, which we
      // detect by the token-size/text expressions never sharing a
      // hashpartitioning(source) subtree: cheap proxy — exactly one
      // source-only exchange in the whole plan.
      val sourceOnly = "hashpartitioning\\(source[#0-9L]*, \\d+\\)".r
        .findAllIn(p).length
      assert(sourceOnly == 1,
        s"$name: expected exactly one source-only exchange (the tiny " +
          s"offsets window), got $sourceOnly")
    }
    // t17 runs the same machinery over the lang grouping, plus a broadcast
    // stride join — the strides must NOT arrive via a shuffled join
    val p17 = plan("t17_temp_mix")
    assert("hashpartitioning\\(lang[#0-9L]*, __shard".r.findFirstIn(p17).isDefined,
      "t17: fact rows must hash on (lang, __shard)")
    assert(p17.contains("BroadcastHashJoin"),
      "t17: the per-group stride table must broadcast")
  }

  test("d9 semantic pairs: within-list self-join keys on list_id, no cartesian") {
    // The full d9 query checkpoints its cluster iterations (truncating the
    // visible plan), so audit the candidate-pair half directly: the one
    // corpus-wide exchange of vectors must be keyed on list_id (the IVF
    // list is the partition bound for the quadratic-per-list step), the
    // self-join must be an equi-join on it, and nothing may degenerate to
    // an all-pairs nested loop.
    val df = ext.Similarity.semanticPairs(
      io.Sources.embeddings(spark, dir), ext.Similarity.ivfAnchors(spark))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // The assignment step DOES plan a BroadcastNestedLoopJoin — that's the
    // tiny fixed anchor table broadcast against every vector (a k-row
    // build side, by design). The corpus-vs-corpus step must not.
    assert(!p.contains("CartesianProduct"),
      "d9 pair generation degenerated into a cartesian")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "d9: the within-list self-join must be an equi-join")
    assert("Left keys \\[1\\]: \\[list_id".r.findFirstIn(p).isDefined,
      "d9: the self-join must key on list_id alone")
    assert("hashpartitioning\\(list_id".r.findFirstIn(p).isDefined,
      "d9: vectors must exchange on list_id before the within-list self-join")
  }

  test("exact dedup winner election never shuffles document payloads") {
    // curate step 1: the digest exchange must carry (digest, doc_id) only
    // — full text riding a shuffle keyed on md5(text) is the 100 TB
    // payload-bytes-through-the-wire defect the semi-join form removes.
    val df = ext.Dedup.keepFirstPerDigest(io.Sources.documents(spark, dir))
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val digestExchange =
      """Exchange\nInput \[\d+\]: \[([^\]]+)\]\nArguments: hashpartitioning\(__digest""".r
    val inputs = digestExchange.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(inputs.nonEmpty, s"no digest exchange found in plan:\n$p")
    inputs.foreach { cols =>
      assert(!cols.contains("text"),
        s"digest exchange carries document payloads: [$cols]")
    }
  }

  test("temporal joins never plan a nested loop or cartesian") {
    // j5 (as-of) must be window-only — the whole point of the union-and-
    // window form is that NO join node touches the bar/mark timelines.
    val asof = plan("j5_asof_join")
    assert(!asof.contains("CartesianProduct") &&
      !asof.contains("BroadcastNestedLoopJoin"),
      "as-of join degenerated into a theta join")
    assert(asof.contains("RunningWindowFunction") || asof.contains("Window"),
      "as-of join should be planned as a window over the union")
    // j6 (range) must equi-join on the time bucket.
    val rng = plan("j6_range_join")
    assert(!rng.contains("CartesianProduct") &&
      !rng.contains("BroadcastNestedLoopJoin"),
      "range join degenerated into a cartesian")
    assert(rng.contains("BroadcastHashJoin") || rng.contains("SortMergeJoin")
      || rng.contains("ShuffledHashJoin"),
      "range join must key on the time bucket")
  }

  test("per-source top-k aggregates partially before the shuffle — no window sort") {
    val p = plan("t14_best_src")
    // the bounded aggregate must plan as partial -> exchange -> final
    // ObjectHashAggregate; a Window node would mean the per-source
    // row_number sort crept back in (the single-reducer trap t14 exists
    // to avoid)
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "top_k_by should plan two-level ObjectHashAggregate")
    assert(!p.contains("Window"), "t14 must not plan a per-source window sort")

    // t18 rides the same bounded aggregate for its per-stratum bottom-k
    val p18 = plan("t18_strat_sample")
    assert("ObjectHashAggregate".r.findAllIn(p18).length >= 2,
      "t18: bottom-k-by-hash should plan two-level ObjectHashAggregate")
    assert(!p18.contains("Window"),
      "t18 must not plan a per-stratum window sort")
  }

  test("prefix rerank: corpus-wide stage is a bounded aggregate, stage 2 broadcasts the shortlist") {
    val p = plan("sim5_prefix_rerank")
    // stage 1: per-query shortlist via top_k_by — partial aggregation, no
    // per-query window over the corpus-sized candidate set
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "sim5: shortlist selection should plan two-level ObjectHashAggregate")
    // stage 2: shortlist and query vectors broadcast back against the
    // corpus — the corpus itself never shuffles
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 2,
      "sim5: shortlist + query-vector joins must broadcast")
    // the only Window node is the final rank over n_queries x shortlist
    // rows ("Window [" matches the node itself, not the WindowGroupLimit
    // rank-pushdown pair Spark adds around it)
    assert("Window \\[".r.findAllIn(p).length <= 1,
      "sim5: only the bounded final-rank window is allowed")
  }

  test("PQ rerank: ADC proposes via bounded aggregate, rerank broadcasts the shortlist") {
    val p = plan("sim9_pq_rerank")
    assert(!p.contains("CartesianProduct"), "sim9 plans a cartesian product")
    // the only tolerated nested loops are the deliberate broadcast-crosses
    // CONSTRUCTING the tiny 8x16x8 codebook table (range x range x range,
    // 1024 constant rows); every data join is keyed (codebook s/d, ADC
    // s/code, shortlist vec_id/query_id) and must not degenerate
    val badBnlj = p.linesIterator
      .filter(_.contains("BroadcastNestedLoopJoin"))
      .filterNot(_.contains("Cross")).toSeq
    assert(badBnlj.isEmpty, s"sim9 plans a non-cross nested-loop join: $badBnlj")
    // ADC shortlist via top_k_by: two-level ObjectHashAggregate, so every
    // map partition ships <= shortlist pairs per query before the shuffle
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      "sim9: ADC proposal should plan two-level ObjectHashAggregate")
    // codebook, ADC tables, shortlist and query vectors all broadcast —
    // the corpus side never shuffles for the rerank
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      "sim9: codebook/ADC/shortlist/query joins must broadcast")
    // the only Window node is the final rank over n_queries x shortlist
    assert("Window \\[".r.findAllIn(p).length <= 1,
      "sim9: only the bounded final-rank window is allowed")
    // sim10's IVF sibling: the corpus-sized codes ⋈ assignment join of
    // ivfPqTopK keeps its shuffle-hash hint through AQE's re-planning,
    // hashing the one-row-per-vector assignment; neither side broadcasts
    val ivf = Queries.all("sim10_ivfpq_rerank")(spark, dir)
    ivf.write.format("noop").mode("overwrite").save()
    val finalPlan = ivf.queryExecution.executedPlan.toString
    assert("ShuffledHashJoin \\[vec_id#\\d+L?\\], \\[vec_id#\\d+L?\\], Inner, BuildRight"
      .r.findFirstIn(finalPlan).isDefined,
      s"sim10: codes ⋈ assignment is not the hinted shuffle-hash join:\n$finalPlan")
  }

  test("funnel runs every stage over one user_id exchange") {
    val p = plan("ev1_funnel")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"expected exactly one user_id hash exchange, got $userExchanges")
  }

  test("phash pair join stays a (band, value) equi-join — never a cartesian") {
    val p = plan("m2_phash_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "pigeonhole candidate join degenerated into all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "candidate join must key on (band, value)")
  }

  test("span dedup: digest election aggregates, reassembly reuses the doc_id exchange") {
    val p = plan("t16_span_dedup")
    // no window over the span digest (hot boilerplate span = hot key; the
    // election must be the partial-aggregating min(struct), not row_number)
    assert(!p.contains("Window"), "span election must not plan a window sort")
    // the text-carrying side shuffles on doc_id exactly once for the join;
    // the final reassembly groupBy(doc_id) must REUSE it, not add another
    val docExchanges = "hashpartitioning\\(doc_id".r.findAllIn(p).length
    assert(docExchanges <= 2,
      s"expected <= 2 doc_id exchanges (join sides only), got $docExchanges:\n$p")
  }

  test("KMV sketch aggregates partially before the shuffle") {
    // the sketch side must plan partial -> exchange -> final
    // ObjectHashAggregate so each map partition ships <= k longs per
    // group (the exact count-distinct side's Expand is the contrast the
    // query exists to demonstrate — it is allowed)
    val p = plan("a14_kmv_distinct")
    assert("ObjectHashAggregate".r.findAllIn(p).length >= 2,
      s"kmv_sketch should plan two-level ObjectHashAggregate:\n$p")
  }

  test("PII redaction is a pure row-wise scan — no shuffle, text pruned to need") {
    val p = plan("t20_pii_redact")
    // the only exchange is the final ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"PII pass must not hash-shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      "PII pass must stay a linear scan")
  }

  test("unicode normalization is a pure row-wise scan — no shuffle") {
    val p = plan("t21_normalize")
    // the only exchange is the final ORDER BY's range partitioning
    assert(!p.contains("Exchange hashpartitioning"),
      s"normalization must not hash-shuffle:\n$p")
    assert(!p.contains("Window") && !p.contains("Join"),
      "normalization must stay a linear scan")
  }

  test("retention: user aggregate then cohort aggregate, no count-distinct Expand") {
    val p = plan("ev5_retention")
    assert(!p.contains("Expand"),
      "retention must not plan a count-distinct Expand (the per-user set " +
        "already dedups weeks)")
    // exactly two hash exchanges: user_id, then (cohort_week, week_offset);
    // the window over the aggregated frame adds only its tiny partitioning
    val hashEx = "Exchange hashpartitioning\\(".r.findAllIn(p).length
    assert(hashEx <= 3, s"retention plans $hashEx hash exchanges:\n$p")
  }

  test("RSI shares one window sort per symbol across all frame aggregates") {
    val p = plan("w12_rsi")
    val symbolExchanges = "hashpartitioning\\(symbol".r.findAllIn(p).length
    assert(symbolExchanges == 1,
      s"expected exactly one symbol hash exchange, got $symbolExchanges:\n$p")
  }

  test("MACD's three FIR passes share one symbol exchange") {
    // ema12/ema26 and the signal's second Window use the identical
    // partitioning+ordering — a second symbol shuffle would mean the
    // signal pass lost the existing distribution
    val p = plan("w14_macd")
    val symbolExchanges = "hashpartitioning\\(symbol".r.findAllIn(p).length
    assert(symbolExchanges == 1,
      s"expected exactly one symbol hash exchange, got $symbolExchanges:\n$p")
  }

  test("ranking family: both window specs ride one symbol exchange; streaks too") {
    // x13's tie-keeping and tie-broken windows share the partition key, so
    // a single symbol hash exchange must feed both sorts; w19's three
    // windows + the run group-by likewise reuse one symbol distribution
    // (the run aggregate keys on (symbol, grp) but arrives pre-clustered).
    for (name <- Seq("x13_ranks", "w19_streaks")) {
      val p = plan(name)
      val symbolExchanges = "hashpartitioning\\(symbol".r.findAllIn(p).length
      assert(symbolExchanges == 1,
        s"$name: expected exactly one symbol hash exchange, got $symbolExchanges:\n$p")
    }
  }

  test("collocations: PMI joins broadcast the k-row shortlist, never shuffle the unigram table") {
    val p = plan("t27_collocations")
    // the two unigram-enrichment joins and the totals crosses must all be
    // broadcasts — a SortMergeJoin would mean a corpus-derived table
    // shuffled for a 20-row enrichment
    assert(!p.contains("SortMergeJoin"),
      s"t27 must not shuffle-join the unigram table:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"t27 shortlist joins should broadcast:\n$p")
  }

  test("forward as-of joins plan one key exchange + sort, no theta join") {
    val p = plan("j9_asof_forward")
    assert(!p.contains("CartesianProduct") &&
      !p.linesIterator.exists(l => l.contains("BroadcastNestedLoopJoin") && !l.contains("Cross")),
      s"forward as-of must stay a union+window, not a theta join:\n$p")
    val symbolExchanges = "hashpartitioning\\(symbol".r.findAllIn(p).length
    assert(symbolExchanges <= 2, // marks aggregate + the union window
      s"expected at most two symbol exchanges, got $symbolExchanges:\n$p")
  }

  test("nearest as-of fuses both directions over ONE union-window exchange") {
    val p = plan("j10_asof_nearest")
    assert(!p.contains("CartesianProduct") &&
      !p.linesIterator.exists(l => l.contains("BroadcastNestedLoopJoin") && !l.contains("Cross")),
      s"nearest as-of must stay a union+window, not a theta join:\n$p")
    // the fused form's contract: composing backward+forward would cost a
    // THIRD symbol exchange (two union-windows); the fused plan has the
    // marks aggregate + exactly one union-window exchange, with the second
    // direction satisfied by an in-partition re-sort
    val symbolExchanges = "hashpartitioning\\(symbol".r.findAllIn(p).length
    assert(symbolExchanges <= 2,
      s"expected at most two symbol exchanges (marks agg + ONE union window), got $symbolExchanges:\n$p")
  }

  test("runtime bloom filter injects into the fact scan under a selective dim join") {
    // At production scale Spark's runtime row-level bloom filter
    // (spark.sql.optimizer.runtime.bloomFilter.*, enabled by default)
    // builds a bloom filter from a shuffle join's selective build side and
    // injects might_contain() into the fact side BEFORE the shuffle — the
    // biggest scan/shuffle saver for a fact-dim join at 100 TB. Its default
    // thresholds (10 GB application-side scan) deliberately never fire at
    // test-corpus size, so this test zeroes the threshold to prove the
    // engine's join shapes qualify for injection (equi shuffle join,
    // selective creation side) and pins that against regression — at the
    // real scale the defaults self-activate on exactly these plans.
    val s2 = spark.newSession()
    assert(s2.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true",
      "runtime bloom filtering must stay enabled")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    val li = s2.read.parquet(s"$dir/lineitem.parquet")
    val o = s2.read.parquet(s"$dir/orders.parquet")
      .filter("o_orderpriority = '1-URGENT'")
    val j = li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority").count()
    val phys = j.queryExecution.executedPlan.toString
    assert(phys.contains("might_contain"),
      s"runtime bloom filter did not inject into the fact side:\n$phys")
  }

  test("session paths: all window passes and the session aggregate share one user exchange") {
    // lag, session-sum, in-session rank, and the path aggregate all
    // cluster on user_id (the (user_id, session_seq) requirements are
    // satisfied by hash(user_id) via the subset rule) — a second
    // user-keyed exchange would mean one of them lost the distribution
    val p = plan("ev7_session_paths")
    val userExchanges = "hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"expected exactly one user_id hash exchange, got $userExchanges:\n$p")
  }

  test("quantization round trip is a pure projection — zero exchanges") {
    // quantize/dequantize/normalize are per-row array math; any Exchange
    // here would mean a stray shuffle crept into the ingest-path transform
    // (the oracle ORDER BY's rangepartitioning exchange is expected; a
    // HASH exchange would be the stray shuffle)
    val p = plan("sim4_quantize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"per-row quantization must not shuffle:\n$p")
  }

  test("interpolation brackets ride one symbol exchange — no UnboundedFollowing frame") {
    // x15's next-known bracket uses a DESCENDING running frame on the same
    // symbol key; a [current, unbounded following] frame would recompute
    // the aggregate per row — O(rows^2) per partition, measured 55 s at
    // sf0.1 (scaladoc on x15Interpolate). The spine join adds its own
    // (symbol, date) exchange; the WINDOW side must stay on one symbol key.
    val p = plan("x15_interpolate")
    assert(!p.contains("unboundedfollowing$()"),
      s"x15 must not plan an UnboundedFollowing window frame:\n$p")
    // the filtered frame feeds the spine aggregate AND the join probe (two
    // branches of a 1/97-filtered input — both cheap); the four bracket
    // windows themselves must add NO exchange beyond those two
    val symbolOnly = "hashpartitioning\\(symbol#\\d+, ".r.findAllIn(p).length
    assert(symbolOnly <= 2,
      s"x15's bracket windows must not add symbol exchanges (saw $symbolOnly):\n$p")
  }

  test("MMR greedy is two collect exchanges — no per-step shuffle") {
    // sim19's greedy runs inside one aggregate() HOF after the cands/sims
    // collect_list aggregates; a join-per-step regression would re-add
    // 2 exchanges per greedy step (8+ for k=5, measured 5.5-10 s of pure
    // stage overhead at sf0.1).
    val p = plan("sim19_mmr")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4,
      s"sim19 must keep the greedy inside one expression (saw $exchanges hash exchanges):\n$p")
  }

  test("pagerank's corpus-sized work is one edge aggregate; iterations broadcast") {
    // g1: the document scan reduces to (src, dst) counts in ONE exchange;
    // every per-iteration join must broadcast (the vectors are
    // node-count-sized) — a shuffle join in the loop means the constant
    // -cost iteration started scaling with something.
    // the (src, dst) edge aggregate itself runs inside Materialize's cut
    // (the final plan scans its ExistingRDD), so the pin here is on the
    // iteration shape: bounded-size vectors must broadcast-join, never
    // sort-merge, and nothing may cartesian.
    val p = plan("g1_pagerank")
    assert(p.contains("Scan ExistingRDD"),
      s"g1's edges must be materialized once, not rescanned:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"g1's bounded-graph iterations must broadcast, never sort-merge:\n$p")
  }

  test("connected components: corpus distilled once, label rounds broadcast") {
    // g3: the rounds run eagerly while the frame is built, each one
    // checkpoint with the node-count-sized label frame broadcast into it;
    // the final plan reads the last round's checkpoint (ExistingRDD) and
    // sizes the components with a window: no documents rescan, no
    // sort-merge, no cartesian.
    val p = plan("g3_components")
    assert(p.contains("Scan ExistingRDD"),
      s"g3 must read its last round's checkpoint:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"g3's bounded-graph plan must never sort-merge or cartesian:\n$p")
    assert(!p.contains("documents"),
      s"g3's final plan must not rescan the corpus:\n$p")
  }

  test("g3_components: job budget, and the rounds stop at the fixpoint") {
    // each residue class of the planted host graph is a complete graph, so
    // round 1 labels every host and round 2 changes nothing: one checkpoint
    // for the edge set plus one per round
    val r = Profile.run(spark) {
      Queries.all("g3_components")(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    assert(r.jobs <= 15, s"g3_components ran ${r.jobs} Spark jobs")
    assert(r.checkpoints == 3, s"expected the edge set + 2 rounds, saw ${r.checkpoints} checkpoints")
  }

  test("HITS: distinct edges materialized once, reinforcement rounds broadcast") {
    // g4: same contract; the per-half L1 normalization additionally runs
    // as ONE global window over the bounded node frame (a total-aggregate
    // cross join would double the logical plan per half-round).
    val p = plan("g4_hits")
    assert(p.contains("Scan ExistingRDD"),
      s"g4's edges must be materialized once, not rescanned:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"g4's bounded-graph rounds must broadcast, never sort-merge:\n$p")
  }

  test("BPE pair counts explode the vocabulary, never the corpus") {
    // t34: the corpus reduces through ONE word-count aggregate; both pair
    // explodes run downstream of that aggregate (over the distinct
    // vocabulary), and the top-30 is a bounded TakeOrdered.
    val p = plan("t34_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      s"t34 top-30 should plan as top-k:\n$p")
    // corpus -> word counts (1) -> pair counts (2) + vocab doc-freq (3)
    // -> pair join (4): anything beyond says a corpus-sized explode or an
    // Expand crept in
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 4,
      s"t34 is one corpus aggregate + vocab-sized work (saw $exchanges):\n$p")
    assert(!p.contains("Expand"),
      s"t34 must not count-distinct via Expand:\n$p")
  }

  test("BPE training rounds run on the checkpointed vocab frame — no corpus re-scan") {
    // t35: the corpus pays its one word-count aggregate inside the first
    // Materialize; every subsequent round's pair count builds from the
    // checkpointed vocabulary RDD. Pin round 2's shape: its plan must not
    // scan the documents parquet, and its only hash exchange is the pair
    // aggregate (the top-1 is a TakeOrdered, not a full sort).
    import org.apache.spark.sql.functions._
    val v0 = graft.ext.TextOps.bpeVocab(graft.io.Sources.documents(spark, dir))
    val round = graft.ext.TextOps.bpePairCounts(v0)
      .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
      .limit(1)
    val p = round.queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
      s"per-round BPE work must read the checkpointed vocab, not the corpus:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 1,
      s"a BPE round is one pair aggregate over the vocab (saw $exchanges):\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the per-round top pair should plan as top-1, not a full sort:\n$p")
  }

  test("audio header parse is a codegen'd row-wise scan — no hash exchange, no UDF") {
    // m5: the only exchange is the sort-first range partitioning; the
    // header parse itself is hex+conv projection work inside codegen —
    // a mapPartitions or hash exchange here means the declarative parse
    // regressed to an imperative one.
    val p = plan("m5_audio_meta")
    assert(!p.contains("Exchange hashpartitioning"),
      s"m5 must not shuffle on any key:\n$p")
    assert(!p.contains("MapPartitions") && !p.contains("BatchEvalPython"),
      s"m5's parse must stay declarative:\n$p")
    // everything above the one range exchange must be Project nodes (pure
    // row-wise, codegen-eligible) — the pre-execution AQE plan string has
    // no WholeStageCodegen spans to assert on, but a Filter/Aggregate/
    // SerializeFromObject here would mean the parse stopped being a scan
    assert(!p.contains("SerializeFromObject") && !p.contains("HashAggregate"),
      s"m5 must stay a pure projection over the scan:\n$p")
    // pruning pin on the TOP scan's column list: standalone that's the
    // pruned parquet FileScan; under the full suite another spec's
    // cache() of the documents relation substitutes an InMemoryTableScan
    // (whose INNER FileScan legitimately shows the cache's full 5-column
    // schema) — either way m5 itself must pull only (doc_id, text)
    val scanCols = "(?:InMemoryTableScan|FileScan parquet) \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(scanCols.contains("doc_id") && scanCols.contains("text") &&
      !scanCols.contains("n_chars") && !scanCols.contains("lang") &&
      !scanCols.contains("source"),
      s"m5 should prune its scan to (doc_id, text) — saw [$scanCols]:\n$p")
  }

  test("perceptron epoch is one map-side-combined aggregate over the feature frame") {
    // e7: per epoch the corpus-sized work is ONE hash aggregate (partial
    // + final = one exchange) over the checkpointed centered features
    // with the 1-row weight frame broadcast — no corpus window, no join
    // shuffle, no documents re-scan.
    import org.apache.spark.sql.functions._
    val feats = graft.ops.Materialize(
      graft.ext.TextOps.withQualityScore(
          graft.io.Sources.documents(spark, dir))
        .filter(col("text").isNotNull && col("text_len") > 0)
        .select(
          graft.ops.Num.cround(least(col("n_tokens").cast("double") / 100,
            lit(1.0)), 6).as("f1"),
          graft.ops.Num.cround(lit(1.0) - col("punct_ratio"), 6).as("f2"),
          graft.ops.Num.cround(least(col("stopword_ratio") * 5, lit(1.0)), 6)
            .as("f3"),
          when(graft.ops.Num.cround(col("quality_score"), 6) >= 0.5, lit(1.0))
            .otherwise(lit(-1.0)).as("y")))
    val w = graft.ops.Materialize(spark.range(1).select(
      lit(0.0).as("wb"), lit(0.0).as("w1"), lit(0.0).as("w2"),
      lit(0.0).as("w3")))
    val epoch = feats.crossJoin(broadcast(w))
      .withColumn("margin", col("wb") + col("w1") * col("f1")
        + col("w2") * col("f2") + col("w3") * col("f3"))
      .withColumn("miss", col("y") * col("margin") <= 0.0)
      .agg(count(lit(1)).as("n"),
        sum(when(col("miss"), lit(1L)).otherwise(lit(0L))).as("n_miss"))
    val p = epoch.queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet") && !p.contains("FileScan"),
      s"an epoch must read the checkpointed features, not the corpus:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 0,
      s"an epoch's aggregate reduces to one row — partial+final over the " +
        s"single-stage frame, no hash exchange needed (saw $exchanges):\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the weight frame should broadcast into the epoch scan:\n$p")
  }

  test("inter-arrival gaps: one corpus-sized exchange, then histogram-sized work") {
    // ev22: lag window on (user, type) is the only corpus exchange; the
    // histogram aggregate and the shared fold shuffle frames bounded by
    // types x distinct gap widths. A fourth exchange means the fold
    // stopped riding the histogram.
    val p = plan("ev22_interarrival")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3,
      s"ev22 is one lag window + two bounded aggregates (saw $exchanges):\n$p")
  }

  test("Keltner channels ride one symbol exchange for lag, FIR, rank, and ATR") {
    val p = plan("w23_keltner")
    val symbolExchanges = "hashpartitioning\\(symbol".r.findAllIn(p).length
    assert(symbolExchanges == 1,
      s"w23 expected exactly one symbol hash exchange, got $symbolExchanges:\n$p")
  }

  test("Gini reduces the corpus once; the rank runs over the entity frame") {
    val p = plan("a23_gini")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2,
      s"a23 is one symbol aggregate + bounded rank/total work (saw $exchanges):\n$p")
  }

  test("Markov attribution: one user window, matrix-sized work after") {
    // ev23: the lag window on user_id is the only corpus-sized pass (its
    // aggregate materializes — ExistingRDD); the absorption iterations
    // live inside projections over a one-row frame, so the executed plan
    // must show no joins at all and bounded exchanges.
    val p = plan("ev23_markov_attribution")
    assert(p.contains("Scan ExistingRDD"),
      s"ev23's lag aggregate must materialize once:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"ev23's bounded frames must broadcast, never sort-merge:\n$p")
  }

  test("RFM k-means: per-user aggregate once, k-row broadcast per pass, no user windows") {
    // ev24: the normalized feature frame materializes (ExistingRDD) and
    // each Lloyd pass is a k-row broadcast cross join + argmin aggregate —
    // a Window or sort-merge join here means assignment stopped being a
    // map-side pass over the cached features.
    val p = plan("ev24_rfm_segments")
    assert(p.contains("Scan ExistingRDD"),
      s"ev24's feature frame must be materialized once:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("Window.partitionBy"),
      s"ev24 must not window over users:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"ev24's centroid joins must broadcast:\n$p")
  }

  test("as-of joins never plan an unbounded-following frame") {
    // r14: Spark evaluates [current row, unbounded following] frames by
    // recomputing the aggregate per output row — O(rows²) per key
    // partition (the x15 lesson). asofForward / asofNearest express the
    // forward match as a running last(ignoreNulls) over the DESCENDING
    // order instead; an unboundedfollowing$() frame here means the
    // quadratic crept back.
    for (name <- Seq("j5_asof_join", "j9_asof_forward", "j10_asof_nearest")) {
      val p = plan(name)
      assert(!p.contains("unboundedfollowing$()"),
        s"$name plans an O(rows²) unbounded-following frame:\n$p")
    }
  }

  test("chi-square densifies inside one per-symbol aggregate — no joins") {
    // a17 (round 12): the (wd, up) level crossing and the marginal sums
    // run as higher-order functions over the collected ≤14-cell array.
    // The r10 form's two distinct()+join passes re-derived the corpus
    // aggregate three times and tripled the windows — a join or a
    // third hash exchange here means that shape crept back.
    val p = plan("a17_chi2")
    assert(!p.contains("Join"),
      s"a17 must densify in-row, never via joins:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 3,
      s"a17 is one symbol window + two aggregates (saw $exchanges hash exchanges):\n$p")
  }
}
