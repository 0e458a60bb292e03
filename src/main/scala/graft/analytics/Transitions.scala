package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.{Materialize, Num}

/** First-order Markov transition matrix over an event stream: for each
  * user's event sequence in event-time order, count (prev_type ->
  * event_type) transitions and derive the per-source-state transition
  * probability — the product-analytics "where do users go next" read,
  * and the input a path-recommendation / anomaly model trains on
  * (reference provenance: the reference has no event surface; this
  * extends the engine's events-table analytics next to [[Funnel]] /
  * [[Retention]]).
  *
  * Scale design (events is the 100 TB side):
  *   1. ONE user-keyed window pass computes each event's predecessor
  *      ([[Events.transitionCounts]]: lag over [[Events.byUser]] — event_id
  *      is the deterministic tiebreak for same-instant events).
  *      Per-user daily event streams are thousands of rows per key at
  *      most, so the per-partition sort is memory-resident; a dominant
  *      user degrades this window the same way it does ev1's, and the
  *      same salting escape applies if needed.
  *   2. Transition counting is a plain hash aggregate on (prev_type,
  *      event_type) — partial map-side combine reduces every partition
  *      to at most |event_types|^2 rows (tens), so the second exchange
  *      is matrix-sized, never event-sized.
  *   3. The probability denominator windows over the AGGREGATED matrix
  *      (per prev_type row sums — a handful of rows), never the events.
  *
  * p_transition is one exact-long division (bit-identical cross-engine;
  * rounded at 6 by convention).
  */
object Transitions {

  def eventTransitions(events: DataFrame): DataFrame = {
    val counts = Events.transitionCounts(events)
      .filter(col("prev_type").isNotNull)
      .withColumnRenamed("n", "n_transitions")
    val wState = Window.partitionBy("prev_type")
    counts
      .withColumn("n_from_state", sum("n_transitions").over(wState))
      .withColumn("p_transition",
        Num.cround(
          col("n_transitions").cast("double") / col("n_from_state"), 6))
  }

  /** Stationary distribution of a transition-count kernel — `iters` power
    * iterations of pi' = pi P over `(prev_type, event_type, n)` counts.
    * The kernel is (event types)² — a bounded constant — so the whole
    * iteration collapses to ONE row of arrays and chained higher-order-
    * function projections: one exchange, one stage, no per-iteration
    * scheduling (a join-per-iteration form measured 9 s at sf0.1 — all
    * stage overhead on 5-row frames; contrast g1_pagerank, which keeps
    * the distributed join form because a general graph is NOT bounded).
    * Cross-engine: per-state sums (<= n_states doubles, kernel-sorted
    * order) round tie-safe at 12 each iteration so order ulps can't
    * compound; the report rounds at 6. Shared verbatim by the batch ev20
    * query and its streaming twin (the streamed transition facts fold
    * into the same counts — StreamingSpec proves the composition). */
  def stationaryDistribution(counts: DataFrame, iters: Int = 20): DataFrame = {
    val m = counts
      .withColumn("p", col("n").cast("double") /
        sum("n").over(Window.partitionBy("prev_type")))
    val stateRow = m.select(col("prev_type").as("st"))
      .union(m.select(col("event_type"))).distinct()
      .agg(sort_array(collect_list(col("st"))).as("states"))
    val kernelRow = m.agg(sort_array(collect_list(struct(
      col("prev_type").as("src"), col("event_type").as("dst"),
      col("p").as("p")))).as("kernel"))
    val one = stateRow.crossJoin(broadcast(kernelRow))
      .withColumn("pi0",
        transform(col("states"), _ => lit(1.0) / size(col("states"))))
    val iterated = (1 to iters).foldLeft(one) { (df, t) =>
      df.withColumn(s"pi$t", transform(col("states"), v =>
        Num.cround(aggregate(
          filter(col("kernel"), e => e.getField("dst") === v),
          lit(0.0),
          (acc, e) => acc + element_at(col(s"pi${t - 1}"),
            array_position(col("states"), e.getField("src")).cast("int"))
            * e.getField("p")),
          12)))
    }
    iterated
      .select(col(s"pi$iters"),
        posexplode(col("states")).as(Seq("pos", "state")))
      .select(col("state"), Num.cround(
        element_at(col(s"pi$iters"), col("pos").cast("int") + 1), 6)
        .as("pi_stationary"))
      .orderBy("state")
  }

  /** Markov removal-effect attribution (Anderl et al. 2016's data-driven
    * attribution, finite-horizon form): model each user journey as the
    * first-order chain over event types with `convState` absorbing, score
    * the corpus's `horizon`-step conversion probability from the observed
    * first-event distribution, then re-score with each non-conversion
    * channel REMOVED (its visits become drop-out). A channel's removal
    * effect — how much conversion probability disappears without it — is
    * its attributed credit; shares normalize over the removable channels.
    * The finite horizon (20 steps, the ev20 convention) keeps the number
    * deterministic and the oracle unrollable — an exact absorbing-chain
    * solve would need data-dependent convergence depth that no round-12
    * lockstep can pin.
    *
    * Scale shape: the corpus reduces to [[Events.transitionCounts]], start
    * rows included — materialized once so the transition and start slices
    * don't recompute the window — plus one plain per-type count (the
    * drop-out denominators). Everything after is the ev20 in-row pattern:
    * the bounded scenario × state absorption matrix iterates inside
    * chained higher-order projections, one row, one stage. Round-12
    * lockstep per iteration; the report rounds at 6. */
  def removalAttribution(events: DataFrame, convState: String = "purchase",
                         horizon: Int = 20): DataFrame = {
    val seqAll = Materialize(Events.transitionCounts(events))
    removalAttributionFromFacts(
      seqAll.filter(col("prev_type").isNotNull),
      events.groupBy("event_type").agg(count(lit(1)).as("n_events")),
      seqAll.filter(col("prev_type").isNull)
        .select(col("event_type"), col("n").as("n_first")),
      convState, horizon)
  }

  /** The attribution tail over already-aggregated facts — shared verbatim
    * with the streaming twin (streamed transition facts, per-type counts,
    * and per-user first events fold to exactly these frames):
    * `trans` (prev_type, event_type, n), `totals` (event_type, n_events),
    * `starts` (event_type, n_first). T(s, t) = n / n_events(s) leaves the
    * per-state drop-out mass implicit (sequence ends never transition);
    * transitions OUT of `convState` are discarded (absorbing). */
  def removalAttributionFromFacts(trans: DataFrame, totals: DataFrame,
      starts: DataFrame, convState: String = "purchase",
      horizon: Int = 20): DataFrame = {
    require(horizon >= 1, "horizon must be >= 1")
    val conv = lit(convState)
    val m = trans.filter(col("prev_type") =!= conv)
      .join(totals.withColumnRenamed("event_type", "prev_type")
        .withColumnRenamed("n_events", "tot"), "prev_type")
      .select(col("prev_type").as("src"), col("event_type").as("dst"),
        (col("n").cast("double") / col("tot")).as("p"))
    val statesRow = totals.agg(
      sort_array(collect_list(col("event_type"))).as("states"))
    val kernelRow = m.agg(sort_array(collect_list(struct(
      col("src"), col("dst"), col("p")))).as("kernel"))
    val startRow = starts.agg(
      sort_array(collect_list(struct(col("event_type").as("st"),
        col("n_first").as("nf")))).as("starts_arr"),
      sum("n_first").as("n_users"))
    val one = statesRow.crossJoin(broadcast(kernelRow))
      .crossJoin(broadcast(startRow))
      .withColumn("scens", concat(array(lit("__full")),
        filter(col("states"), s => s =!= conv)))
      .withColumn("a0", transform(col("scens"), _ =>
        transform(col("states"), s =>
          when(s === conv, lit(1.0)).otherwise(lit(0.0)))))
    // A_t(scenario r, state s): 1 at the absorbing state, 0 at the removed
    // state, else the kernel-weighted pull from A_{t-1} — rounded 12 so
    // cross-engine summation order can't compound (the ev20 contract)
    val iterated = (1 to horizon).foldLeft(one) { (df, t) =>
      df.withColumn(s"a$t", transform(col("scens"), (r, ri) =>
        transform(col("states"), s =>
          when(s === conv, lit(1.0))
            .when(s === r, lit(0.0))
            .otherwise(Num.cround(aggregate(
              filter(col("kernel"), e => e.getField("src") === s),
              lit(0.0),
              (acc, e) => acc + e.getField("p") * element_at(
                element_at(col(s"a${t - 1}"), ri + 1),
                array_position(col("states"), e.getField("dst"))
                  .cast("int"))),
              12)))))
    }
    val scored = iterated
      .withColumn("pconv", transform(col("scens"), (_, ri) =>
        Num.cround(aggregate(col("starts_arr"), lit(0.0),
          (acc, st) => acc + (st.getField("nf").cast("double")
            / col("n_users")) * element_at(
              element_at(col(s"a$horizon"), ri + 1),
              array_position(col("states"), st.getField("st")).cast("int"))),
          12)))
      .withColumn("pf", element_at(col("pconv"), 1))
      .withColumn("re_total", Num.cround(aggregate(
        slice(col("pconv"), lit(2), size(col("pconv")) - 1), lit(0.0),
        (acc, x) => acc + (col("pf") - x)), 12))
    scored
      .select(col("pf"), col("pconv"), col("re_total"),
        posexplode(col("scens")).as(Seq("pos", "event_type")))
      .filter(col("pos") >= 1)
      .select(col("event_type"),
        Num.cround(col("pf"), 6).as("p_convert"),
        Num.cround(element_at(col("pconv"), col("pos") + 1), 6)
          .as("p_removed"),
        Num.cround(col("pf") - element_at(col("pconv"), col("pos") + 1), 6)
          .as("removal_effect"),
        // <= 0, not == 0: with zero conversions every rounded term is the
        // cround epsilon (-1e-9), so the total lands just BELOW zero —
        // and effects are non-negative, so a non-positive total always
        // means "no signal to share"
        when(col("re_total") <= 0, lit(null).cast("double"))
          .otherwise(Num.cround(
            (col("pf") - element_at(col("pconv"), col("pos") + 1))
              / col("re_total"), 6)).as("attribution_share"))
      .orderBy("event_type")
  }
}
