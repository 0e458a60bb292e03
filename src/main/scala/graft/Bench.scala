package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE compact JSON line for the driver.
  *
  * Methodology (round-2 verdict items):
  *   - Queries execute into the `noop` sink — unlike count(), that computes
  *     every output column (count() lets Catalyst prune unreferenced window /
  *     projection work, which would understate the real cost).
  *   - Each query runs ITERS times in interleaved passes (pass 1 runs every
  *     query once, then pass 2, ...) and the reported number is the per-query
  *     MEDIAN: rounds 1/2 proved single-shot numbers on this host swing up to
  *     54x on identical binaries (noisy-neighbor contention), and
  *     interleaving keeps one bad host window from poisoning all of a
  *     query's samples.
  *   - The JSON line is kept compact (2-decimal seconds) and printed LAST:
  *     the driver captures only a ~2000-char tail of stdout, and the
  *     round-1/2 full-precision line was longer than that — its head was
  *     truncated, so the driver recorded `parsed: null` both rounds.
  *     Full-precision per-iteration samples go to stderr instead.
  */
object Bench {
  private val ITERS = 3

  // Wall-clock budget: under heavy host contention one pass has taken up
  // to ~900 s; never start a pass that would push the total past the
  // budget (pass 1 always runs — every query needs >= 1 sample; median
  // handles variable sample counts).
  private val budgetSec = 1800.0

  // Tiered precision — ~2 significant figures: 1 decimal from 0.1 to
  // 10 s, whole seconds past 10, 2 decimals only below 0.1 s (so a 40 ms
  // query doesn't print as 0). Drift adjudication compares >=10% deltas,
  // so ~2 sig figs lose nothing that matters. Trailing zeros are stripped
  // ("0.60"->"0.6", "3.0"->"3") — pure JSON, no precision lie.
  // Locale.ROOT: String.format honors the JVM default locale, and a
  // comma-decimal locale would corrupt the JSON ("value":1,23).
  private[graft] def f2(v: Double): String = {
    val s = String.format(java.util.Locale.ROOT,
      if (v >= 10) "%.0f" else if (v >= 0.1) "%.1f" else "%.2f", Double.box(v))
    if (s.contains('.')) s.replaceAll("0+$", "").replaceAll("\\.$", "") else s
  }

  // Per-query JSON keys are the queries' UNIQUE id prefixes ("d4" =
  // d4_ngram_jaccard, "pipeline" = pipeline_features): the full-name map
  // outgrew the 2000-char stdout tail at 93 queries (1907 chars at 92,
  // plus ~74 chars of sbt [success] suffix, left no room to ever add a
  // query). Every full name begins with its prefix, so the mapping is
  // recoverable by inspection; SparkEntrySpec asserts the prefixes stay
  // unique, and the full names print with full precision on stderr each
  // pass.
  private[graft] def short(name: String): String = name.takeWhile(_ != '_')

  /** Fixed-work CPU calibration probe: a deterministic single-thread LCG
    * spin (~0.2 s on a quiet host) whose wall time exposes host
    * contention that in-VM load average cannot see (the hypervisor
    * de-schedules the whole VM during noisy-neighbor windows; /proc
    * accounting underreports it). Runs once per pass, outside every
    * query's timed region; the per-pass times go to stderr and the
    * MEDIAN rides the JSON line as "cal" so a contaminated run is
    * diagnosable instead of arguable (r13 verdict item #2). */
  private[graft] def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x = x * 6364136223846793005L + 1442695040888963407L; i += 1
    }
    if (x == 42L) System.err.print("") // keep the loop observable (no DCE)
    (System.nanoTime() - t0) / 1e9
  }

  private def renderQs(ms: Seq[(String, Double)], other: Option[Double]): String =
    (ms.map { case (k, v) => "\"" + short(k) + "\":" + f2(v) } ++
      other.map(o => "\"other\":" + f2(o))).mkString("{", ",", "}")

  /** The "queries" map for the JSON line, with the COVERAGE.md
    * "Bench JSON budget" compaction rule: once the full map would press
    * the driver's EXACTLY-2000-char stdout tail (sbt appends ~74 chars,
    * envelope ~100 more — so the map itself must stay ≤ ~1700), keep only
    * the SLOWEST 96 queries by median (ties by name — deterministic) plus
    * a terminal "other" = sum of the rest, so the total remains
    * reconstructible from the line alone. Failed queries (-1) always stay
    * in the map — a regression must never hide inside "other". Full
    * precision for EVERY query is on stderr each pass regardless, and
    * COVERAGE.md archives full tables per round. */
  private[graft] def queriesJson(medians: Seq[(String, Double)]): String = {
    val full = renderQs(medians, None)
    if (full.length <= 1700 || medians.size <= 96) full
    else {
      val keep = (medians.filter(_._2 < 0) ++
        medians.filter(_._2 >= 0).sortBy { case (k, v) => (-v, k) }.take(96))
        .sortBy(_._1)
      val keepSet = keep.map(_._1).toSet
      val other = medians.collect {
        case (k, v) if !keepSet(k) && v >= 0 => v
      }.sum
      System.err.println(
        s"[bench] compaction: ${medians.size} queries -> slowest 96 + other=${f2(other)}")
      renderQs(keep, Some(other))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession()
    // the per-query unpersist below triggers one benign WARN per freed
    // localCheckpoint RDD ("lineage has been truncated") — ~1000 lines per
    // pass that would drown the per-query timings on stderr
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD",
      org.apache.logging.log4j.Level.ERROR)

    /** elapsed seconds, or -1.0 if the query failed — a failure must not
      * masquerade as a (fast) success in the benchmark totals. */
    def run(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      // label every job with its query (guide §1.5) so UI/event-log reads
      // attribute stages correctly; timing is unchanged
      spark.sparkContext.setJobDescription(name)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
      } finally {
        spark.sparkContext.setJobDescription(null)
        // bound block-manager growth across the 227-query session (r13
        // verdict item #6): free the RDDs this query checkpointed or
        // persisted. Runs OUTSIDE the timed region (both nanoTime reads
        // are above), and nothing references the blocks once the noop
        // returned — the next pass rebuilds its frames from the parquet
        // inputs, so no cross-run reuse is lost (there was none).
        spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
          if (!before(id)) rdd.unpersist(blocking = false)
        }
      }
    }

    run("warmup", (s, d) => Queries.a1Count(s, d))

    // Optional subset run (comma-separated names) — the budget policy
    // requires every new query to land with a measured sf0.1 median, and
    // a full 3-pass sweep to measure 8 queries is wasted wall-clock. The
    // driver never sets this, so driver rounds always run the full map;
    // the scaling read (README) runs the same subset at two corpora.
    val queries = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .fold(SparkEntry.queries.toSeq)(SparkEntry.select).sortBy(_._1)
    val bench0 = System.nanoTime()
    def elapsedSec: Double = (System.nanoTime() - bench0) / 1e9
    val samples = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val cals = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastPassSec = 0.0
    var pass = 1
    while (pass <= ITERS &&
           (pass == 1 || elapsedSec + lastPassSec <= budgetSec)) {
      val p0 = elapsedSec
      cals += calibrate()
      System.err.println(f"[bench] pass=$pass calibration ${cals.last}%.3f s")
      samples += queries.map { case (name, fn) =>
        val t = run(name, fn)
        System.err.println(f"[bench] pass=$pass $name%-24s $t%.3f s")
        name -> t
      }
      lastPassSec = elapsedSec - p0
      pass += 1
    }
    if (samples.size < ITERS)
      System.err.println(s"[bench] budget ${budgetSec}s: stopped after ${samples.size} pass(es)")

    def median(xs: Seq[Double]): Double = {
      val ok = xs.filter(_ >= 0).sorted
      if (ok.isEmpty) -1.0 else ok(ok.size / 2)
    }

    val medians = queries.map { case (name, _) =>
      name -> median(samples.toSeq.map(_.toMap.apply(name)))
    }
    val failed = medians.collect { case (k, v) if v < 0 => "\"" + k + "\"" }
    val total = medians.map(_._2).filter(_ >= 0).sum
    val qs = queriesJson(medians)
    // ONE compact line, last on stdout (sbt appends ~74 chars of [success]).
    // iters = passes actually RUN — it appears only when the budget stopped
    // passes early (fewer than ITERS), which is exactly when claiming a
    // full median would pass single-shot noise off as one; the full count
    // is always on stderr. "failed" appears only when nonempty. Both are
    // tail-budget economies.
    val itersField =
      if (samples.size == ITERS) "" else s""","iters":${samples.size}"""
    val failedField =
      if (failed.isEmpty) "" else s""","failed":${failed.mkString("[", ",", "]")}"""
    val sfShort = sfDir.split('/').last
    System.err.println(s"[bench] passes=${samples.size} failed=${failed.size}")
    // contention diagnostics (r13 verdict item #2), additions-only:
    // "cal" = median fixed-work probe seconds (≈0.2 s quiet; a 2-5x
    // multiple marks a noisy-neighbor window), "load" = 1-min system
    // load average at the end of the run. Both also on stderr.
    val calMed = median(cals.toSeq)
    val load = math.max(0.0, java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage)
    // end-of-run block-manager footprint: with the per-query unpersist
    // above this should stay near zero — a growing figure means a leak
    val leftover = spark.sparkContext.getPersistentRDDs.size
    System.err.println(
      f"[bench] cal_med=$calMed%.3f s load=$load%.2f leftover_persistent_rdds=$leftover")
    // "total_med" = total of per-query medians (was "total_of_medians";
    // shortened with the 92-query map pressing against the tail budget —
    // the driver JSON-parses the line generically, the name is free-form).
    // cal prints 2 decimals always: the quiet-host figure is ~0.2 s and
    // the diagnostic read is its multiple, so one decimal is too coarse
    val calStr = String.format(java.util.Locale.ROOT, "%.2f", Double.box(calMed))
    val line = s"""{"metric":"total_med","value":${f2(total)},"unit":"sec"$itersField,"cal":$calStr,"load":${f2(load)},"queries":$qs$failedField,"sf":"$sfShort"}"""
    if (line.length > 1915)
      System.err.println(s"[bench] WARNING: JSON line ${line.length} chars — driver tail is 2000; shrink before adding queries")
    println(line)
    spark.stop()
  }
}
