package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.{CorpusPipeline, IncrementalCuration}
import graft.ext.CorpusPipeline.CurationConfig

/** Delta-curation == batch curation: folding id-ordered batches through
  * IncrementalCuration.ingestBatch and snapshotting must produce exactly
  * the corpus (and report) of CorpusPipeline.curate over the union.
  *
  * The fixture exercises every cross-batch hazard: an exact duplicate
  * arriving AFTER its original (digest-vs-history), a near duplicate
  * arriving after its cluster seed (fresh-vs-history LSH candidates), a
  * third cluster member in yet another batch (transitive chain folded
  * through the accumulated union-find labels), and a tail-stage filter
  * miss — plus the within-batch cases batch mode already covers. */
class IncrementalCurationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // doc 2/5/7 share one shingle set -> identical minhash signatures ->
  // guaranteed LSH collision and exact Jaccard 1.0 (the deterministic
  // near-dup construction CorpusPipelineSpec uses); 4 is byte-identical to
  // 3; 9 to 1; 8 misses the language filter ('und').
  private val slices: Seq[Seq[(Long, String, String)]] = Seq(
    Seq(
      (1L, "s1", "the cat sat on the mat and the dog slept nearby today"),
      (2L, "s1", "b c b c b"),
      (3L, "s2", "the weather was sunny and warm across the whole region")),
    Seq(
      (4L, "s2", "the weather was sunny and warm across the whole region"),
      (5L, "s1", "c b c b c"),
      (6L, "s1", "cooking dinner for the family takes about an hour tonight")),
    Seq(
      (7L, "s1", "b c b c b c"),
      (8L, "s1", "!!! ??? ### !!!"),
      (9L, "s2", "the cat sat on the mat and the dog slept nearby today")))

  private val cfg = CurationConfig(langs = Set("en"), minQuality = 0.0,
    packBudgetTokens = 16)

  private def union: DataFrame =
    slices.flatten.toDF("doc_id", "source", "text")

  private def assertSnapshotEqualsBatch(st: IncrementalCuration.CurationState): Unit = {
    val (incPacked, incReport) = IncrementalCuration.snapshot(st, cfg)
    val (batchPacked, batchReport) = CorpusPipeline.curate(union, cfg)
    assert(incReport == batchReport,
      s"reports diverge:\n inc   $incReport\n batch $batchReport")
    val cols = batchPacked.columns.sorted.map(col).toIndexedSeq
    val inc = incPacked.select(cols: _*).orderBy("doc_id").collect().toSeq
    val bat = batchPacked.select(cols: _*).orderBy("doc_id").collect().toSeq
    assert(inc == bat, s"packed corpora diverge:\n inc   $inc\n batch $bat")
  }

  /** The three-slice fold, with the per-batch state checks. */
  private def foldThreeSlices(): Unit = {
    var st = IncrementalCuration.init(spark, union, cfg.nHashes)
    st = IncrementalCuration.ingestBatch(st,
      slices(0).toDF("doc_id", "source", "text"), cfg)
    assert(st.docs.count() == 3 && st.nIngested == 3)

    st = IncrementalCuration.ingestBatch(st,
      slices(1).toDF("doc_id", "source", "text"), cfg)
    // 4 is an exact dup of history doc 3 -> rejected at the digest gate
    assert(st.docs.count() == 5, "cross-batch exact dup must not re-enter")
    // 5 near-dups HISTORY doc 2 -> the fresh-vs-all band join must have
    // found it and the union-find must cluster it under rep 2
    val labels2 = st.labels.as[(Long, Long)].collect().toMap
    assert(labels2.get(5L).contains(2L),
      s"doc 5 must join history doc 2's cluster, labels: $labels2")

    st = IncrementalCuration.ingestBatch(st,
      slices(2).toDF("doc_id", "source", "text"), cfg)
    // 7 chains into the same cluster through the accumulated labels
    val labels3 = st.labels.as[(Long, Long)].collect().toMap
    assert(labels3.get(7L).contains(2L) && labels3.get(5L).contains(2L),
      s"cross-batch transitive chain broke: $labels3")
    assert(st.nIngested == 9)

    assertSnapshotEqualsBatch(st)
  }

  test("ingestBatch-folded snapshot == batch curate on the union") {
    foldThreeSlices()
  }

  test("persist mode: ingestBatch-folded snapshot == batch curate, arrivals counted") {
    // under persist the arrival Observation fills through a count of the
    // persisted delta, not through a checkpoint job
    SparkTestSession.underPersist(foldThreeSlices())
  }

  test("nine one-doc batches cross a compaction and still equal batch curate") {
    // Materialize.CompactEvery = 8: batch 8 compacts docs, digests and
    // signatures, batch 9 (doc 9, an exact dup of doc 1) folds onto the
    // compacted state and must still be rejected at the digest gate
    val st = slices.flatten.foldLeft(
        IncrementalCuration.init(spark, union, cfg.nHashes)) { (acc, doc) =>
      IncrementalCuration.ingestBatch(acc,
        Seq(doc).toDF("doc_id", "source", "text"), cfg)
    }
    assert(st.nBatches == 9 && st.nIngested == 9)
    assert(st.docs.count() == 7, "exact dups 4 and 9 must not enter")
    assertSnapshotEqualsBatch(st)
  }

  test("foreachBatch curator over a real file stream == batch curate") {
    import scala.jdk.CollectionConverters._
    val landing = java.nio.file.Files.createTempDirectory("graft-inc-curate")
    slices.zipWithIndex.foreach { case (rows, i) =>
      val sliceDir = landing.resolve(f"stage-$i%02d")
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.parquet(sliceDir.toString)
      val part = java.nio.file.Files.list(sliceDir).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dest = landing.resolve(f"slice-$i%02d.parquet")
      java.nio.file.Files.move(part, dest)
      // FileStreamSource orders by mtime — pin strictly increasing stamps
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "slice-*.parquet")
      .parquet(landing.toString)

    val curator = new IncrementalCuration.Curator(cfg)
    val q = curator.writer(stream)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.lastProgress.batchId >= 2,
      s"expected >= 3 micro-batches, saw ${q.lastProgress.batchId + 1}")

    assertSnapshotEqualsBatch(curator.state)
  }
}
