package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.{IncrementalAnnIndex, Similarity}

/** The incremental k-NN-graph index must reproduce the batch build
  * exactly under vec_id-ordered ingest — seed edges, descended graph, and
  * search results (the IncrementalCuration snapshot == batch contract,
  * applied to the ANN index family). */
class IncrementalAnnIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def foldBatches(emb: DataFrame, nBatches: Int,
                          bucketCap: Int): IncrementalAnnIndex.GraphState = {
    val rows = emb.orderBy("vec_id").collect()
    val slices = rows.grouped(rows.length / nBatches + 1).toSeq
    slices.foldLeft(IncrementalAnnIndex.init(spark, emb)) { (st, slice) =>
      val batch = spark.createDataFrame(
        spark.sparkContext.parallelize(slice.toIndexedSeq, 1), emb.schema)
      IncrementalAnnIndex.ingestBatch(st, batch,
        Similarity.planes(spark), bucketCap = bucketCap)
    }
  }

  /** Runs `body` under the job description `label` and asserts through a
    * listener that every job it starts carries the label. Two marker jobs
    * bound the window, since the listener bus delivers events in order. */
  private def labelled[A](label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val seen = mutable.ArrayBuffer.empty[String]
    @volatile var open, drained = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.properties.getProperty("spark.job.description") match {
          case "ann-start" => open = true
          case "ann-drain" => drained = true
          case d => if (open && !drained) seen.synchronized(seen += d)
        }
    }
    def marker(d: String): Unit = {
      sc.setJobDescription(d)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    val out = try {
      marker("ann-start")
      sc.setJobDescription(label)
      val r = try body finally sc.setJobDescription(null)
      marker("ann-drain")
      val deadline = System.currentTimeMillis() + 30000
      while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(20)
      r
    } finally sc.removeSparkListener(listener)
    assert(drained, "listener did not drain in 30 s")
    seen.synchronized {
      assert(seen.nonEmpty && seen.forall(_ == label),
        s"jobs without the label $label: ${seen.filterNot(_ == label)}")
    }
    out
  }

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.count() > 0, s"$what: empty comparison is vacuous")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$what diverges between incremental and batch")
  }

  /** Folds the sf0.001 embeddings in `nBatches` vec_id-ordered batches and
    * checks the arrival count and the seed edges, descended graph and
    * search against the batch build; with a `label`, also that every job
    * of the fold carries it. */
  private def checkAgainstBatch(nBatches: Int,
                                label: Option[String] = None): Unit = {
    val emb = graft.io.Sources.embeddings(spark, dir).localCheckpoint(true)
    def ingest = foldBatches(emb, nBatches, bucketCap = 64)
    val st = label.fold(ingest)(labelled(_)(ingest))
    assert(st.nBatches == nBatches)
    assert(st.nIngested == emb.count())

    val batchSeed = Similarity.seedEdges(emb, Similarity.planes(spark))
    assertSame(st.edges, batchSeed, "seed edge table")

    val incGraph = IncrementalAnnIndex.snapshotGraph(st)
    val batchGraph = Similarity.knnGraph(emb, Similarity.planes(spark))
    assertSame(incGraph, batchGraph, "descended graph")

    val incSearch = IncrementalAnnIndex.snapshotSearch(st)
    val batchSearch = Similarity.graphAnnTopK(emb, Similarity.planes(spark))
    assertSame(incSearch, batchSearch, "beam-search results")
  }

  test("3-batch ingest reproduces the batch seed edges, graph, and search") {
    // every job the ingest starts carries the caller's job description,
    // the admissions the ConcurrentJobs pool runs included
    checkAgainstBatch(3, label = Some("ann-ingest-3"))
  }

  test("9-batch ingest crosses a compaction and still reproduces the batch index") {
    // Materialize.CompactEvery = 8: batch 8 compacts the accumulated
    // vectors and memberships, batch 9 folds onto the compacted state
    checkAgainstBatch(9)
  }

  test("persist mode: 3-batch ingest reproduces the batch index and counts arrivals") {
    // under persist the arrival Observation fills through a count of the
    // persisted delta, not through a checkpoint job
    SparkTestSession.underPersist(checkAgainstBatch(3))
  }

  test("an empty batch folds in as a no-op and the index still equals the batch build") {
    // an empty micro-batch is routine on a stream; its arrival count is 0
    val emb = graft.io.Sources.embeddings(spark, dir).localCheckpoint(true)
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), emb.schema)
    val planes = Similarity.planes(spark)
    var st = IncrementalAnnIndex.ingestBatch(
      IncrementalAnnIndex.init(spark, emb), empty, planes)
    assert(st.nBatches == 1 && st.nIngested == 0)
    st = IncrementalAnnIndex.ingestBatch(st, emb, planes)
    st = IncrementalAnnIndex.ingestBatch(st, empty, planes)
    assert(st.nBatches == 3 && st.nIngested == emb.count())
    assertSame(st.edges, Similarity.seedEdges(emb, planes), "seed edge table")
  }

  test("engaged caps: ordered ingest still reproduces the batch election") {
    // bucketCap = 2 forces evictions-would-be-needed pressure on every
    // bucket; the smallest-vec_id election is order-independent, so
    // ordered append-only admission must still equal the batch build.
    val emb = graft.io.Sources.embeddings(spark, dir).localCheckpoint(true)
    val st = foldBatches(emb, 3, bucketCap = 2)
    val batchSeed = Similarity.seedEdges(emb, Similarity.planes(spark),
      bucketCap = 2)
    assertSame(st.edges, batchSeed, "seed edges under engaged caps")
  }
}
