package graft

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

  private def assertSame(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.count() > 0, s"$what: empty comparison is vacuous")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      s"$what diverges between incremental and batch")
  }

  /** Folds the sf0.001 embeddings in `nBatches` vec_id-ordered batches and
    * checks the arrival count and the seed edges, descended graph and
    * search against the batch build. */
  private def checkAgainstBatch(nBatches: Int): Unit = {
    val emb = graft.io.Sources.embeddings(spark, dir).localCheckpoint(true)
    val st = foldBatches(emb, nBatches, bucketCap = 64)
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
    checkAgainstBatch(3)
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
