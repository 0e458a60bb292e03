package graft

import scala.math.BigDecimal.RoundingMode
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity

/** The shared PQ/IVF vector kernels (codeword distance, rounded argmin,
  * residual) against a plain-Scala reference. */
class PqKernelsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The hand-built 16-dim codebook, (s, c, d) -> w: `pqCodebook(spark,
    * nSub = 2)` with codeword 2 of subspace 0 copied into codewords 5 and
    * 11 (exact ties), and codeword 12 of subspace 1 set to codeword 7
    * moved 1e-5 along d = 1, so the two distances agree once rounded at 6
    * while codeword 12 can be the nearer one unrounded. */
  private lazy val codebook: Map[(Long, Long, Long), Double] = {
    val base = Similarity.pqCodebook(spark, nSub = 2).collect().map(r =>
      (r.getAs[Long]("s"), r.getAs[Long]("c"), r.getAs[Long]("d")) ->
        r.getAs[Double]("w")).toMap
    base.map { case (k @ (s, c, d), w) =>
      k -> (if (s == 0 && (c == 5 || c == 11)) base((0L, 2L, d))
        else if (s == 1 && c == 12) base((1L, 7L, d)) + (if (d == 1) 1e-5 else 0.0)
        else w)
    }
  }

  /** 6-12 sixteen-dimensional vectors, each with a list id in 0-2. Each
    * subvector is a codeword moved by at most 0.002 per coordinate (in
    * subspace 0 mostly a tied codeword, in subspace 1 mostly codeword 7
    * or 12) or a uniform draw; about half the vectors are repeats. */
  private lazy val genCorpus: Gen[(Seq[Array[Float]], Seq[Long])] = for {
    n <- Gen.choose(6, 12)
    seed <- Gen.long
  } yield {
    val rnd = new Random(seed)
    def sub(s: Long, tied: Seq[Long]): Seq[Float] = rnd.nextInt(4) match {
      case 3 => Seq.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
      case i =>
        val c = if (i == 0) rnd.nextInt(16).toLong else tied(rnd.nextInt(tied.size))
        (1L to 8L).map(d => (codebook((s, c, d)) + (rnd.nextInt(5) - 2) * 0.001).toFloat)
    }
    val distinct = Seq.fill(n / 2 + 1)(
      (sub(0, Seq(2L, 5L, 11L)) ++ sub(1, Seq(7L, 12L))).toArray)
    val vecs = distinct ++
      Seq.fill(n - distinct.size)(distinct(rnd.nextInt(distinct.size)))
    (rnd.shuffle(vecs), Seq.fill(n)(rnd.nextInt(3).toLong))
  }

  /** `Num.cround(x, 6)` in plain Scala: Spark's round is HALF_UP over the
    * double's decimal rendering. */
  private def cround(x: Double): Double =
    BigDecimal(x - (math.abs(x) * 1e-12 + 1e-9)).setScale(6, RoundingMode.HALF_UP)
      .toDouble + 0.0

  /** Squared L2 of subvector s of `v` to codeword c, in index order. */
  private def dist2(v: Array[Float], s: Long, c: Long): Double =
    (0 until 8).foldLeft(0.0) { (acc, j) =>
      val diff = v((s * 8 + j).toInt).toDouble - codebook((s, c, j + 1L))
      acc + diff * diff
    }

  /** The assigned (code, rounded distance): the smallest rounded distance,
    * the smaller code id on a tie. */
  private def nearest(v: Array[Float], s: Long): (Long, Double) = {
    val (d, c) = (0L until 16L).map(c => (cround(dist2(v, s, c)), c)).min
    (c, d)
  }

  test("pqEncode, pqDistortion and the IVF residual equal a plain-Scala reference; ties go to the smaller code id") {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val cb = codebook.toSeq.map { case ((s, c, d), w) => (s, c, d, w) }
      .toDF("s", "c", "d", "w")
    val anchors = Similarity.ivfAnchors(spark, nLists = 3, dims = 16)
    val anchorW = anchors.collect().map(r =>
      (r.getAs[Long]("c"), r.getAs[Long]("d")) -> r.getAs[Double]("w")).toMap
    val prop = Prop.forAllNoShrink(genCorpus) { case (vecs, lists) =>
      val emb = spark.createDataFrame(spark.sparkContext.parallelize(
        vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)), 2), schema)

      val codes = Similarity.pqEncode(emb, cb).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("s"),
          r.getAs[Long]("code"))).sorted.toSeq
      val codesRef = for (i <- vecs.indices; s <- 0L to 1L)
        yield (i.toLong, s, nearest(vecs(i), s)._1)

      val distortion = Similarity.pqDistortion(emb, cb).collect()
        .map(r => (r.getAs[Long]("s"), r.getAs[Long]("n_vectors"),
          r.getAs[Double]("avg_dist2"), r.getAs[Double]("max_dist2")))
        .sorted.toSeq
      val distortionRef = (0L to 1L).map { s =>
        val ds = vecs.map(nearest(_, s)._2)
        (s, ds.size.toLong, cround(ds.sum / ds.size), cround(ds.max))
      }

      val assigned = lists.zipWithIndex.map { case (l, i) => (i.toLong, l) }
        .toDF("vec_id", "list_id")
      val resid = Similarity.residual(
          Similarity.coords(emb, col("vec_id")).join(assigned, "vec_id"),
          anchors, "vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
          r.getDouble(3))).sorted.toSeq
      val residRef = for (i <- vecs.indices; p <- 0 until 16)
        yield (i.toLong, lists(i), p,
          vecs(i)(p).toDouble - anchorW((lists(i), p + 1L)))

      (Prop(codes == codesRef) :| s"pqEncode $codes" &&
        Prop(distortion == distortionRef) :| s"pqDistortion $distortion" &&
        Prop(resid == residRef) :| s"residual $resid") :|
        s"vectors=${vecs.map(_.mkString("[", ",", "]"))} lists=$lists"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withWorkers(1).withInitialSeed(Seed(15L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
