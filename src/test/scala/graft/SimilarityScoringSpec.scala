package graft

import scala.math.BigDecimal.RoundingMode
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.ext.Similarity

/** The shared ANN scorer (query batch, scored join, rounded cosine)
  * against a plain-Scala reference. */
class SimilarityScoringSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** 6-12 four-dimensional vectors of small whole numbers, in shuffled
    * vec_id order: one zero vector, and repeated vectors so cosines tie. */
  private val genCorpus: Gen[Seq[Array[Float]]] = for {
    n <- Gen.choose(6, 12)
    seed <- Gen.long
  } yield {
    val rnd = new Random(seed)
    def draw(): Array[Float] = {
      val v = Array.fill(4)((rnd.nextInt(7) - 3).toFloat)
      if (v.exists(_ != 0f)) v else draw()
    }
    val distinct = Seq.fill(n / 2)(draw())
    val vecs = Array.fill(4)(0f) +: distinct ++:
      Seq.fill(n - 1 - distinct.size)(distinct(rnd.nextInt(distinct.size)))
    rnd.shuffle(vecs)
  }

  /** `Num.cround(x, 6)` in plain Scala: Spark's round is HALF_UP over the
    * double's decimal rendering. */
  private def cround(x: Double): Double =
    BigDecimal(x - (math.abs(x) * 1e-12 + 1e-9)).setScale(6, RoundingMode.HALF_UP)
      .toDouble + 0.0

  /** The fused cosine's arithmetic: index-order sums, NULL at zero norm. */
  private def refCosine(a: Array[Float], b: Array[Float]): Option[Double] = {
    val (x, y) = (a.map(_.toDouble), b.map(_.toDouble))
    val dot = x.indices.foldLeft(0.0)((s, i) => s + x(i) * y(i))
    val na = x.foldLeft(0.0)((s, v) => s + v * v)
    val nb = y.foldLeft(0.0)((s, v) => s + v * v)
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) None else Some(cround(dot / denom))
  }

  /** Rounded cosine descending (NULL last), ties by vec_id. */
  private val byScore: Ordering[(Long, Option[Double])] =
    Ordering.by[(Long, Option[Double]), (Boolean, Double, Long)] {
      case (id, c) => (c.isEmpty, -c.getOrElse(0.0), id)
    }

  test("bruteForceTopK and scorePairs equal a plain-Scala reference row by row; ties by vec_id, self-pairs excluded, a zero vector scores NULL") {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val queryMod = 3
    val prop = Prop.forAllNoShrink(genCorpus) { vecs =>
      val n = vecs.size
      val emb = spark.createDataFrame(spark.sparkContext.parallelize(
        vecs.indices.map(i => Row(i.toLong, vecs(i).toSeq)), 2), schema)
      def ranked(q: Int) = vecs.indices.filter(_ != q)
        .map(v => (v.toLong, refCosine(vecs(q), vecs(v)))).sorted(byScore)

      val topK = Similarity.bruteForceTopK(emb, queryMod, n).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          Option(r.get(3)).map(_.asInstanceOf[Double])))
        .sortBy(r => (r._1, r._2)).toSeq
      val topKRef = vecs.indices.filter(_ % queryMod == 0).flatMap { q =>
        ranked(q).zipWithIndex.map { case ((v, c), i) => (q.toLong, i + 1, v, c) }
      }

      val pairs = (for (s <- vecs.indices; d <- vecs.indices if s != d)
        yield (s.toLong, d.toLong)).toDF("src", "dst")
      val scored = Similarity.scorePairs(Similarity.withDoubles(emb), pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Double])))
        .sortBy(r => (r._1, r._2)).toSeq
      val scoredRef = for (s <- vecs.indices; d <- vecs.indices if s != d)
        yield (s.toLong, d.toLong, refCosine(vecs(s), vecs(d)))

      (Prop(topK == topKRef) :| s"bruteForceTopK $topK" &&
        Prop(scored == scoredRef) :| s"scorePairs $scored") :|
        s"vectors=${vecs.map(_.mkString("[", ",", "]"))}"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withWorkers(1).withInitialSeed(Seed(14L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
