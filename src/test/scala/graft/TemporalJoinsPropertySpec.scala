package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TemporalJoins

/** Randomized-equivalence tests (fixed seed — deterministic): the composed
  * temporal joins must agree with a brute-force reference on arbitrary
  * data — keys with no marks, ties, duplicates on the left, ranges of
  * every length relative to the bucket width. */
class TemporalJoinsPropertySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val keys = Seq("a", "b", "c")

  test("asofBackward agrees with the brute-force definition on random data") {
    val rnd = new Random(4242)
    for (trial <- 1 to 15) {
      val lRows = Seq.fill(25)((keys(rnd.nextInt(3)), rnd.nextInt(40).toLong))
      // right rows unique per (key, t) — the operator's documented contract
      val rRows = Seq.fill(25)((keys(rnd.nextInt(3)), rnd.nextInt(40).toLong))
        .distinct.map { case (k, t) => (k, t, t * 100.0 + k.hashCode % 7) }

      val left = lRows.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "lid")
      val right = rRows.toDF("k", "rt", "payload")
      val got = TemporalJoins.asofBackward(left, right, Seq("k"), "t", "rt")
        .select("lid", "rt", "payload")
        .as[(Long, Option[Long], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val want = lRows.zipWithIndex.map { case ((k, t), i) =>
        val best = rRows.filter(r => r._1 == k && r._2 <= t).sortBy(_._2).lastOption
        i.toLong -> (best.map(_._2), best.map(_._3))
      }.toMap
      assert(got == want, s"trial $trial: left=$lRows right=$rRows")
    }
  }

  test("asofForward agrees with the brute-force definition on random data") {
    val rnd = new Random(7171)
    for (trial <- 1 to 15) {
      val lRows = Seq.fill(25)((keys(rnd.nextInt(3)), rnd.nextInt(40).toLong))
      val rRows = Seq.fill(25)((keys(rnd.nextInt(3)), rnd.nextInt(40).toLong))
        .distinct.map { case (k, t) => (k, t, t * 100.0 + k.hashCode % 7) }

      val left = lRows.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "lid")
      val right = rRows.toDF("k", "rt", "payload")
      val got = TemporalJoins.asofForward(left, right, Seq("k"), "t", "rt")
        .select("lid", "rt", "payload")
        .as[(Long, Option[Long], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val want = lRows.zipWithIndex.map { case ((k, t), i) =>
        val best = rRows.filter(r => r._1 == k && r._2 >= t).sortBy(_._2).headOption
        i.toLong -> (best.map(_._2), best.map(_._3))
      }.toMap
      assert(got == want, s"trial $trial: left=$lRows right=$rRows")
    }
  }

  test("asofNearest agrees with the brute-force argmin-distance definition") {
    val rnd = new Random(9393)
    for (trial <- 1 to 15) {
      val tol = if (trial % 3 == 0) None else Some(2L + rnd.nextInt(10))
      val lRows = Seq.fill(25)((keys(rnd.nextInt(3)), rnd.nextInt(40).toLong))
      val rRows = Seq.fill(25)((keys(rnd.nextInt(3)), rnd.nextInt(40).toLong))
        .distinct.map { case (k, t) => (k, t, t * 100.0 + k.hashCode % 7) }

      val left = lRows.zipWithIndex
        .map { case ((k, t), i) => (k, t, i.toLong) }.toDF("k", "t", "lid")
      val right = rRows.toDF("k", "rt", "payload")
      val got = TemporalJoins.asofNearest(left, right, Seq("k"), "t", "rt",
          tolerance = tol)
        .select("lid", "rt", "payload")
        .as[(Long, Option[Long], Option[Double])].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val want = lRows.zipWithIndex.map { case ((k, t), i) =>
        val inTol = rRows.filter(r => r._1 == k &&
          tol.forall(b => math.abs(r._2 - t) <= b))
        // min distance; ties to the backward (rt <= t) side, which for
        // equal distance is the smaller rt
        val best = inTol
          .sortBy(r => (math.abs(r._2 - t), r._2))
          .headOption
        i.toLong -> (best.map(_._2), best.map(_._3))
      }.toMap
      assert(got == want, s"trial $trial: tol=$tol left=$lRows right=$rRows")
    }
  }

  test("rangeJoinBucketed agrees with the naive containment join for any bucket width") {
    val rnd = new Random(1717)
    for (trial <- 1 to 15) {
      val pts = Seq.fill(20)(rnd.nextInt(40).toLong)
      val rngs = Seq.fill(8) { val s = rnd.nextInt(40).toLong; (s, s + rnd.nextInt(16)) }
      val width = 1L + rnd.nextInt(20)

      val points = pts.zipWithIndex.map { case (t, i) => (t, i.toLong) }.toDF("t", "pid")
      val ranges = rngs.zipWithIndex.map { case ((s, e), i) => (s, e, i.toLong) }
        .toDF("s", "e", "rid")
      val got = TemporalJoins.rangeJoinBucketed(
          points, col("t"), ranges, col("s"), col("e"), bucketWidth = width)
        .select("pid", "rid").as[(Long, Long)].collect().sorted.toSeq
      val want = (for {
        (t, pi) <- pts.zipWithIndex
        ((s, e), ri) <- rngs.zipWithIndex
        if t >= s && t < e
      } yield (pi.toLong, ri.toLong)).sorted
      assert(got == want, s"trial $trial: width=$width pts=$pts rngs=$rngs")
    }
  }
}
