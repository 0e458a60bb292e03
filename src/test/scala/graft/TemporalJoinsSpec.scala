package graft

import java.sql.Date

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TemporalJoins

/** As-of and range join semantics on hand-checkable fixtures. */
class TemporalJoinsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def d(s: String): Date = Date.valueOf(s)

  private lazy val bars = Seq(
    ("A", d("2020-01-01"), 10.0),
    ("A", d("2020-01-05"), 11.0),
    ("A", d("2020-01-10"), 12.0),
    ("B", d("2020-01-03"), 20.0)
  ).toDF("symbol", "date", "close")

  private lazy val marks = Seq(
    ("A", d("2020-01-02"), 1.0),
    ("A", d("2020-01-05"), 2.0), // same-day mark must match the 01-05 bar
    ("A", d("2020-01-09"), 3.0),
    ("C", d("2020-01-01"), 9.0)  // key with no bars: never surfaces
  ).toDF("symbol", "mark_date", "mark_price")

  test("asofBackward picks the latest at-or-before mark per key, null when none") {
    val out = TemporalJoins.asofBackward(bars, marks, Seq("symbol"), "date", "mark_date")
      .orderBy("symbol", "date")
      .collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[Date]("date").toString,
        Option(r.getAs[java.lang.Double]("mark_price")).map(_.toDouble)))
    assert(out.toSeq == Seq(
      ("A", "2020-01-01", None),       // no mark yet
      ("A", "2020-01-05", Some(2.0)),  // same-instant mark wins over 01-02
      ("A", "2020-01-10", Some(3.0)),  // latest earlier mark, not first
      ("B", "2020-01-03", None)))      // key with no marks at all
  }

  test("asofBackward keeps every left row and all left columns") {
    val out = TemporalJoins.asofBackward(bars, marks, Seq("symbol"), "date", "mark_date")
    assert(out.count() == bars.count())
    assert(Seq("symbol", "date", "close", "mark_date", "mark_price").forall(
      out.columns.contains))
  }

  test("asofBackward distinguishes a null payload value from no-match") {
    val nullMark = Seq(("A", d("2020-01-04"), Option.empty[Double]))
      .toDF("symbol", "mark_date", "mark_price")
    val row = TemporalJoins.asofBackward(
        bars.filter($"date" === d("2020-01-05")), nullMark,
        Seq("symbol"), "date", "mark_date")
      .collect().head
    // matched (mark_date set) even though the payload value itself is null
    assert(row.getAs[Date]("mark_date") == d("2020-01-04"))
    assert(row.getAs[java.lang.Double]("mark_price") == null)
  }

  test("asofBackward rejects payload columns that collide with left columns") {
    val collidingMarks = Seq(("A", d("2020-01-02"), 1.0))
      .toDF("symbol", "mark_date", "close") // 'close' exists on the left too
    val e = intercept[IllegalArgumentException] {
      TemporalJoins.asofBackward(bars, collidingMarks, Seq("symbol"), "date", "mark_date")
    }
    assert(e.getMessage.contains("close"))
  }

  test("asofNearest picks the closer side, ties backward, tolerance nulls") {
    val out = TemporalJoins.asofNearest(
        bars, marks, Seq("symbol"), "date", "mark_date",
        tolerance = Some(3), timeToLong = unix_date)
      .orderBy("symbol", "date")
      .collect()
      .map(r => (r.getAs[String]("symbol"), r.getAs[Date]("date").toString,
        Option(r.getAs[Date]("mark_date")).map(_.toString),
        Option(r.getAs[java.lang.Double]("mark_price")).map(_.toDouble)))
    assert(out.toSeq == Seq(
      // 01-01: only forward 01-02 in tolerance (dist 1)
      ("A", "2020-01-01", Some("2020-01-02"), Some(1.0)),
      // 01-05: exact-instant mark (dist 0 both directions, backward = same row)
      ("A", "2020-01-05", Some("2020-01-05"), Some(2.0)),
      // 01-10: backward 01-09 (dist 1); no forward mark
      ("A", "2020-01-10", Some("2020-01-09"), Some(3.0)),
      // B has no marks at all
      ("B", "2020-01-03", None, None)))
  }

  test("asofNearest breaks equal-distance ties to the backward match") {
    val l = Seq(("K", 10L, 1L)).toDF("k", "t", "lid")
    val r = Seq(("K", 8L, "back"), ("K", 12L, "fwd")).toDF("k", "rt", "tag")
    val out = TemporalJoins.asofNearest(l, r, Seq("k"), "t", "rt")
      .select("tag").as[String].collect()
    assert(out.toSeq == Seq("back"))
    // and with the backward side out of tolerance, forward wins
    val out2 = TemporalJoins.asofNearest(
        Seq(("K", 10L, 1L)).toDF("k", "t", "lid"),
        Seq(("K", 2L, "back"), ("K", 12L, "fwd")).toDF("k", "rt", "tag"),
        Seq("k"), "t", "rt", tolerance = Some(5))
      .select("tag").as[String].collect()
    assert(out2.toSeq == Seq("fwd"))
    // both out of tolerance -> null payload
    val out3 = TemporalJoins.asofNearest(
        Seq(("K", 10L, 1L)).toDF("k", "t", "lid"),
        Seq(("K", 2L, "back"), ("K", 20L, "fwd")).toDF("k", "rt", "tag"),
        Seq("k"), "t", "rt", tolerance = Some(5))
      .select("tag").collect()
    assert(out3.head.isNullAt(0))
  }

  test("rangeJoinBucketed matches half-open containment incl. bucket-crossing ranges") {
    val points = Seq((1L, "p1"), (6L, "p2"), (7L, "p3"), (13L, "p4"), (14L, "p5"))
      .toDF("t", "pname")
    // r1 spans buckets 0 and 1 (width 7); r2 is empty (end <= start)
    val ranges = Seq(("r1", 5L, 14L), ("r2", 3L, 3L)).toDF("rname", "s", "e")
    val out = TemporalJoins.rangeJoinBucketed(
        points, col("t"), ranges, col("s"), col("e"), bucketWidth = 7)
      .select("rname", "pname").as[(String, String)].collect().toSet
    // r1 = [5, 14): contains 6, 7, 13; not 1 (before) nor 14 (exclusive end)
    assert(out == Set(("r1", "p2"), ("r1", "p3"), ("r1", "p4")))
  }

  test("rangeJoinBucketed honors key equality pairs") {
    val points = Seq(("k1", 5L), ("k2", 5L)).toDF("pk", "t")
    val ranges = Seq(("k1", 0L, 10L)).toDF("rk", "s", "e")
    val out = TemporalJoins.rangeJoinBucketed(
        points, col("t"), ranges, col("s"), col("e"), bucketWidth = 10,
        keys = Seq(col("pk") -> col("rk")))
      .select("pk").as[String].collect().toSeq
    assert(out == Seq("k1"))
  }

  test("range explosion is bounded: a range of length L replicates to <= L/W + 1 buckets") {
    val ranges = Seq(("r", 0L, 70L)).toDF("rname", "s", "e") // 10 buckets at W=7
    val points = (0L until 70L).map(t => (t, s"p$t")).toDF("t", "pname")
    val out = TemporalJoins.rangeJoinBucketed(
      points, col("t"), ranges, col("s"), col("e"), bucketWidth = 7)
    assert(out.count() == 70) // every point exactly once — no bucket double-count
  }
}
