package graft

import java.time.{DayOfWeek, Instant, LocalDate, ZoneOffset}

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.analytics.Events

/** The shared event kernels against a plain-Scala reference. */
class EventsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private case class Ev(id: Long, sec: Long, user: Long, kind: String, value: Double)

  private val kinds = Vector("view", "click", "purchase", "signup", "error")
  private val start = LocalDate.of(2024, 3, 6).atStartOfDay(ZoneOffset.UTC).toEpochSecond

  /** Event logs of 2-4 users in shuffled row order and shuffled event ids:
    * user 0 has one event; the others have 2-15, with same-instant ties
    * (event_id decides their order), gaps around the 1800 s session rule,
    * multi-day gaps that cross week boundaries, and one pair of
    * consecutive events exactly 1800 s apart. Values are whole numbers, so
    * every sum is exact in any order. */
  private val genEvents: Gen[Seq[Ev]] = for {
    users <- Gen.choose(2, 4)
    seed <- Gen.long
  } yield {
    val rnd = new Random(seed)
    val times = (0 until users).map { u =>
      val n = if (u == 0) 1 else 2 + rnd.nextInt(14)
      val gaps = Seq.fill(n - 1)(rnd.nextInt(6) match {
        case 0 => 0L
        case 1 => 1800L
        case 2 => 1799L + rnd.nextInt(3)
        case 3 => 86400L * (1 + rnd.nextInt(9)) + rnd.nextInt(86400)
        case _ => 1L + rnd.nextInt(4000)
      })
      // user 1's first gap is the exact 1800 s pair
      val gs = if (u == 1) 1800L +: gaps.tail else gaps
      gs.scanLeft(start + rnd.nextInt(200000).toLong)(_ + _).map(u.toLong -> _)
    }.flatten
    val ids = rnd.shuffle(times.indices.map(_.toLong + 1))
    rnd.shuffle(times.zip(ids).map { case ((u, sec), id) =>
      Ev(id, sec, u, kinds(rnd.nextInt(kinds.size)), rnd.nextInt(100).toDouble)
    })
  }

  private val stamp = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private def dayOf(sec: Long) = Instant.ofEpochSecond(sec).atZone(ZoneOffset.UTC).toLocalDate
  private def weekOf(sec: Long) = dayOf(sec).`with`(DayOfWeek.MONDAY)

  /** Each user's events in the user event order. */
  private def ordered(evs: Seq[Ev]) =
    evs.groupBy(_.user).map { case (u, es) => u -> es.sortBy(e => (e.sec, e.id)) }

  private def refSessions(evs: Seq[Ev]) = ordered(evs).toSeq.flatMap { case (u, es) =>
    val seqs = es.indices.scanLeft(0L)((s, i) =>
      if (i == 0 || es(i).sec - es(i - 1).sec > 1800) s + 1 else s).tail
    es.zip(seqs).groupBy(_._2).map { case (seq, g) =>
      val ss = g.map(_._1)
      val t0 = ss.head.sec
      (u, seq) -> (ss.size.toLong,
        stamp.format(java.time.LocalDateTime.ofEpochSecond(t0, 0, ZoneOffset.UTC)),
        dayOf(t0), ss.last.sec - t0, ss.map(_.value).sum)
    }
  }.toMap

  private def refTransitions(evs: Seq[Ev]) = ordered(evs).values.toSeq.flatMap { es =>
    (None +: es.init.map(e => Some(e.kind))).zip(es.map(_.kind))
  }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  private def refRfm(evs: Seq[Ev]) = {
    val p = evs.filter(_.kind == "purchase")
    val last = if (p.isEmpty) None else Some(dayOf(p.map(_.sec).max))
    p.groupBy(_.user).map { case (u, ps) =>
      val d = dayOf(ps.map(_.sec).max)
      u -> (d, ps.size.toLong, ps.map(_.value).sum,
        java.time.temporal.ChronoUnit.DAYS.between(d, last.get).toInt)
    }
  }

  test("event kernels equal a plain-Scala reference row by row; start rows and the 1800 s gap per contract") {
    def date(r: Row, i: Int) = r.getDate(i).toLocalDate
    val prop = Prop.forAllNoShrink(genEvents) { evs =>
      val df = evs.map(e => (e.id, new java.sql.Timestamp(e.sec * 1000), e.user, e.kind, e.value))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      val sessions = Events.sessions(df).collect().map { r =>
        (r.getAs[Long]("user_id"), r.getAs[Long]("session_seq")) ->
          (r.getAs[Long]("n_events"), r.getAs[String]("session_start"),
            r.getAs[java.sql.Date]("day").toLocalDate, r.getAs[Long]("duration_sec"),
            r.getAs[Double]("total_value"))
      }.toMap
      val transitions = Events.transitionCounts(df).collect().map { r =>
        (Option(r.getString(0)), r.getString(1)) -> r.getLong(2)
      }.toMap
      val userDays = Events.userDays(df).collect()
        .map(r => (r.getLong(0), date(r, 1))).toSet
      val calendar = df.select(col("event_id"), Events.day(col("ts")), Events.week(col("ts")),
          Events.epochDay(Events.day(col("ts"))),
          Events.fromEpochDay(Events.epochDay(Events.week(col("ts")))))
        .collect().map(r => r.getLong(0) -> (date(r, 1), date(r, 2), r.getInt(3), date(r, 4)))
        .toMap
      val rfm = Events.rfm(df).collect().map { r =>
        r.getAs[Long]("user_id") -> (r.getAs[java.sql.Date]("last_day").toLocalDate,
          r.getAs[Long]("frequency"), r.getAs[Double]("value_sum"),
          r.getAs[Int]("recency_days"))
      }.toMap

      val calendarRef = evs.map(e => e.id ->
        (dayOf(e.sec), weekOf(e.sec), dayOf(e.sec).toEpochDay.toInt, weekOf(e.sec))).toMap
      (Prop(sessions == refSessions(evs)) :| s"sessions $sessions" &&
        Prop(transitions == refTransitions(evs)) :| s"transitions $transitions" &&
        Prop(userDays == evs.map(e => (e.user, dayOf(e.sec))).toSet) :| "userDays" &&
        Prop(calendar == calendarRef) :| "day/week/epochDay" &&
        Prop(rfm == refRfm(evs)) :| s"rfm $rfm") :| s"events=$evs"
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(10)
      .withWorkers(1).withInitialSeed(Seed(13L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }
}
