package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants: every query has matching oracle aliases and
  * the flagship entry produces rows. */
class SparkEntrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("queries and oracle SQL keys match exactly") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.diff(q).isEmpty, s"oracle keys without query impl: ${o.diff(q)}")
    assert(q.diff(o).isEmpty, s"queries missing oracle SQL: ${q.diff(o)}")
  }

  test("query id prefixes are unique (bench JSON key contract)") {
    // Bench compacts each query name to its id prefix (before the first
    // '_') in the reporting JSON; a collision would silently merge two
    // queries' timings in the driver's BENCH file.
    val byPrefix = SparkEntry.queries.keySet.groupBy(_.takeWhile(_ != '_'))
    val dups = byPrefix.filter(_._2.size > 1)
    assert(dups.isEmpty, s"colliding bench key prefixes: $dups")
  }

  test("bench queries-map compaction keeps slowest 96 + reconstructible other") {
    // Below the overflow threshold the map is complete and untouched.
    val small = Seq("b_x" -> 1.5, "a_y" -> 0.05)
    assert(Bench.queriesJson(small) == """{"b":1.5,"a":0.05}""")
    // Force overflow: 200 queries with distinct medians. The compacted map
    // must hold exactly the 96 slowest (plus "other"), keep any failed
    // (-1) queries visible, and "other" must equal the sum of the dropped.
    val many = (0 until 200).map(i => f"q$i%03d_op" -> i / 10.0) :+
      ("zfail_op" -> -1.0)
    val out = Bench.queriesJson(many)
    assert(out.length <= 1700, s"compacted map still ${out.length} chars")
    assert(out.contains("\"zfail\":-1"), "failed query hidden by compaction")
    // slowest 96 of the 200 non-failed = q104..q199; q103 must be dropped
    // (>= 10 s renders at whole-second precision)
    assert(out.contains("\"q104\":10") && out.contains("\"q199\":20"))
    assert(!out.contains("\"q103\""))
    val expectedOther = (0 until 104).map(_ / 10.0).sum
    assert(out.endsWith(s""","other":${Bench.f2(expectedOther)}}"""), out.takeRight(40))
  }

  test("select trims names and rejects every unknown one") {
    assert(SparkEntry.select(" a1_count ,j1_join_dims").map(_._1) ==
      Seq("a1_count", "j1_join_dims"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.select("a1_count, typo1,typo2"))
    assert(e.getMessage.contains("typo1, typo2"), e.getMessage)
    intercept[IllegalArgumentException](SparkEntry.select(" , "))
  }

  test("localSession carries the confs every oracle hash depends on") {
    val s = SparkEntry.localSession("2")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }

  test("SparkEntry.scala holds the only SparkSession builder in src/main") {
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val builders = try files.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        java.nio.file.Files.readString(p).contains("SparkSession.builder"))
      .map(_.getFileName.toString).toSeq
    finally files.close()
    assert(builders == Seq("SparkEntry.scala"))
  }

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
  }

  test("all queries run on sf0.001 and return rows") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"query $name returned no rows")
    }
  }
}
