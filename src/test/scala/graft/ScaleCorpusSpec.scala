package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `ScaleCorpus.generate` writes 10 distinct replicas of every entity
  * table, replica 0 is the source, and the dimensions stay as they are. */
class ScaleCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  /** The replicated tables and their offset key columns. */
  private val replicated: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "events" -> Seq("event_id", "user_id"))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("generate: 10x distinct replicas, replica 0 is the source, dimensions unchanged") {
    // the source is sf0.001 with every 7th document's text set to NULL:
    // the fixture has no NULL text, so the NULL rule needs rows to act on
    val src = Files.createTempDirectory("graft-scale-src")
    for (t <- replicated.map(_._1) ++ Seq("nation", "region")
         if t != "documents")
      Files.copy(Paths.get(s"$sf/$t.parquet"), src.resolve(s"$t.parquet"))
    spark.read.parquet(s"$sf/documents.parquet")
      .withColumn("text", when(col("doc_id") % 7 =!= 0, col("text")))
      .write.parquet(src.resolve("documents.parquet").toString)
    val out = Files.createTempDirectory("graft-scale-out").resolve("sf")
    ScaleCorpus.generate(spark, src.toString, out.toString)

    def read(dir: Any, t: String): DataFrame = {
      val df = spark.read.parquet(s"$dir/$t.parquet")
      if (t == "events") io.Sources.normalizeEventTs(df) else df
    }
    for (t <- Seq("nation", "region"))
      assert(sameRows(read(out, t), read(src, t)), s"$t changed")

    for ((t, keys) <- replicated) {
      val (s, o) = (read(src, t), read(out, t))
      assert(o.count() == 10 * s.count(), s"$t: not 10x the rows")
      for (k <- keys)
        assert(o.select(k).distinct().count() ==
          10 * s.select(k).distinct().count(), s"$t.$k collides across replicas")
      // replica 0 keeps its keys, so it is the rows at or below the
      // source's largest first key
      val maxKey = s.agg(max(keys.head)).first().getLong(0)
      assert(sameRows(o.filter(col(keys.head) <= maxKey), s),
        s"$t: replica 0 differs from the source")
    }

    // sign flips keep every embedding's norm
    def norms(df: DataFrame) = df.select(col("vec_id"),
      expr("sqrt(aggregate(embedding, 0D, (a, x) -> a + x * x))").as("norm"))
    val step = ScaleCorpus.step(read(src, "embeddings"), "vec_id")
    val paired = norms(read(out, "embeddings"))
      .withColumn("vec_id", col("vec_id") % step).as("o")
      .join(norms(read(src, "embeddings")).as("s"), "vec_id")
    assert(paired.count() == 10 * read(src, "embeddings").count())
    val worst = paired.agg(max(abs(col("o.norm") - col("s.norm")))).first()
      .getDouble(0)
    assert(worst < 1e-5, s"embedding norm moved by $worst")

    // NULL text stays NULL in every replica
    val nulls = read(src, "documents").filter(col("text").isNull).count()
    assert(nulls > 0)
    assert(read(out, "documents").filter(col("text").isNull).count() ==
      10 * nulls)
  }

  test("offset over an empty frame degrades to step 1 instead of throwing") {
    val empty = spark.range(0).select(col("id").cast("int").as("k"))
    assert(ScaleCorpus.step(empty, "k") == 1L)
    assert(ScaleCorpus.offset(empty, "k").isEmpty)
    // int keys step by max + 1 as a long
    assert(ScaleCorpus.step(spark.range(5).select(col("id").cast("int")
      .as("k")), "k") == 5L)
  }
}
