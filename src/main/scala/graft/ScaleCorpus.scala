package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 10× scale corpus: replicates a corpus `FACTOR`× with per-replica
  * key offsets, the same way dbgen scales TPC-H: 10× the entities
  * (symbols, orders, docs, vectors, users), constant rows-per-entity.
  * Replicas must be genuinely DISTINCT data, not copies — copies would
  * (a) collapse under the keep-last dedup instead of scaling it and (b)
  * make every row a cross-replica near-duplicate, quadratically inflating
  * the LSH/similarity candidate sets in a way no real corpus does. So:
  *   - every key column gets `rep * (max_key + 1)` added;
  *   - document tokens get a per-replica suffix (token counts, shingle
  *     structure, source mix and WITHIN-replica duplicate rate are
  *     preserved; ACROSS replicas nothing collides);
  *   - embeddings get deterministic per-replica sign flips on ~3/7 of their
  *     coordinates (norms exactly preserved, cross-replica cosine pushed to
  *     ~0.14, far below every near-dup threshold);
  *   - nation/region stay fixed (TPC-H dimension semantics).
  * Replica 0 is the source corpus. Corpora chain: sf1.0 is generated from
  * sf0.1, sf10 from sf1.0.
  *
  * Usage: runMain graft.ScaleCorpus <srcDir> <outDir>
  * Generation is skipped when `outDir` already holds a corpus.
  */
object ScaleCorpus {

  val FACTOR = 10

  private def replicate(df: DataFrame): DataFrame =
    df.crossJoin(broadcast(
      org.apache.spark.sql.SparkSession.active.range(FACTOR)
        .withColumnRenamed("id", "rep")))

  /** `max(col) + 1`, the replica key step. The max is cast to long so
    * int-typed keys work, and an empty table (null max) degenerates to
    * step 1 instead of an NPE. */
  private[graft] def step(df: DataFrame, k: String): Long = {
    val m = df.agg(max(col(k)).cast("long")).first()
    Option(m.get(0)).fold(0L)(_.asInstanceOf[Long]) + 1L
  }

  /** `col + rep * step(col)`, so replica key spaces never collide. */
  private[graft] def offset(df: DataFrame, keys: String*): DataFrame = {
    val steps: Map[String, Long] = keys.map(k => k -> step(df, k)).toMap
    val rep = replicate(df)
    keys.foldLeft(rep)((d, k) =>
      d.withColumn(k, col(k) + col("rep") * lit(steps(k))))
  }

  def generate(spark: SparkSession, src: String, out: String): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    // 32 output files per table: a replicate of a single-file input would
    // otherwise write ONE parquet file with ONE row group — unsplittable,
    // so every shuffle-free scan probes at 1/32 of the machine (measured:
    // t33 at sf10 ran one core, load avg 1.0, 617 s for ~20 s of work).
    // Row order changes under the repartition; every registered query has
    // a total ORDER BY, so results are unaffected.
    def write(df: DataFrame, t: String): Unit = {
      df.drop("rep").repartition(32).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      System.err.println(s"[scale] wrote $t")
    }

    write(offset(read("lineitem"), "l_orderkey", "l_partkey", "l_suppkey"),
      "lineitem")
    write(offset(read("orders"), "o_orderkey", "o_custkey"), "orders")
    write(offset(read("customer"), "c_custkey"), "customer")
    write(offset(read("supplier"), "s_suppkey"), "supplier")
    write(offset(read("part"), "p_partkey"), "part")
    // fixed-size dimensions: copy once, no replication
    write(read("nation"), "nation")
    write(read("region"), "region")

    // documents: distinct token space per replica (suffix every token with
    // '§'+replica id; replica 0 keeps the original text byte-for-byte).
    // The '§' separator cannot appear in corpus tokens, so a token that
    // already ends in digits ("w1" in replica 0) can never equal another
    // token's suffixed form ("w"+"1" in replica 1).
    // NULL text stays NULL — concat_ws would quietly turn it into "".
    write(offset(read("documents"), "doc_id")
      .withColumn("text", when(col("text").isNull || col("rep") === 0,
          col("text"))
        .otherwise(concat_ws(" ",
          expr("transform(split(text, ' '), t -> concat(t, '§', rep))"))))
      .withColumn("n_chars", when(col("text").isNull, col("n_chars"))
        .otherwise(length(col("text")))),
      "documents")

    // embeddings: norm-preserving deterministic sign flips decorrelate the
    // replicas (pmod(..., 7) < 3 flips ~3/7 of coordinates -> expected
    // cross-replica cosine ~ 1 - 2*(3/7) ~ 0.14).
    write(offset(read("embeddings"), "vec_id")
      .withColumn("embedding", expr(
        """CASE WHEN rep = 0 THEN embedding
          |ELSE transform(embedding, (x, j) ->
          |  CASE WHEN pmod((j + 1) * 2654435761 + rep * 97, 7) < 3
          |       THEN -x ELSE x END)
          |END""".stripMargin).cast("array<float>")),
      "embeddings")

    // events: normalize ts to a real TIMESTAMP before writing. The driver
    // corpus stores TIMESTAMP_NS, which this session's nanosAsLong config
    // reads as BIGINT — written back as BIGINT the DuckDB-side oracles
    // (epoch_us/date_trunc over ts) stop binding on the synthesized
    // corpus. Sources.events accepts either representation, so the engine
    // is indifferent; micros precision is what the engine normalizes to
    // anyway. Chained generation (sf10 from sf1.0) reads the already-
    // converted TIMESTAMP and passes through.
    val ev = graft.io.Sources.normalizeEventTs(read("events"))
    write(offset(ev, "event_id", "user_id"), "events")
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: runMain graft.ScaleCorpus <srcDir> <outDir>")
    val Array(src, out) = args
    // a corpus is present if lineitem.parquet is either a single parquet
    // FILE (the driver's testdata layout) or a Spark-written DIRECTORY
    // with a _SUCCESS marker (a generated corpus)
    val li = new java.io.File(s"$out/lineitem.parquet")
    if (li.isFile || new java.io.File(li, "_SUCCESS").exists()) {
      System.err.println(s"[scale] $out already holds the corpus, skipping")
      return
    }
    val spark = SparkEntry.localSession()
    System.err.println(s"[scale] generating ${FACTOR}x of $src at $out")
    generate(spark, src, out)
    spark.stop()
  }
}
