package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` holds one named query per implemented operator from SURVEY §2
  * (definitions in [[Queries]]); `oracleSql` holds the DuckDB-equivalent SQL
  * with identical column aliases, rounding, and ordering ([[OracleSql]]).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's full transform stage (clean + dedup + all 18
    * derived feature columns) over the canonical stock mapping. */
  def entry(spark: SparkSession): DataFrame =
    Queries.pipelineFeatures(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = OracleSql.all

  /** The engine's local session, the only SparkSession builder in
    * src/main: `local[cpus]` with as many shuffle partitions, the UTC
    * session time zone and parquet nanosecond timestamps read as longs
    * (every oracle hash depends on those two), no UI, WARN logging. */
  def localSession(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The queries named in a comma-separated list, in list order. Names are
    * trimmed; an unknown name, or no name at all, throws, so a typo cannot
    * silently empty a run. */
  def select(names: String): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val wanted = names.split(",").toSeq.map(_.trim).filter(_.nonEmpty).distinct
    val unknown = wanted.filterNot(queries.contains)
    require(wanted.nonEmpty, s"no query named in '$names'")
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    wanted.map(n => n -> queries(n))
  }
}
