package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{Sinks, Sources}

/** S8/S9 + lake-sink round trips (reference: src/transform.py:447-448,
  * src/extract.py:450-452). */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Runs `body` on an `out` path inside a fresh temp directory, deleted
    * afterwards. */
  private def withOut[A](name: String)(body: String => A): A =
    SparkTestSession.withTempDir(name)(dir => body(dir.resolve("out").toString))

  private lazy val df = Sources.stockFromLineitem(spark, "/root/testdata/sf0.001")
    .limit(200).cache()

  test("CSV sink round-trips with header") {
    withOut("graft-csv") { path =>
      Sinks.writeCsv(df.select("symbol", "date", "close"), path)
      val back = spark.read.option("header", "true").csv(path)
      assert(back.count() == 200)
      assert(back.columns.toSeq == Seq("symbol", "date", "close"))
    }
  }

  test("JSON sink round-trips values") {
    withOut("graft-json") { path =>
      Sinks.writeJson(df.select("rid", "close"), path)
      val back = spark.read.json(path)
      assert(back.count() == 200)
      assert(back.agg(sum("rid")).head.getLong(0) ==
        df.agg(sum("rid")).head.getLong(0))
    }
  }

  test("ORC sink round-trips values and preserves types") {
    withOut("graft-orc") { path =>
      Sinks.writeOrc(df.select("rid", "symbol", "close"), path)
      val back = spark.read.orc(path)
      assert(back.count() == 200)
      assert(back.schema("close").dataType.typeName == "double")
      assert(back.agg(sum("rid")).head.getLong(0) ==
        df.agg(sum("rid")).head.getLong(0))
    }
  }

  test("JDBC sink appends with batching (embedded Derby round-trip)") {
    // Derby ships in /opt/spark/jars (the Hive-metastore dependency), so the
    // S6 surface gets a real in-process database: create-on-first-append,
    // then append again and expect accumulation (reference: src/load.py:252
    // if_exists='append').
    SparkTestSession.withTempDir("graft-derby") { home =>
      System.setProperty("derby.system.home", home.toString) // keep derby.log out of cwd
      val url = s"jdbc:derby:${home.resolve("db")};create=true"
      val props = new java.util.Properties()
      props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

      val slim = df.select("rid", "symbol", "close")
      Sinks.appendJdbc(slim, url, "stock_data", props, batchSize = 50)
      val once = spark.read.jdbc(url, "stock_data", props)
      assert(once.count() == 200)
      assert(once.agg(sum("rid")).head.getLong(0) ==
        slim.agg(sum("rid")).head.getLong(0))

      Sinks.appendJdbc(slim, url, "stock_data", props, batchSize = 50)
      assert(spark.read.jdbc(url, "stock_data", props).count() == 400)
    }
  }

  test("bucketed table eliminates the shuffle for per-symbol aggregation") {
    withOut("graft-bucketed") { path =>
      Sinks.writeBucketed(df, "stock_bucketed", path, buckets = 4)
      val agg = spark.table("stock_bucketed").groupBy("symbol")
        .agg(avg("close"), max("volume"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("hashpartitioning"),
        s"bucketed read should not exchange:\n$plan")
      assert(agg.count() == df.select("symbol").distinct().count())
    }
  }

  test("approx monitoring summary is close to exact at small scale") {
    val exact = df.select("symbol").distinct().count()
    val row = graft.analytics.Summary.approxSummary(df).head
    val approx = row.getAs[Long]("approx_symbols")
    assert(math.abs(approx - exact) <= math.max(2L, (exact * 0.05).toLong))
    assert(row.getAs[Long]("total_records") == 200)
  }

  test("z-ordered write clusters BOTH dimensions; a 1-d sort only one") {
    import spark.implicits._
    // 64x64 uniform lattice: global extent 63 in each dimension
    val lattice = spark.range(4096).select(
      (col("id") % 64).as("x"), floor(col("id") / 64).cast("long").as("y"),
      col("id").as("payload"))

    def meanFileExtent(dir: String, c: String): Double = {
      val files = new java.io.File(dir).listFiles
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      assert(files.length >= 8, s"expected >= 8 files, got ${files.length}")
      files.map { f =>
        val r = spark.read.parquet(f.getPath)
          .agg(min(col(c)).as("lo"), max(col(c)).as("hi")).head
        (r.getLong(1) - r.getLong(0)).toDouble
      }.sum / files.length
    }

    withOut("graft-zorder") { zdir =>
      Sinks.writeZOrdered(lattice, zdir, "x", "y", numFiles = 16)
      val (zx, zy) = (meanFileExtent(zdir, "x"), meanFileExtent(zdir, "y"))
      // 16 files x 256 cells = one 16x16 z-block each -> extent ~15 per dim;
      // anything < half the global extent proves BOTH dims cluster
      assert(zx < 32 && zy < 32, s"z-order did not cluster both dims: x=$zx y=$zy")

      // the 1-d baseline: range-sorted by x alone clusters x but leaves y
      // spanning the full lattice in every file
      withOut("graft-sorted1d") { sdir =>
        lattice.repartitionByRange(16, col("x")).sortWithinPartitions("x")
          .write.mode("overwrite").parquet(sdir)
        val (sx, sy) = (meanFileExtent(sdir, "x"), meanFileExtent(sdir, "y"))
        assert(sx < 32, s"1-d sort should cluster x: $sx")
        assert(sy > 48, s"1-d sort should NOT cluster y (got $sy) — the z-order advantage")
      }
    }
  }

  test("partitioned lake sink prunes by symbol") {
    withOut("graft-lake") { path =>
      Sinks.writePartitioned(df, path)
      val symbols = df.select("symbol").distinct().count()
      val dirs = new java.io.File(path).listFiles().count(_.getName.startsWith("symbol="))
      assert(dirs == symbols)
      // a per-symbol read touches one partition directory
      val one = df.select("symbol").head.getString(0)
      val pruned = spark.read.parquet(path).filter(col("symbol") === one)
      assert(pruned.count() == df.filter(col("symbol") === one).count())
    }
  }
}
