package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal joins Spark has no native operator for: backward as-of join and
  * range (interval-containment) join. Both are expressed by composition so
  * Catalyst keeps whole-stage codegen and AQE in play — preference (a) of
  * the custom-operator ladder; no custom SparkPlan is needed because the
  * semantics decompose exactly onto window aggregation / equi-join.
  *
  * Scale notes (the reason these shapes and not the obvious ones):
  *  - A naive as-of join is a non-equi theta join -> BroadcastNestedLoopJoin,
  *    quadratic per key. The union-and-window form below is ONE hash shuffle
  *    on the key plus one sort; the running `last(mark)` is an incremental
  *    frame, so each partition streams in O(n) with O(1) state.
  *  - A naive range join is a cartesian filtered after the fact. Bucketing
  *    time into fixed-width buckets turns it into an equi-join on the bucket
  *    id; each range replicates to ceil(len/width)+1 buckets, so with
  *    width >= max range length the blow-up factor is at most 2.
  */
object TemporalJoins {

  /** Backward as-of join: for every left row, attach the single most recent
    * right row with the same `keys` whose `rightTime` <= the left row's
    * `leftTime` (ties at the same instant DO match, like DuckDB/kdb ASOF
    * semantics). Left rows with no earlier right row keep null payloads
    * (LEFT semantics).
    *
    * Mechanics: right rows enter the union carrying their payload in a
    * non-null struct; a running `last(payload, ignoreNulls)` over
    * (keys ORDER BY time, side) — right rows sorting before left rows at
    * equal time — hands each left row its match. The struct keeps an
    * all-null right payload distinct from "no match".
    *
    * Requirements: `right` must be unique per (keys, rightTime) — pre-
    * aggregate if not, or the winner among equal-time rows is undefined;
    * `leftTime` and `rightTime` must be the same (orderable) type.
    */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String): DataFrame = {
    val (union, payloadCols) = tagged("asofBackward", left, right, keys,
      leftTime, rightTime, Seq("__side" -> 0), Seq("__m"))
    union
      .withColumn("__m", running(keys, col("__t"), col("__side")))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        payloadCols.map(c => col("__m").getField(c).as(c)): _*)
  }

  /** Forward as-of join: for every left row, attach the single EARLIEST
    * right row with the same `keys` whose `rightTime` >= the left row's
    * `leftTime` (ties at the same instant DO match — DuckDB `ASOF ... ON
    * l.t <= r.t` semantics). The event-study direction: "the next
    * observation at or after this event", where [[asofBackward]] answers
    * "the latest observation at or before it".
    *
    * Mechanics mirror the backward form with the ORDER reversed, not the
    * frame: a running `last(payload, ignoreNulls)` over (keys ORDER BY
    * time DESC, side DESC) ROWS UNBOUNDED PRECEDING..CURRENT — right rows
    * sorting before left rows at equal time in the descending order, so
    * the running frame still sees a same-instant right — hands each left
    * row its earliest at-or-after match. Same single hash shuffle + one
    * sort, O(n) per partition. Never `[current, unbounded following]`
    * with `first`: Spark's UnboundedFollowing frame recomputes the
    * aggregate per row — O(rows²) per partition (the x15 lesson; at
    * corpus partition sizes that quadratic is the whole query).
    *
    * Same requirements as asofBackward: `right` unique per
    * (keys, rightTime); time columns of one orderable type. */
  def asofForward(left: DataFrame, right: DataFrame, keys: Seq[String],
                  leftTime: String, rightTime: String): DataFrame = {
    val (union, payloadCols) = tagged("asofForward", left, right, keys,
      leftTime, rightTime, Seq("__side" -> 1), Seq("__m"))
    union
      .withColumn("__m", running(keys, col("__t").desc, col("__side").desc))
      .filter(col("__side") === 0)
      .select(left.columns.map(col) ++
        payloadCols.map(c => col("__m").getField(c).as(c)): _*)
  }

  /** Nearest as-of join: for every left row, attach the right row with the
    * same `keys` whose `rightTime` is CLOSEST to the left row's `leftTime`
    * in either direction (pandas `merge_asof(direction='nearest')`). Ties
    * in distance resolve to the BACKWARD (at-or-before) match —
    * deterministic, and the convention that favors information already
    * known at event time. An optional `tolerance` (in the units of
    * `timeToLong`) discards matches farther than the bound, leaving null
    * payloads; `timeToLong` maps the time columns to a numeric axis
    * (default `cast("long")`; pass `unix_date` for DATE columns).
    *
    * Mechanics — ONE hash exchange, not two: both direction passes ride a
    * single union. Each side carries two tie-break columns (`__sb`: right
    * sorts before left at equal time ascending, for the backward running
    * `last`; `__sf`: right sorts before left at equal time DESCENDING,
    * for the forward pass — a running `last(ignoreNulls)` over (time
    * DESC, __sf DESC), the O(n) form of "earliest right at-or-after";
    * see [[asofForward]] for why never `[current, unbounded following]`),
    * and the two window specs share the `keys` hash partitioning, so
    * Catalyst plans one Exchange and two in-partition sorts. Composing
    * [[asofBackward]] + [[asofForward]] would shuffle the (growing) left
    * side twice; at 100 TB the second exchange is the bottleneck, the
    * second sort is not.
    *
    * Same requirements as asofBackward: `right` unique per
    * (keys, rightTime); time columns of one orderable type. */
  def asofNearest(left: DataFrame, right: DataFrame, keys: Seq[String],
                  leftTime: String, rightTime: String,
                  tolerance: Option[Long] = None,
                  timeToLong: Column => Column = _.cast("long")): DataFrame = {
    val (union, payloadCols) = tagged("asofNearest", left, right, keys,
      leftTime, rightTime, Seq("__sb" -> 0, "__sf" -> 1), Seq("__mb", "__mf"))
    val matched = union
      .withColumn("__mb", running(keys, col("__t"), col("__sb")))
      .withColumn("__mf", running(keys, col("__t").desc, col("__sf").desc))
      .filter(col("__sb") === 1)
    val lt = timeToLong(col("__t"))
    val db0 = lt - timeToLong(col("__mb").getField(rightTime))
    val df0 = timeToLong(col("__mf").getField(rightTime)) - lt
    val db = tolerance.fold(db0)(t => when(db0 <= t, db0))
    val df = tolerance.fold(df0)(t => when(df0 <= t, df0))
    val useBack = db.isNotNull && (df.isNull || db <= df)
    matched.select(left.columns.map(col) ++ payloadCols.map { c =>
      when(useBack, col("__mb").getField(c))
        .when(df.isNotNull, col("__mf").getField(c)).as(c)
    }: _*)
  }

  /** The union every as-of join runs its passes over: left rows keep their
    * columns, right rows bring `keys` and their payload (every non-key
    * column) as one non-null `__mark` struct, and both carry their time as
    * `__t`. Each `(name, v)` of `sideTags` tags right rows `v` and left
    * rows `1 - v`: a pass orders each key's rows by `__t` and its tag, so
    * the tag decides which side sorts first at equal time. The tag
    * columns, `__t`, `__mark` and the pass outputs `outs` are reserved
    * names; a payload column named like a left column is rejected. Returns
    * the union and the payload column names. */
  private def tagged(caller: String, left: DataFrame, right: DataFrame,
                     keys: Seq[String], leftTime: String, rightTime: String,
                     sideTags: Seq[(String, Int)],
                     outs: Seq[String]): (DataFrame, Seq[String]) = {
    val reserved = Seq("__t") ++ sideTags.map(_._1) ++ Seq("__mark") ++ outs
    require(!(left.columns ++ right.columns).exists(reserved.contains),
      s"column names ${reserved.mkString("/")} are reserved by $caller")
    val payloadCols = right.columns.filterNot(keys.contains).toSeq
    val clash = payloadCols.toSet intersect left.columns.toSet
    require(clash.isEmpty,
      s"right payload columns collide with left columns (rename first): $clash")
    val rTagged = right.select(
      keys.map(col) ++ Seq(col(rightTime).as("__t")) ++
        sideTags.map { case (n, v) => lit(v).as(n) } ++
        Seq(struct(payloadCols.map(col): _*).as("__mark")): _*)
    val markType = rTagged.schema("__mark").dataType
    val lTagged = left.select(
      left.columns.map(col) ++ Seq(col(leftTime).as("__t")) ++
        sideTags.map { case (n, v) => lit(1 - v).as(n) } ++
        Seq(lit(null).cast(markType).as("__mark")): _*)
    (lTagged.unionByName(rTagged, allowMissingColumns = true), payloadCols)
  }

  /** One pass: the last non-null `__mark` over each key's rows up to the
    * current one, in `order`. A running frame, so each partition streams
    * in O(n) with O(1) state. */
  private def running(keys: Seq[String], order: Column*): Column =
    last(col("__mark"), ignoreNulls = true).over(Window
      .partitionBy(keys.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** Range join: every (point, range) pair with the same join keys and
    * `rangeStart <= pointTs < rangeEnd` (half-open interval). All three
    * time expressions must be castable to LONG on a shared epoch (days,
    * seconds — caller's choice, e.g. `unix_date`).
    *
    * `bucketWidth` is the equi-join granularity: pick it at or above the
    * maximum range length so each range lands in at most 2 buckets. Empty
    * and inverted ranges (end <= start) are dropped. `keys` are
    * (pointColumn, rangeColumn) equality pairs; the two sides' column names
    * must be disjoint (rename before calling, as with any self-join).
    */
  def rangeJoinBucketed(points: DataFrame, pointTs: Column,
                        ranges: DataFrame, rangeStart: Column, rangeEnd: Column,
                        bucketWidth: Long,
                        keys: Seq[(Column, Column)] = Nil): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val overlap = points.columns.toSet intersect ranges.columns.toSet
    require(overlap.isEmpty,
      s"point/range column names must be disjoint (rename before joining): $overlap")
    val p = points
      .withColumn("__pt", pointTs.cast("long"))
      .withColumn("__pb", floor(col("__pt") / bucketWidth))
    val r = ranges
      .withColumn("__rs", rangeStart.cast("long"))
      .withColumn("__re", rangeEnd.cast("long"))
      .filter(col("__re") > col("__rs"))
      .withColumn("__rb", explode(sequence(
        floor(col("__rs") / bucketWidth),
        floor((col("__re") - 1) / bucketWidth))))
    val cond = keys.foldLeft(col("__pb") === col("__rb")) {
      case (acc, (pk, rk)) => acc && pk === rk
    }
    p.join(r, cond)
      .filter(col("__pt") >= col("__rs") && col("__pt") < col("__re"))
      .drop("__pt", "__pb", "__rs", "__re", "__rb")
  }
}
