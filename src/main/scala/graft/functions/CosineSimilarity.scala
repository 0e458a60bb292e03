package graft.functions

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, col, lit, posexplode}
import org.apache.spark.sql.types._

/** Native Catalyst expression: cosine similarity of two numeric arrays.
  *
  * The engine's default vector path is declarative higher-order functions
  * (ext/Similarity — oracle-checkable). This expression is the next rung of
  * the extension ladder (custom Expression with doGenCode beats a Scala
  * UDF): one fused loop, no intermediate product array, no boxing, inlined
  * into whole-stage codegen. ImplicitCastInputTypes lifts array<float>
  * columns to array<double> automatically.
  *
  * Semantics: null-safe (null input -> null), null elements skipped,
  * zero-norm input -> null (matches SQL NULL-propagation style rather than
  * NaN).
  */
case class CosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression with ImplicitCastInputTypes {

  // return type inferred: AbstractDataType itself is private[sql]
  override def inputTypes = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    // mismatched dimensionality (corrupt/truncated embedding) -> null, not
    // a plausible-looking similarity over the shorter prefix
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xi = x.getDouble(i); val yi = y.getDouble(i)
        dot += xi * yi; na += xi * xi; nb += yi * yi
      }
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val denom = ctx.freshName("denom")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |      double xi = $a.getDouble($i);
         |      double yi = $b.getDouble($i);
         |      $dot += xi * yi; $na += xi * xi; $nb += yi * yi;
         |    }
         |  }
         |  double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |  if ($denom == 0.0) {
         |    ${ev.isNull} = true;
         |  } else {
         |    ${ev.value} = $dot / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Session-level registration for an already-running session, and the
  * one route the engine's own call sites take to the natives. For config-
  * driven injection use [[GraftExtensions]] instead
  * (`spark.sql.extensions=graft.functions.GraftExtensions`). */
object GraftFunctions {
  private[functions] val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_similarity" ->
      ((children: Seq[Expression]) => CosineSimilarity(children(0), children(1))),
    "heavy_hitters" ->
      ((children: Seq[Expression]) => HeavyHitters(children(0), children(1))),
    "top_k_by" ->
      ((children: Seq[Expression]) =>
        TopKByScore(children(0), children(1), children(2))),
    "kmv_sketch" ->
      ((children: Seq[Expression]) => KmvSketch(children(0), children(1))),
    "fold_text" ->
      ((children: Seq[Expression]) => FoldText(children(0))),
    "mat_vec_mul" ->
      ((children: Seq[Expression]) => MatVecMul(children(0), children(1))))

  // replace-always: after register(), SQL text resolves these names to the
  // native expressions even if something else claimed them earlier. The
  // engine itself never reads the public names: it goes through [[call]].
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }

  /** `name(args)` for one of the natives above, through [[resolve]]. */
  private[graft] def call(name: String, args: Column*): Column =
    resolve(name, all.toMap.apply(name))(args: _*)

  /** `name(args)`, resolved through the session registry entry
    * `graft_<name>`, which is registered with `builder` on first use. The
    * graft_ prefix keeps a user registration of the public name from
    * shadowing an engine path, and the registry is written once per
    * session rather than before every use. */
  private[graft] def resolve(name: String, builder: Seq[Expression] => Expression)(
      args: Column*): Column = {
    val registry = SparkSession.active.sessionState.functionRegistry
    val fn = s"graft_$name"
    if (!registry.functionExists(FunctionIdentifier(fn)))
      registry.createOrReplaceTempFunction(fn, builder, "built-in")
    call_function(fn, args: _*)
  }

  /** The `k` rows of each group with the highest `score`, ties to the
    * smaller `id`, through the bounded native `top_k_by` aggregate (see
    * [[TopKByScore]]). Output: the grouping columns, then `rank` (int,
    * 1 = best), `id` and `score`. */
  private[graft] def topKBy(grouped: RelationalGroupedDataset, score: Column,
                            id: Column, k: Int): DataFrame = {
    val tk = grouped.agg(call("top_k_by", score, id, lit(k)).as("tk"))
    val keys = tk.columns.filter(_ != "tk").map(col).toSeq
    tk.select(keys :+ posexplode(col("tk")).as(Seq("r", "t")): _*)
      .select(keys ++ Seq((col("r") + 1).cast("int").as("rank"),
        col("t.id").as("id"), col("t.score").as("score")): _*)
  }
}

/** The engine's `SparkSessionExtensions` entry point: injects the native
  * functions at session build time, so a cluster deployment enables them
  * with `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (no code changes in the user's job). */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[GraftExtensions].getName, name),
        builder))
    }
}
