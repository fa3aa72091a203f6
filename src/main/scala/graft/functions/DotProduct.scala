package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, InSet}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, typedLit}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import scala.collection.immutable.HashSet
import scala.reflect.runtime.universe.TypeTag

/** Native codegen'd dot product over two ArrayType(Double) columns.
  *
  * This is the tier-(b) custom operator (custom Catalyst `Expression`
  * beats a Scala UDF beats interpreted higher-order functions): the
  * generated code is a primitive loop over the unsafe array data — no
  * boxing, no lambda dispatch, stays inside whole-stage codegen, so the
  * surrounding filter/project pipeline fuses into one JIT'd method.
  *
  * Accumulation is ascending-index sequential — bit-identical to DuckDB's
  * `list_dot_product` on DOUBLE[] (oracle parity) and to the interpreted
  * `aggregate(zip_with(...))` rendering it replaces.
  *
  * Null semantics: null if either array is null (BinaryExpression default);
  * null *elements* contribute as 0.0 via the unsafe getDouble contract —
  * embeddings carry no null elements (FIXTURES.md).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires two array<double> arguments, got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Fused cosine similarity: dot(a,b) / (‖a‖·‖b‖) with all three
  * accumulators carried through ONE loop over the arrays — one traversal
  * where the composed `dot(e,q)/ (sqrt(dot(e,e))·sqrt(dot(q,q)))`
  * rendering takes three. Each accumulator still sums in ascending index
  * order and the final combine is the same `s / (sqrt(na)·sqrt(nb))`
  * expression, so results are BIT-IDENTICAL to the composition (and to
  * the DuckDB oracle) — the fusion changes traversal count, not
  * arithmetic.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine requires two array<double> arguments, got ${l.sql} and ${r.sql}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i); val yi = y.getDouble(i)
      s += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    s / (math.sqrt(na) * math.sqrt(nb))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $a.getDouble($i);
         |  double $yi = $b.getDouble($i);
         |  $s += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
         |}
         |${ev.value} = $s / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object GraftFunctions {
  private[functions] val fns: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (es: Seq[Expression]) => DotProduct(es.head, es(1))),
    (new FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      (es: Seq[Expression]) => CosineSimilarity(es.head, es(1))),
    (new FunctionIdentifier("graft_lev_leq"),
      new ExpressionInfo(classOf[BoundedLevenshtein].getName, "graft_lev_leq"),
      (es: Seq[Expression]) => BoundedLevenshtein(es.head, es(1), es(2))),
    (new FunctionIdentifier("graft_in_set"),
      new ExpressionInfo(classOf[InSet].getName, "graft_in_set"),
      (es: Seq[Expression]) => inSetOf(es.head, es(1))))

  /** `graft_in_set(c, values)`: Catalyst's `InSet` of `c` over a constant
    * array, its elements cast to `c`'s type. Generated code reads the
    * values from a referenced hash set, where `=` and a short `IN` list
    * write each value into the Java source, so a plan that tests a
    * per-request value this way compiles one class for all values. That
    * needs `spark.sql.optimizer.inSetSwitchThreshold` at 0, as
    * [[graft.Sessions.builder]] sets it: an integral set no larger than
    * it compiles to a `switch` over its values. The `InSet` still pushes
    * to a file scan as `In(c, […])` and prunes buckets like an `IN` list.
    */
  private def inSetOf(c: Expression, values: Expression): Expression = {
    require(values.foldable, s"graft_in_set needs a constant array, got ${values.sql}")
    val cast = Cast(values, ArrayType(c.dataType), Some(SQLConf.get.sessionLocalTimeZone))
    val data = cast.eval()
    // Always a HashSet: generated code casts the referenced set to its
    // runtime class, and a plain Set of up to 4 items is Set1..Set4.
    InSet(c, if (data == null) HashSet.empty
      else HashSet.from(data.asInstanceOf[ArrayData].toSeq[Any](c.dataType)))
  }

  /** `c` in `values` as [[inSetOf]]'s `InSet`: the set is referenced by
    * the generated code, not written into it.
    */
  private[graft] def inSet[T: TypeTag](c: Column, values: Seq[T]): Column =
    call_function("graft_in_set", c, typedLit(values))

  /** Idempotent per-session registration — works on any session, including
    * ones created without the extensions config.
    */
  def register(spark: SparkSession): Unit =
    fns.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
}

/** `spark.sql.extensions` injection (the standard deployment path on a
  * shared cluster: every session gets the full graft surface without code
  * changes) — the functions, the as-of optimizer rule, and the as-of
  * planner strategy. `AsofJoin.apply` also injects the latter two
  * idempotently at call time via `spark.experimental`, so ad-hoc local
  * sessions work without this config; a cluster sets
  * `spark.sql.extensions=graft.functions.GraftExtensions` once instead.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.fns.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofJoin)
    ext.injectOptimizerRule(_ => RewriteLevenshteinBound)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}
