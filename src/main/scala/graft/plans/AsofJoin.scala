package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  And, Ascending, Attribute, AttributeReference, AttributeSet,
  GenericInternalRow, JoinedRow, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.unsafe.types.UTF8String

/** Native as-of join — the tier-(c) custom operator of the extension
  * ladder (compose > custom Expression > custom LogicalPlan + Strategy +
  * SparkPlan > mapPartitions): whole-operator semantics Spark's built-in
  * operators can only emulate (x20's window carry-forward is the tier-(a)
  * composition of the SAME semantics, and shares its oracle with the
  * declared query over this plan).
  *
  * Reference tie-in: a async-pipes user renders "most recent prior
  * observation" as a stateful stage holding the running last value per
  * key behind a mutex (`/root/reference/src/lib.rs:161-185`); here the
  * same semantics are a declarative plan node the optimizer can place,
  * co-partition, and reuse exchanges around.
  *
  * Semantics: for every left row, the value of the LAST right row with the
  * same key that falls STRICTLY before it in ((time, tie)) lexicographic
  * order — null if no such row. This matches the reference-style "most
  * recent prior observation" join (x20: most recent prior purchase).
  *
  * Physical execution: both children hash-repartitioned on the key and
  * sorted by (key, time, tie) — declared via requiredChildDistribution /
  * requiredChildOrdering, so Catalyst's EnsureRequirements inserts the
  * exchanges and sorts (and reuses existing ones when an upstream
  * operator already partitioned compatibly — the thing a mapPartitions
  * rendering can never tell the optimizer). The merge itself is a single
  * forward pass per partition: O(n_left + n_right), no buffering beyond
  * one remembered value per key. At 100 TB: one shuffle per side, no
  * skew beyond the key distribution itself, and the sort is the same one
  * a SortMergeJoin would pay.
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute, leftTie: Attribute,
    rightKey: Attribute, rightTime: Attribute, rightTie: Attribute,
    rightValue: Attribute, outAttr: AttributeReference)
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output :+ outAttr
  override def producedAttributes: AttributeSet = AttributeSet(outAttr)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Injected optimizer rule: push deterministic left-side predicates
  * BELOW the as-of join. Catalyst's own PushDownPredicates cannot see
  * through an unknown node, so without this rule `asof.filter(p)` scans
  * and joins everything and filters last; with it, a left-only predicate
  * lands adjacent to the left relation, where FileSourceStrategy turns
  * it into a parquet PushedFilter at physical planning. Sound because a
  * left row's match depends only on the right side — dropping left rows
  * never changes another row's result. (Right-side pushdown is NOT sound:
  * right rows filtered out could have been some left row's match.)
  */
object PushFilterThroughAsofJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case f @ Filter(cond, aj: AsofJoinNode) =>
      val (pushable, kept) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.subsetOf(aj.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(pushable.reduce(And), aj.left))
        kept.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Planner rule: lower the logical node to its physical operator. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, lt, lti, rk, rt, rti, rv, out) =>
      AsofJoinExec(planLater(l), planLater(r),
        lk, lt, lti, rk, rt, rti, rv, out) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTime: Attribute, leftTie: Attribute,
    rightKey: Attribute, rightTime: Attribute, rightTie: Attribute,
    rightValue: Attribute, outAttr: AttributeReference)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outAttr

  // Co-partition both sides on the key with a PINNED partition count so
  // the per-partition zip below is sound even under AQE.
  override def requiredChildDistribution: Seq[Distribution] = Seq(
    ClusteredDistribution(Seq(leftKey),
      requiredNumPartitions = Some(conf.numShufflePartitions)),
    ClusteredDistribution(Seq(rightKey),
      requiredNumPartitions = Some(conf.numShufflePartitions)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending),
      SortOrder(leftTie, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending),
      SortOrder(rightTie, Ascending)))

  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lOrds = Seq(leftKey, leftTime, leftTie)
    val rOrds = Seq(rightKey, rightTime, rightTie)
    val keyType = leftKey.dataType
    val types = lOrds.map(_.dataType)
    val lOrdinals = lOrds.map(a => left.output.indexWhere(_.exprId == a.exprId))
    val rOrdinals = rOrds.map(a => right.output.indexWhere(_.exprId == a.exprId))
    val rValOrdinal = right.output.indexWhere(_.exprId == rightValue.exprId)
    val valType = rightValue.dataType
    val outSchema = output
    val leftSchema = left.output

    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val ordering = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .createNaturalAscendingOrdering(types)
      val keyOrdering = org.apache.spark.sql.catalyst.expressions.RowOrdering
        .createNaturalAscendingOrdering(Seq(keyType))

      // (key, time, tie) triples as 3-col GenericInternalRows, copied out
      // of the (reused) unsafe rows only for the remembered state.
      def triple(row: InternalRow, ords: Seq[Int]): GenericInternalRow = {
        val a = new Array[Any](3)
        var i = 0
        while (i < 3) { a(i) = copyVal(row.get(ords(i), types(i))); i += 1 }
        new GenericInternalRow(a)
      }
      def copyVal(v: Any): Any = v match {
        case s: UTF8String => s.copy()
        case other => other // primitives / null — safe to hold
      }
      def keyRow(v: Any) = new GenericInternalRow(Array[Any](copyVal(v)))

      val proj = UnsafeProjection.create(outSchema, leftSchema :+ outAttr)
      val joined = new JoinedRow
      val valueHolder = new GenericInternalRow(1)

      new Iterator[InternalRow] {
        private var lastMatchedKey: InternalRow = _
        private var lastMatchedValue: Any = _
        private var pendingRight: InternalRow = _

        override def hasNext: Boolean = lIt.hasNext
        override def next(): InternalRow = {
          val lRow = lIt.next()
          val lTriple = triple(lRow, lOrdinals)
          // Advance the right side through every row strictly before the
          // current left row in (key, time, tie) order, remembering the
          // most recent one's (key, value).
          var advancing = true
          while (advancing) {
            if (pendingRight == null && rIt.hasNext) pendingRight = rIt.next()
            if (pendingRight != null &&
                ordering.compare(triple(pendingRight, rOrdinals), lTriple) < 0) {
              lastMatchedKey = keyRow(pendingRight.get(rOrdinals.head, keyType))
              lastMatchedValue = copyVal(pendingRight.get(rValOrdinal, valType))
              pendingRight = null
            } else advancing = false
          }
          val matched = lastMatchedKey != null &&
            keyOrdering.compare(lastMatchedKey,
              keyRow(lRow.get(lOrdinals.head, keyType))) == 0
          valueHolder.update(0, if (matched) lastMatchedValue else null)
          proj(joined(lRow, valueHolder))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsofJoin(left, right, "key", "time", "tie", "value",
  * "out_name")` — resolves columns on the analyzed children, injects the
  * planner strategy (idempotently) and returns the joined DataFrame.
  */
object AsofJoin {
  def apply(left: DataFrame, right: DataFrame,
      key: String, time: String, tie: String,
      value: String, outName: String): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsofJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(PushFilterThroughAsofJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PushFilterThroughAsofJoin
    plan(left, right, key, time, tie, value, outName)
  }

  /** Build the node WITHOUT runtime injection — for sessions whose rule +
    * strategy come from `spark.sql.extensions=graft.functions.GraftExtensions`
    * (the cluster deployment path; PlanAudit proves it end-to-end).
    */
  def plan(left: DataFrame, right: DataFrame,
      key: String, time: String, tie: String,
      value: String, outName: String): DataFrame = {
    val spark = left.sparkSession
    // Both sides as the analyzer resolves a join of them: when they read
    // the same relation (one cached `Tables` frame), the right side gets
    // fresh attributes, as the right side of a self-join does.
    val (lPlan, rPlan) = left.crossJoin(right).queryExecution.analyzed match {
      case j: Join => (j.left, j.right)
      case p => throw new IllegalStateException(s"asof join: unexpected analyzed join $p")
    }
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof join: no column '$n' in ${p.output.map(_.name).mkString(", ")}"))
    val rv = attr(rPlan, value)
    val out = AttributeReference(outName, rv.dataType, nullable = true)()
    org.apache.spark.sql.GraftInternal.ofRows(spark,
      AsofJoinNode(lPlan, rPlan,
        attr(lPlan, key), attr(lPlan, time), attr(lPlan, tie),
        attr(rPlan, key), attr(rPlan, time), attr(rPlan, tie), rv, out))
  }
}
