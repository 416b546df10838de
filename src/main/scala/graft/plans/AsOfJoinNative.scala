package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.unsafe.types.UTF8String

/** The as-of join as a first-class engine operator (SURVEY.md §2.5 J1
  * scale path; NOTES round-1 item 7): a custom logical node, planner
  * strategy, and physical merge join, registered on any live session
  * through `spark.experimental.extraStrategies`
  * ([[NativeAsOf.ensureRegistered]]).
  *
  * Where the composed form (operators.AsOfJoin) expresses backward
  * as-of via union + window, this operator IS the textbook physical
  * shape: both sides hash-distributed on the key and sorted by
  * (key, time) — Catalyst inserts exactly one exchange per side via
  * `requiredChildDistribution` — then a single forward merge pass per
  * partition emits each left row with the latest right values at or
  * before its time. No row expansion, no window buffering: O(L + R)
  * per partition with O(1) state, the shape that survives 100 TB.
  *
  * Tie-breaking matches operators.AsOfJoin: right rows at the same
  * (key, time) resolve to the greatest value tuple (the right child
  * is additionally sorted by the value columns, and the merge keeps
  * the LAST qualifying row).
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    rightVals: Seq[Attribute]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(planLater(n.left), planLater(n.right),
        n.leftKey, n.leftTime, n.rightKey, n.rightTime, n.rightVals) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, leftTime: Attribute,
    rightKey: Attribute, rightTime: Attribute,
    rightVals: Seq[Attribute]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ rightVals.map(_.withNullability(true))

  /** One hash exchange per side, clustered on the join key. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) ::
      ClusteredDistribution(rightKey :: Nil) :: Nil

  /** Per-partition (key, time) sort; right side additionally by the
    * value columns so same-timestamp ties resolve deterministically
    * (last = greatest value tuple). */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightVals.map(v => SortOrder(v, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyB = BindReferences.bindReference(leftKey: Expression, lOut)
    val lTimeB = BindReferences.bindReference(leftTime: Expression, lOut)
    val rKeyB = BindReferences.bindReference(rightKey: Expression, rOut)
    val rTimeB = BindReferences.bindReference(rightTime: Expression, rOut)
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val rVals = rightVals
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rvProj = UnsafeProjection.create(rVals, rOut)
      val resultProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullVals = new GenericInternalRow(rVals.length)
      val rBuf = rIter.buffered

      // primitive key/time values are immutable; UTF8String evals may
      // alias the row buffer and must be copied before buffering
      def own(v: Any): Any = v match {
        case s: UTF8String => s.clone()
        case x => x
      }

      var lastKey: Any = null
      var haveLast = false
      var lastVals: InternalRow = nullVals

      def advance(lKeyV: Any, lTimeV: Any): Unit = {
        var cont = true
        while (cont && rBuf.hasNext) {
          val r = rBuf.head
          val rKeyV = rKeyB.eval(r)
          val rTimeV = rTimeB.eval(r)
          if (rKeyV == null || rTimeV == null) { rBuf.next(); () } // null never joins
          else {
            val c = keyOrd.compare(rKeyV, lKeyV)
            if (c < 0 || (c == 0 && timeOrd.compare(rTimeV, lTimeV) <= 0)) {
              lastKey = own(rKeyV)
              haveLast = true
              lastVals = rvProj(r).copy()
              rBuf.next()
            } else cont = false
          }
        }
      }

      lIter.map { l =>
        val lKeyV = lKeyB.eval(l)
        val lTimeV = lTimeB.eval(l)
        if (lKeyV == null || lTimeV == null) resultProj(joined(l, nullVals))
        else {
          advance(lKeyV, lTimeV)
          val vals =
            if (haveLast && keyOrd.compare(lastKey, lKeyV) == 0) lastVals
            else nullVals
          resultProj(joined(l, vals))
        }
      }
    }
  }
}
