package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, Descending, GenericInternalRow, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions.col

/** Whole-operator as-of join — the custom `LogicalPlan` + `Strategy` +
  * `SparkPlan` tier ((c) in the build guidance), for the operator class
  * Catalyst can't express natively.
  *
  * The DataFrame-composed form (`operators.AsOfJoin`) unions both sides
  * and window-fills: ONE shuffle, but the sort runs over left+right rows
  * together and every left row drags a null payload struct through it.
  * This physical operator instead declares
  * `requiredChildDistribution = ClusteredDistribution(keys)` per side and
  * `requiredChildOrdering = (keys asc, time walk-direction)`, letting
  * EnsureRequirements plan two SMALLER co-partitioned sorts; `doExecute`
  * then merge-walks the two sorted iterators per partition holding ONE
  * candidate right row — O(1) state, no union blowup, no window buffer.
  * At 100 TB: same shuffle count as the union plan, ~half the sort
  * payload, and the payload struct never travels with left rows.
  *
  * Measured at sf0.1 (100k x 150k, warm medians, recorded in SCALE.md
  * "Custom operators"): BOTH forms materializing the payload — exec
  * 0.93s vs window 0.88s (1.06x);
  * AQE off, exec wins 0.22s vs 0.25s. BENCH_r02's "3.8x slower" was not
  * merge cost: a COUNT over the window form constant-folds its right
  * branch away (`_side = 1` filter), while the custom node was an
  * optimizer black box running the full join — fixed by [[PruneAsOfJoin]]
  * exposing row-preservation to Catalyst, after which the counted bench
  * form (q48 0.16s) edges out the window form (q35 0.19s). Per-row merge
  * costs that made the first version lose even materialized: re-projecting
  * the right head per LEFT row and two buffer copies per advanced right
  * row — now head projections are cached until the head moves and the
  * payload is held by reference into the projection's reuse buffer.
  */
case class AsOfJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    payload: Seq[Attribute], forward: Boolean) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, p, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, p, fwd) :: Nil
    case _ => Nil
  }
}

/** Optimizer rules exposing the as-of node's algebra to Catalyst. A custom
  * logical operator is a black box to the built-in rules, which silently
  * costs the optimizations every native operator gets for free — e.g. a
  * `COUNT(*)` over the union+window as-of collapses to a scan of the left
  * table (constant-folding kills the `_side = 1` filter's right branch),
  * while the same count over an opaque `AsOfJoinNode` ran the full join
  * (BENCH_r02's q48-vs-q35 3.8x was exactly this, not merge-walk cost).
  *
  * Two safe algebraic facts, both from row-preservation (the as-of join
  * emits EXACTLY one row per left row, payload null-extended):
  *  - payload unused upstream => the node IS its left child;
  *  - a predicate over left columns only commutes below the node.
  * Only Project/Aggregate parents are matched for the elimination — they
  * re-declare their output, so dropping unused child attributes is safe;
  * pass-through parents (Limit, Union, Sort) are not, their output would
  * silently narrow.
  */
object PruneAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Project}

  private def payloadUnused(refs: AttributeSet, a: AsOfJoinNode): Boolean =
    a.output.drop(a.left.output.length).forall(p => !refs.contains(p))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(_, a: AsOfJoinNode) if payloadUnused(p.references, a) =>
      p.copy(child = a.left)
    case g: Aggregate if g.child.isInstanceOf[AsOfJoinNode] &&
        payloadUnused(g.references, g.child.asInstanceOf[AsOfJoinNode]) =>
      g.withNewChildren(Seq(g.child.asInstanceOf[AsOfJoinNode].left))
    case f @ Filter(cond, a: AsOfJoinNode)
        if cond.deterministic &&
          cond.references.subsetOf(AttributeSet(a.left.output)) =>
      // the deterministic guard mirrors Catalyst's PushDownPredicates: a
      // rand()-style predicate evaluates differently before vs after the
      // node's shuffle+sort reorders rows
      a.copy(left = Filter(cond, a.left))
  }
}

case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute,
    payload: Seq[Attribute], forward: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  // keys ascending on both sides; time walks forward (asc) for backward
  // as-of and backward (desc) for forward as-of, so the merge below only
  // ever looks at the buffered head
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val dir = if (forward) Descending else Ascending
    Seq(
      leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, dir),
      rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, dir))
  }

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lOutput = left.output
    val rOutput = right.output
    val lKeysB = leftKeys
    val rKeysB = rightKeys
    val lTimeB = leftTime
    val rTimeB = rightTime
    val payloadB = payload
    val fwd = forward
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lKeyProj = UnsafeProjection.create(lKeysB, lOutput)
      val rKeyProj = UnsafeProjection.create(rKeysB, rOutput)
      val lTimeProj = UnsafeProjection.create(Seq(lTimeB), lOutput)
      val rTimeProj = UnsafeProjection.create(Seq(rTimeB), rOutput)
      val payloadProj = UnsafeProjection.create(payloadB, rOutput)
      // the joined row's payload side can be the all-null row for
      // unmatched lefts, so the projection must bind against NULLABLE
      // payload attributes (the declared output) — binding the original
      // right-side attrs would skip the null check and read 0/defaults
      val outProj = UnsafeProjection.create(outAttrs,
        lOutput ++ payloadB.map(_.withNullability(true)))
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeysB.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTimeB.dataType))
      val nullPayload: InternalRow = new GenericInternalRow(payloadB.length)
      val joined = new JoinedRow
      val rBuf = rIt.buffered

      new Iterator[InternalRow] {
        // the ONE candidate right row's payload, held BY REFERENCE into
        // `payloadProj`'s reuse buffer: that buffer is only overwritten at
        // the next usable advance — exactly the moment the newer payload
        // replaces the hold — so no per-row copy is needed. Only the held
        // KEY is copied, and only once per right key group (it must
        // outlive `rKeyProj`'s buffer, which advances with the head).
        private var heldKey: InternalRow = _
        private var heldPayload: InternalRow = _
        // cached projections of the current right head — valid until the
        // head advances; re-projecting per LEFT row is what made the
        // first version lose to the window form (BENCH_r02 q48)
        private var headValid = false
        private var headKey: UnsafeRow = _
        private var headTime: InternalRow = _

        private def loadHead(): Boolean = {
          if (!headValid && rBuf.hasNext) {
            val r = rBuf.head
            headKey = rKeyProj(r)
            headTime = rTimeProj(r)
            headValid = true
          }
          headValid
        }

        override def hasNext: Boolean = lIt.hasNext

        override def next(): InternalRow = {
          val l = lIt.next()
          val lk = lKeyProj(l)
          val lt = lTimeProj(l)
          var walking = true
          while (walking && loadHead()) {
            val kc = keyOrd.compare(headKey, lk)
            if (kc < 0) { // stale key group
              rBuf.next(); headValid = false
              heldKey = null; heldPayload = null
            } else if (kc == 0) {
              val tc = timeOrd.compare(headTime, lt)
              val usable = if (fwd) tc >= 0 else tc <= 0
              if (usable) {
                if (heldKey == null || keyOrd.compare(heldKey, headKey) != 0)
                  heldKey = headKey.copy()
                heldPayload = payloadProj(rBuf.next()); headValid = false
              } else walking = false
            } else walking = false
          }
          val p =
            if (heldKey != null && keyOrd.compare(heldKey, lk) == 0) heldPayload
            else nullPayload
          outProj(joined(l, p))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public surface: builds the logical node against analyzed children and
  * registers the strategy on the session (idempotent) — works without
  * any `spark.sql.extensions` config, and `GraftExtensions` injects it
  * too for configured sessions.
  */
object AsOfJoinPlan {

  def backward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
               leftTime: String, rightTime: String,
               rightPayload: Seq[String]): DataFrame =
    build(left, right, keyCols, leftTime, rightTime, rightPayload, forward = false)

  def forward(left: DataFrame, right: DataFrame, keyCols: Seq[String],
              leftTime: String, rightTime: String,
              rightPayload: Seq[String]): DataFrame =
    build(left, right, keyCols, leftTime, rightTime, rightPayload, forward = true)

  private def build(left: DataFrame, right: DataFrame, keyCols: Seq[String],
                    leftTime: String, rightTime: String,
                    rightPayload: Seq[String], forward: Boolean): DataFrame = {
    val spark = left.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    if (!spark.experimental.extraOptimizations.contains(PruneAsOfJoin))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PruneAsOfJoin

    // time types must agree for the merge ordering; align right to left
    // (date -> timestamp matches the union-plan's implicit coercion)
    val lTimeType = left.schema(leftTime).dataType
    val rightAligned0 =
      if (right.schema(rightTime).dataType == lTimeType) right
      else right.withColumn(rightTime, col(rightTime).cast(lTimeType))
    // deterministic right side: one row per (key, time), greatest payload
    // struct — identical rule to operators.AsOfJoin
    val rightAligned = graft.operators.AsOfJoin.dedupRight(
      rightAligned0, keyCols, rightTime, rightPayload)

    val lplan = left.queryExecution.analyzed
    val rplan = rightAligned.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column '$name' not found"))
    val node = AsOfJoinNode(
      lplan, rplan,
      keyCols.map(attr(lplan, _)), keyCols.map(attr(rplan, _)),
      attr(lplan, leftTime), attr(rplan, rightTime),
      rightPayload.map(attr(rplan, _)), forward)
    org.apache.spark.sql.graftops.PlanBridge.dataFrame(spark, node)
  }
}
