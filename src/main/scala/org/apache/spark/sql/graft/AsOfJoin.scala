package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Custom whole-operator (SURVEY.md §7.4 tier (c), the TopKPerKey recipe):
  * backward AS-OF join.
  *
  * For every left row, attach the LATEST right row of the same key whose
  * "time" tuple is <= the left row's — the point-in-time lookup behind
  * feature stores, slowly-changing enrichment, and tick-data joins.
  *
  * Spark 4.1's own `Dataset.joinAsOf` does not serve here: it takes ONE
  * as-of column per side, so the callers' `(ts, id)` carry order has no
  * native form, and its equality keys never match NULL (this operator's
  * default is `matchNullKeys = true`, below). The other expressible
  * fallbacks are (a) the window formulation — union/self-join the right
  * side into the left and carry `last(value, ignoreNulls)` over an
  * unbounded-preceding window, which shuffles BOTH tables into one
  * partition-per-key sort and materializes every row through WindowExec —
  * or (b) a range join, which explodes to a pair blowup before a per-left
  * argmax. This operator is the plan a database would pick:
  *
  *   1. hash exchange both sides on the join key (EnsureRequirements
  *      inserts it from requiredChildDistribution, same as SortMergeJoin);
  *   2. sort each side by (key, time...) — also planner-inserted;
  *   3. one O(n+m) interleaved merge per partition with a last-known-carry:
  *      each right row is looked at once, nothing is buffered beyond one
  *      carried row per side.
  *
  * Ties: a right row at exactly the left row's time tuple DOES match
  * (<=, backward as-of); callers make the time tuple total (e.g. append a
  * unique id) for deterministic carries. Unmatched left rows emit
  * null-padded right columns (left-outer semantics). Semantically identical
  * to the window formulation, which stays as the DuckDB oracle.
  *
  * Null keys: by default (`matchNullKeys = true`) the merge compares
  * projected key bytes, so a null left key MATCHES a null right key
  * (row-equality, like a window PARTITION BY grouping nulls together).
  * Pass `matchNullKeys = false` for SQL join semantics — a left row with
  * any null key column emits null-padded right columns, exactly as an
  * equi-join predicate `l.k = r.k` would never fire on null. Both modes
  * share the same exchange+sort+merge plan; the flag only gates the final
  * match test.
  *
  * Direction: `forward = false` (default) is the backward join above.
  * `forward = true` attaches the EARLIEST right row at-or-after the left's
  * time tuple (the "next quote / next maintenance window" lookup). Same
  * exchange+sort plan, still one pass: rights strictly before the current
  * left are discarded permanently (later lefts are even later, so a
  * discarded right can never match again) and the buffered head — the
  * first right at-or-after — is the unique candidate; nothing is copied.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTimes: Seq[Expression],
    rightTimes: Seq[Expression],
    matchNullKeys: Boolean = true,
    forward: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTimes: Seq[Expression],
    rightTimes: Seq[Expression],
    matchNullKeys: Boolean = true,
    forward: Boolean = false) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
  // both sides arrive sorted by (key, time...): the merge is a single
  // forward pass, the sorts are the planner's (spillable, code-gen'd)
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys ++ leftTimes).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)),
    (rightKeys ++ rightTimes).map(SortOrder(_, org.apache.spark.sql.catalyst.expressions.Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val outAttrs = output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lMergeExprs = leftKeys ++ leftTimes
    val rMergeExprs = rightKeys ++ rightTimes
    val mergeTypes = lMergeExprs.map(_.dataType)
    left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
      val lMergeProj = UnsafeProjection.create(lMergeExprs, lOut)
      val rMergeProj = UnsafeProjection.create(rMergeExprs, rOut)
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val mergeOrd = RowOrdering.createNaturalAscendingOrdering(mergeTypes)
      val outProj = UnsafeProjection.create(outAttrs, outAttrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)
      val rBuf = rIt.buffered
      // last right row consumed with key == carriedKey (its time tuple is
      // the largest <= the left row that consumed it — rows arrive in time
      // order within a key)
      var carriedKey: InternalRow = null
      var carriedRow: InternalRow = null
      lIt.map { l =>
        val lMerge = lMergeProj(l)
        val lKey = lKeyProj(l)
        // SQL mode: a null in the left key tuple never matches (and byte
        // equality then implies the matched key is null-free too)
        val nullsOk = matchNullKeys ||
          (0 until lKeyExprs.size).forall(i => !lKey.isNullAt(i))
        val row: InternalRow = if (forward) {
          // discard rights strictly before l; the head (first at-or-after)
          // is the unique forward candidate — peeked, NOT consumed: later
          // lefts at the same time tuple may match it too
          while (rBuf.hasNext && mergeOrd.compare(rMergeProj(rBuf.head), lMerge) < 0)
            rBuf.next()
          if (nullsOk && rBuf.hasNext && rKeyProj(rBuf.head) == lKey) rBuf.head
          else nullRight
        } else {
          // consume every right row at-or-before the left's (key, time...)
          while (rBuf.hasNext && mergeOrd.compare(rMergeProj(rBuf.head), lMerge) <= 0) {
            val r = rBuf.next()
            carriedKey = rKeyProj(r).copy()
            carriedRow = r.copy()
          }
          if (nullsOk && carriedKey != null && carriedKey == lKey) carriedRow
          else nullRight
        }
        outProj(joined(l, row))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinNode(l, r, lk, rk, lt, rt, mnk, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, mnk, fwd) :: Nil
    case _ => Nil
  }
}

/** Public surface:
  * `AsOfJoin(left, right, leftOn, rightOn, leftTime, rightTime)` →
  * left-outer backward as-of DataFrame (all left columns + nullable right
  * columns). Time is a SEQUENCE so callers can pass (ts, unique_id) and get
  * a total, deterministic carry order. Plans in a session that has
  * [[RowNumberTopKRewrite.install]] (every `graft.GraftSession`).
  */
object AsOfJoin {
  def apply(left: DataFrame, right: DataFrame,
      leftOn: Seq[Column], rightOn: Seq[Column],
      leftTime: Seq[Column], rightTime: Seq[Column],
      matchNullKeys: Boolean = true,
      forward: Boolean = false): DataFrame = {
    val classic = left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def resolver(plan: LogicalPlan): Column => Expression = c =>
      ClassicDataset.ofRows(classic, plan).select(c)
        .queryExecution.analyzed.expressions.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case other => other
      }
    val lPlan = left.queryExecution.analyzed
    val rPlan0 = right.queryExecution.analyzed
    // self-join guard: a normal Dataset.join runs DeduplicateRelations, but
    // this node is spliced in post-analysis, so two sides sharing lineage
    // would carry the SAME exprIds and output/binding would be ambiguous.
    // Re-aliasing the right side's output mints fresh ids at its root —
    // ids below the Project no longer surface in this node's output.
    val rPlan =
      if (lPlan.outputSet.intersect(rPlan0.outputSet).isEmpty) rPlan0
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rPlan0.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()),
        rPlan0)
    val lRes = resolver(lPlan)
    val rRes = resolver(rPlan)
    ClassicDataset.ofRows(classic, AsOfJoinNode(lPlan, rPlan,
      leftOn.map(lRes), rightOn.map(rRes),
      leftTime.map(lRes), rightTime.map(rRes), matchNullKeys, forward))
  }
}
