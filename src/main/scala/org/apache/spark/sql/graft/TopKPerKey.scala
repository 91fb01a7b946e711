package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Custom whole-operator (SURVEY.md §7.4 tier (c); the preference-order
  * "(c) custom LogicalPlan + Strategy + SparkPlan" path): per-key top-k.
  *
  * Spark expresses per-group top-k as window row_number + filter, which
  * SORTS every group fully and materializes every input row through the
  * WindowExec before filtering — at 100 TB that is a full shuffle of the
  * fact table plus an O(n log n) sort per partition. This operator instead:
  *
  *   1. partial pass (map side): bounded heap of k rows per key per input
  *      partition — shuffle carries ≤ k·keys·partitions rows, like a
  *      combiner;
  *   2. hash exchange on the keys (inserted automatically by
  *      EnsureRequirements via requiredChildDistribution);
  *   3. final pass: same bounded heap per key over the ≤ k·partitions
  *      candidates.
  *
  * Semantically identical to row_number()-filter (ties broken by the
  * ordering, which callers make total), so the DuckDB oracle is the window
  * formulation.
  */
case class TopKPerKeyNode(
    child: LogicalPlan,
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    rankAttr: Option[Attribute] = None) extends UnaryNode {
  // rankAttr: optionally emit the 1-based per-key rank (row_number
  // equivalent) as an extra column, so the rewrite also covers the idiom
  // where the rank is kept in the output
  override def output: Seq[Attribute] = child.output ++ rankAttr
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    child: SparkPlan,
    keys: Seq[Expression],
    ordering: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    rankAttr: Option[Attribute] = None) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrder = ordering
    val limit = k
    val childOutput = child.output
    val emitRank = rankAttr.isDefined
    val outAttrs = output
    child.execute().mapPartitionsInternal { it =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowOrdering = GenerateOrdering.generate(sortOrder, childOutput)
      // max-heap on the sort order: root = worst of the kept k
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (it.hasNext) {
        val row = it.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit + 1, rowOrdering.reversed())
          heaps.put(key.copy(), heap)
        }
        if (heap.size() < limit) {
          heap.add(row.copy())
        } else if (rowOrdering.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      if (!emitRank) {
        val out = Seq.newBuilder[InternalRow]
        heaps.values().forEach { h => h.forEach(r => out += r) }
        out.result().iterator
      } else {
        // final pass with rank: order each key's k rows and append the
        // 1-based rank — exactly row_number() over the same spec
        val outProj = UnsafeProjection.create(outAttrs, outAttrs)
        val rankRow = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        val joined = new org.apache.spark.sql.catalyst.expressions.JoinedRow
        val out = Seq.newBuilder[InternalRow]
        heaps.values().forEach { h =>
          val arr = new java.util.ArrayList[InternalRow](h)
          arr.sort(rowOrdering)
          var i = 0
          while (i < arr.size()) {
            rankRow.update(0, i + 1)
            out += outProj(joined(arr.get(i), rankRow)).copy()
            i += 1
          }
        }
        out.result().iterator
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(child, keys, ordering, k, rankAttr) =>
      // the partial (pre-shuffle) pass never emits a rank — ranks are only
      // meaningful after the final per-key merge
      TopKPerKeyExec(
        TopKPerKeyExec(planLater(child), keys, ordering, k, partial = true),
        keys, ordering, k, partial = false, rankAttr) :: Nil
    case _ => Nil
  }
}

/** Public surface: `TopKPerKey(df, keys, orderBy, k)` → DataFrame. Plans
  * in a session that has [[RowNumberTopKRewrite.install]] (every
  * `graft.GraftSession`). */
object TopKPerKey {
  def apply(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    val resolve = (c: Column) => {
      val e = ClassicDataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], analyzed)
        .select(c).queryExecution.analyzed.expressions.head match {
        case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
        case other => other
      }
      e
    }
    val keyExprs = keys.map(resolve)
    val sortOrders = orderBy.map { c =>
      resolve(c) match {
        case so: SortOrder => so
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    ClassicDataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      TopKPerKeyNode(analyzed, keyExprs, sortOrders, k))
  }
}
