package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule (SURVEY.md §7.4 tier (c), the Rule leg): rewrites the
  * ubiquitous per-group top-k idiom
  *
  *   Project [cols without rn]
  *     Filter rn <= k
  *       Window [row_number() over (partition by K order by O) as rn]
  *
  * into [[TopKPerKeyNode]] (bounded-heap partial + final around one
  * exchange) whenever the rank column itself is projected away. Window
  * row_number sorts and materializes every group; the rewrite caps the
  * shuffle at k rows per key per input partition.
  *
  * Semantics note: identical output when the window order O is total within
  * each partition (callers of the idiom need that anyway for deterministic
  * results); ties beyond k are arbitrary in both formulations otherwise.
  */
object RowNumberTopKRewrite extends Rule[LogicalPlan] {

  private object RnLimit {
    /** Matches `rn <= k` / `rn < k` / `k >= rn` / `k > rn` → (rnAttr, k). */
    def unapply(e: Expression): Option[(Attribute, Int)] = e match {
      case LessThanOrEqual(a: Attribute, IntegerLiteral(k)) => Some((a, k))
      case LessThan(a: Attribute, IntegerLiteral(k)) => Some((a, k - 1))
      case GreaterThanOrEqual(IntegerLiteral(k), a: Attribute) => Some((a, k))
      case GreaterThan(IntegerLiteral(k), a: Attribute) => Some((a, k - 1))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projList,
        Filter(RnLimit(rnAttr, k),
          Window(Seq(alias @ Alias(
            WindowExpression(_: RowNumber,
              WindowSpecDefinition(parts, order, _)), _)), _, _, child, _)))
        if k > 0 &&
          rnAttr.exprId == alias.exprId &&
          parts.nonEmpty &&
          projList.forall(_.references.subsetOf(child.outputSet + alias.toAttribute)) => {
      // If the rank column survives into the projection, have the operator
      // emit it (1-based, identical to row_number over the same spec);
      // otherwise drop it from the operator output entirely.
      val keepRank = projList.exists(_.references.exists(_.exprId == alias.exprId))
      val rank = if (keepRank) Some(alias.toAttribute) else None
      Project(projList, TopKPerKeyNode(stripGroupLimit(child), parts, order, k, rank))
    }

    // The same idiom under an Aggregate (e.g. per-group stats of the top k):
    // CollapseProject has already folded any intermediate Project away, so
    // the Filter sits directly below the Aggregate.
    case agg @ Aggregate(_, _,
        Filter(RnLimit(rnAttr, k),
          Window(Seq(alias @ Alias(
            WindowExpression(_: RowNumber,
              WindowSpecDefinition(parts, order, _)), _)), _, _, child, _)), _)
        if k > 0 &&
          rnAttr.exprId == alias.exprId &&
          parts.nonEmpty &&
          agg.references.subsetOf(child.outputSet + alias.toAttribute) => {
      val keepRank = agg.references.exists(_.exprId == alias.exprId)
      val rank = if (keepRank) Some(alias.toAttribute) else None
      agg.copy(child = TopKPerKeyNode(stripGroupLimit(child), parts, order, k, rank))
    }
  }

  /** Spark's own InferWindowGroupLimit (main optimizer batch, runs before
    * user rules) inserts WindowGroupLimit under the Window we replace; the
    * bounded heap subsumes it, so drop it rather than filter twice. */
  private def stripGroupLimit(p: LogicalPlan): LogicalPlan = p match {
    case wgl: WindowGroupLimit => stripGroupLimit(wgl.child)
    case other => other
  }

  /** Install the engine extensions into a session (idempotent): this rule
    * plus the TopKPerKey and AsOfJoin strategies. The rule runs in the
    * "User Provided Optimizers" batch, after the main optimizer batches
    * the matching above relies on. */
  def install(spark: SparkSession): Unit = {
    val em = spark.sessionState.experimentalMethods
    if (!em.extraOptimizations.contains(RowNumberTopKRewrite)) {
      em.extraOptimizations = RowNumberTopKRewrite +: em.extraOptimizations
    }
    Seq(TopKStrategy, AsOfStrategy).foreach { s =>
      if (!em.extraStrategies.contains(s)) em.extraStrategies = s +: em.extraStrategies
    }
  }
}
