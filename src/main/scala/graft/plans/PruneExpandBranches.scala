package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Expand, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: prune `Expand` branches that a filter above is guaranteed
  * to reject.
  *
  * Motivation: `unpivot` lowers to `Expand` with one projection per measure,
  * where the measure-name column is a per-branch string literal. Catalyst
  * does not push predicates into `Expand`, so the reference's melt+isin
  * pattern (`unpivot(...).filter($"measure".isin(...))`, SURVEY.md §2a
  * O4+O5) materializes every branch and then throws half away — at 100 TB
  * that is reading and expanding columns that can never survive the filter.
  *
  * For each branch we substitute the branch's literal outputs into each
  * conjunct of the filter; a conjunct that folds to false or null (filter
  * semantics drop both) proves every row of that branch is rejected, so the
  * branch is removed. Rows of surviving branches are untouched and the
  * filter stays in place — output is provably identical. The child
  * projection is then narrowed so column pruning reaches the scan
  * (PhysicalOperation collapses the stacked projects during planning).
  */
object PruneExpandBranches extends Rule[LogicalPlan] {

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  private def branchRejects(cond: Expression, output: Seq[Attribute],
                            projection: Seq[Expression]): Boolean = {
    val lits: Map[Long, Literal] = output.zip(projection).collect {
      case (attr, l: Literal) => attr.exprId.id -> l
    }.toMap
    splitConjuncts(cond).exists { conjunct =>
      val substituted = conjunct.transform {
        case a: AttributeReference if lits.contains(a.exprId.id) => lits(a.exprId.id)
      }
      // foldable excludes unevaluable reference-free expressions (scalar
      // subqueries survive into the optimized plan and would throw on eval)
      substituted.foldable && {
        try {
          val v = substituted.eval(InternalRow.empty)
          v == null || v == false
        } catch { case _: Exception => false }
      }
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, e @ Expand(projections, output, child)) =>
      val kept = projections.filterNot(p => branchRejects(cond, output, p))
      if (kept.size == projections.size || kept.isEmpty) f
      else {
        val needed = AttributeSet(kept.flatMap(_.flatMap(_.references)))
        val newChild =
          if (needed == AttributeSet(child.output)) child
          else Project(child.output.filter(needed.contains), child)
        Filter(cond, Expand(kept, output, newChild))
      }
  }
}

/** The one install path of graft's session surface: the
  * [[PruneExpandBranches]] optimizer rule (in the operator-optimization
  * batch) and every graft SQL function, applied when the session is built.
  * [[graft.Sessions.withGraftConf]] installs it, so every graft main,
  * [[graft.Graft.session]] and the test harness have it; a session built
  * elsewhere takes it through
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Without it, the
  * graft Column accessors fail at analysis with `UNRESOLVED_ROUTINE`,
  * which names the function.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  import graft.functions._
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PruneExpandBranches)
    Seq[(String, Class[_], Seq[Expression] => Expression)](
      ("cosine_sim", classOf[CosineSimilarity], VectorFunctions.cosineBuilder),
      ("sq_dist", classOf[SquaredDistance], DistanceFunctions.sqDistBuilder),
      ("bitset_intersect", classOf[BitsetIntersectCount], BitsetFunctions.intersectBuilder),
      ("graft_in_set", classOf[InLiteralSet], SetMembership.inLiteralSetBuilder),
      ("winnow_spans", classOf[WinnowSpans], WinnowFunctions.winnowBuilder),
      ("cdc_chunks", classOf[CdcChunks], CdcFunctions.cdcBuilder),
      ("hilbert_index", classOf[HilbertIndex], Hilbert.indexBuilder),
      ("topk_min", classOf[TopKMinAgg], TopK.minBuilder),
      ("hll_sketch", classOf[HllSketchAgg], Hll.sketchBuilder),
      ("hll_union", classOf[HllUnionAgg], Hll.unionBuilder),
      ("hll_estimate", classOf[HllEstimate], Hll.estimateBuilder),
      ("cms_sketch", classOf[CmsSketchAgg], Cms.sketchBuilder),
      ("cms_merge", classOf[CmsMergeAgg], Cms.mergeBuilder),
      ("cms_query", classOf[CmsQuery], Cms.queryBuilder),
      ("bloom_agg", classOf[BloomAgg], Bloom.aggBuilder),
      ("bloom_merge", classOf[BloomMergeAgg], Bloom.mergeBuilder),
      ("bloom_contains", classOf[BloomContains], Bloom.containsBuilder),
      ("kmv_sketch", classOf[KmvSketchAgg], Kmv.sketchBuilder),
      ("kmv_union", classOf[KmvUnionAgg], Kmv.unionBuilder),
      ("kmv_estimate", classOf[KmvEstimate], Kmv.estimateBuilder),
      ("kmv_union_est", classOf[KmvUnionEstimate], Kmv.unionEstBuilder),
      ("kmv_inter_est", classOf[KmvInterEstimate], Kmv.interEstBuilder),
      ("kmv_jaccard_micro", classOf[KmvJaccardMicro], Kmv.jaccardBuilder)
    ).foreach { case (name, clazz, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
  }
}
