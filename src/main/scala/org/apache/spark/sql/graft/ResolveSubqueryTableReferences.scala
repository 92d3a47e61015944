package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.{V2TableReference, V2TableReferenceUtils}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.PLAN_EXPRESSION
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Resolves the V2 table references that a rewrite copies into a
  * subquery after `ResolveRelations` has run.
  *
  * A temp view registered on a DataFrame that reads a V2 table keeps a
  * `V2TableReference` in place of the relation, and `ResolveRelations`
  * swaps it for the table when the view is used. A SQL `MERGE INTO …
  * USING <such a view>` is rewritten (`RewriteMergeIntoTable`) in the
  * same analyzer pass that expands the view, so a copy-on-write MERGE's
  * runtime group filter, an `EXISTS` subquery over the source, holds
  * the unresolved reference. `ResolveRelations` does not descend into
  * subquery expressions, and planning then failed with "No plan for
  * TableReference". This rule gives each such reference the table the
  * main plan resolved for the same identifier (so the filter and the
  * join read one snapshot), or loads it the way `ResolveRelations`
  * does when the main plan has none. It waits while the main plan
  * still holds a reference of its own. It lives in this package for
  * the access qualifier: `V2TableReference` is `private[sql]`.
  */
object ResolveSubqueryTableReferences extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!plan.containsPattern(PLAN_EXPRESSION) || plan.exists(_.isInstanceOf[V2TableReference])) plan
    else {
      lazy val resolved = plan.collect { case r: DataSourceV2Relation => r }
      def relation(ref: V2TableReference): DataSourceV2Relation = {
        val table = resolved
          .find(r => r.catalog.contains(ref.catalog) && r.identifier.contains(ref.identifier))
          .map(_.table)
          .getOrElse {
            val t = ref.catalog.loadTable(ref.identifier)
            V2TableReferenceUtils.validateLoadedTable(t, ref)
            t
          }
        ref.toRelation(table)
      }
      plan.transformAllExpressionsWithPruning(_.containsPattern(PLAN_EXPRESSION)) {
        case s: SubqueryExpression =>
          val p = s.plan.transformUpWithSubqueries { case ref: V2TableReference => relation(ref) }
          if (p eq s.plan) s else s.withNewPlan(p)
      }
    }
}
