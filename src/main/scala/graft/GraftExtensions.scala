package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.ResolveSubqueryTableReferences
import graft.functions.NativeExprs
import graft.plans.{AsOfMergeStrategy, CosineFloatExpr, SimilarityJoinRewrite, UpsertMergeRewrite}

/** SparkSessionExtensions entry point: installs graft's native
  * functions into every session built with these extensions — the
  * deployment-grade alternative to per-query temp registration
  * (usable via `spark.sql.extensions=graft.GraftExtensions` on any
  * spark-submit, no code changes).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    // every native function, from the single source of truth
    NativeExprs.functions.foreach { case (name, builder) =>
      e.injectFunction((FunctionIdentifier(name),
        info(name, s"_FUNC_(...) - graft native expression $name"),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
    e.injectFunction((FunctionIdentifier("graft_cosine"),
      info("graft_cosine", "_FUNC_(array<float>, array<float>) - cosine similarity"),
      (exprs: Seq[Expression]) => CosineFloatExpr(exprs.head, exprs(1))))
    // Opt-in: with spark.graft.similarityRewrite.planes > 0, cosine-
    // threshold cross joins become LSH-bucketed equi-joins.
    e.injectOptimizerRule(_ => SimilarityJoinRewrite())
    // Physical operator for AsOfJoin.asOfMerge's logical node.
    e.injectPlannerStrategy(_ => AsOfMergeStrategy())
    // Canonical upsert-shaped MERGE on an upsert_key lake table →
    // scan-free equality-delete append (post-hoc: runs on the analyzed
    // WriteDelta the built-in MERGE rewrite produced).
    e.injectPostHocResolutionRule(_ => UpsertMergeRewrite())
    // SQL MERGE whose source is a temp view over a DataFrame that reads
    // a V2 table: resolve the reference its group filter copied.
    e.injectResolutionRule(_ => ResolveSubqueryTableReferences)
  }
}
