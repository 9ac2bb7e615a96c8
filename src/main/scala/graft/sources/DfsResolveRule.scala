package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** Analyzer rule backing the `dfs` SQL namespace (see [[DfsSql]]).
  *
  * Rewrites `UnresolvedRelation([dfs, …])` into the analyzed plan of the
  * matching format reader — the same mechanism as Spark's own
  * ResolveSQLOnFile (`parquet.`/p``), widened to graft's format registry
  * and Drill's workspace addressing. Runs in the analyzer's resolution
  * batch (injected via SparkSessionExtensions.injectResolutionRule), so
  * normal catalog resolution wins for real tables and only the literal
  * `dfs` head is claimed. Substituting the reader's plan (not rows) keeps
  * parquet pushdown/pruning, broadcast decisions, and AQE intact — a
  * `dfs` relation is indistinguishable from any other after resolution.
  */
case class DfsResolveRule(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u: UnresolvedRelation
        if u.multipartIdentifier.length >= 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("dfs") &&
          // a REAL catalog database named `dfs` wins outright (same guard
          // as DfsParser/DmlSql/SqlCommands) — including its error paths:
          // an unknown table must raise TABLE_OR_VIEW_NOT_FOUND, not a
          // graft file-not-found
          !spark.catalog.databaseExists("dfs") =>
      DfsSql.resolved(DfsSql.load(spark, u.multipartIdentifier.tail))
  }
}
