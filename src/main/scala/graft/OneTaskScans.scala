package graft

import org.apache.spark.sql.catalyst.expressions.{DynamicPruning, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Drill's `planner.slice_target` on Spark: a scan of a `dfs` SQL name
  * small enough to read in ONE task gets a one-partition `CoalesceExec`
  * above its Filter/Project chain. The coalesce reports
  * `SinglePartition`, so EnsureRequirements plans no exchange above it:
  * the aggregate, sort, window or merge over a small input runs in the
  * scan's own task instead of one Spark job per exchange.
  *
  * "Small" is decided from the scan's file listing with Spark's own two
  * numbers, so there is no option:
  *   - the files hold at most `spark.sql.files.openCostInBytes` bytes in
  *     total (for one splittable file this is exactly Spark's one-split
  *     packing at any leaf parallelism of 2 or more), and
  *   - Spark's packing cost, each file's length plus the open cost,
  *     totals at most `spark.sql.files.maxPartitionBytes`, so a set of
  *     many tiny files (32 or more at the defaults) keeps Spark's splits.
  * A lone file that Spark cannot split qualifies at any size: it is one
  * task either way.
  *
  * Only relations that a SQL statement names through the `dfs` namespace
  * are candidates: [[markDfs]] tags them where the namespace resolves
  * (`sources.DfsSql.resolved`). Plans that pipelines and DataFrame code
  * build over their own reads keep Spark's plan, whatever their input's
  * size, and so does a relation that an optimizer rule rebuilds (nested
  * schema pruning copies it untagged). Also left alone:
  *   - bucketed relations, scans with dynamic partition filters (their
  *     files are known only at run time) and streaming relations;
  *   - a relation the plan reads more than once (self-joins, a stream
  *     feeding two branches): there the exchange is what Spark reuses.
  *
  * A post-planner physical rule (AQE runs it on every plan and re-plan
  * before EnsureRequirements), not a logical Repartition: the logical
  * plan stays as it was, so rules that walk a scan's Filter/Project chain
  * (runtime bloom filters, dynamic partition pruning) see the same shape,
  * and `PushedFilters`, `PartitionFilters` and `ReadSchema` do not move.
  */
object OneTaskScans extends Rule[SparkPlan] {

  private val DfsRead = TreeNodeTag[Unit]("graft.dfsRead")

  /** Tags the file relations of `plan` (a `dfs` name's analyzed plan) as
    * candidates for the rule; returns `plan`. */
  def markDfs(plan: LogicalPlan): LogicalPlan = {
    plan.collectWithSubqueries { case r: LogicalRelation => r }
      .foreach(_.setTagValue(DfsRead, ()))
    plan
  }

  override def apply(plan: SparkPlan): SparkPlan = {
    val reads = fileRelations(plan).groupBy(relationKey).map { case (k, v) => k -> v.size }
    def wrap(p: SparkPlan): SparkPlan = p match {
      case c: CoalesceExec if c.numPartitions == 1 => c
      case chain if scanUnder(chain).exists(s =>
          dfsRead(s) && reads(relationKey(s.relation)) == 1 && oneTask(s)) =>
        CoalesceExec(1, chain)
      case other => other.mapChildren(wrap)
    }
    wrap(plan)
  }

  /** The file scan at the bottom of a Filter/Project chain. */
  private def scanUnder(p: SparkPlan): Option[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Some(s)
    case ProjectExec(_, child) => scanUnder(child)
    case FilterExec(_, child) => scanUnder(child)
    case _ => None
  }

  /** Whether `s` scans a relation that [[markDfs]] tagged. The planner
    * links a scan to the logical Project/Filter chain it was planned
    * from; the relation at its bottom carries the tag. */
  private def dfsRead(s: FileSourceScanExec): Boolean =
    s.logicalLink.exists(_.exists {
      case r: LogicalRelation => (r.relation eq s.relation) && r.getTagValue(DfsRead).isDefined
      case _ => false
    })

  /** The file relations of every scan of the plan, its subqueries and
    * planned stages; a subquery still held as a logical plan (a dynamic
    * pruning filter's build side) counts its relations too. */
  private def fileRelations(p: SparkPlan): Seq[HadoopFsRelation] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    val subqueries = p.expressions.flatMap(_.collect { case e: PlanExpression[_] => e.plan })
    val logical = subqueries.collect { case l: LogicalPlan =>
      l.collectWithSubqueries { case r: LogicalRelation => r.relation }
        .collect { case r: HadoopFsRelation => r }
    }.flatten
    (p match { case s: FileSourceScanExec => Seq(s.relation); case _ => Nil }) ++ logical ++
      (p.children ++ inner ++ subqueries.collect { case s: SparkPlan => s }).flatMap(fileRelations)
  }

  private def relationKey(r: HadoopFsRelation): (Seq[String], String) =
    (r.location.rootPaths.map(_.toString).sorted, r.fileFormat.getClass.getName)

  /** Whether the files `s` lists are small enough to read in one task. */
  private def oneTask(s: FileSourceScanExec): Boolean = {
    val rel = s.relation
    if (s.bucketedScan || rel.bucketSpec.nonEmpty ||
        s.logicalLink.exists(_.isStreaming) ||
        s.partitionFilters.exists(_.exists(_.isInstanceOf[DynamicPruning]))) return false
    val listing = s.selectedPartitions
    val conf = rel.sparkSession.sessionState.conf
    listing.totalNumberOfFiles match {
      case 0 => false
      case 1 if !rel.fileFormat.isSplitable(rel.sparkSession, rel.options,
          listing.filePartitionIterator.flatMap(_.files).next().getPath) => true
      case _ => listing.totalFileSize <= conf.filesOpenCostInBytes &&
        listing.calculateTotalPartitionBytes <= conf.filesMaxPartitionBytes
    }
  }
}
