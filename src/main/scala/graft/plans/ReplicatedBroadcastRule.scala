package graft.plans

import graft.catalog.TablePolicy
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, LogicalPlan, ResolvedHint, BROADCAST}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Auto-broadcast for REPLICATE-distributed tables (SURVEY.md §4): the
  * reference replicates small dimensions to every compute node so joins
  * against them never move data (reference: whitepaper.md:50-51; refresh
  * machinery in samples/automation/RefreshReplicatedTable/
  * RefreshReplicatedTable.ps1:37-56). Spark's equivalent of a replicated
  * table is a broadcast relation; this rule injects the hint automatically
  * for any catalog table whose `graft.distribution` property is `replicate`
  * (written by graft.sources.Ctas), so queries need no per-join broadcast()
  * calls.
  *
  * Injected as a post-hoc resolution rule — it must run during analysis so
  * the optimizer's EliminateResolvedHint pass folds the hint into the join
  * nodes as usual. The manual recursion keeps it idempotent (an
  * already-hinted relation subtree is left untouched).
  */
object ReplicatedBroadcastRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = rewrite(plan)

  private def rewrite(p: LogicalPlan): LogicalPlan = p match {
    case h @ ResolvedHint(_: LogicalRelation, _) => h
    case r: LogicalRelation if isReplicated(r) =>
      ResolvedHint(r, HintInfo(strategy = Some(BROADCAST)))
    case other => other.withNewChildren(other.children.map(rewrite))
  }

  private def isReplicated(r: LogicalRelation): Boolean =
    r.catalogTable.exists(_.properties.get(TablePolicy.PropDistribution)
      .contains("replicate"))
}

/** SparkSessionExtensions entry point: a session builder's
  * `.withExtensions(new GraftExtensions)`, or the config
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPostHocResolutionRule(_ => ReplicatedBroadcastRule)
    e.injectOptimizerRule(_ => FkJoinEliminationRule)
    e.injectPlannerStrategy(_ => AsOfMergeJoin.Strategy)
  }
}
