package graft.sources.v2

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Cast, EqualTo, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Command, Join, LogicalPlan, ReplaceData}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.write.RowLevelOperation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.internal.SQLConf

/** Default-on runtime group filtering for `MERGE INTO` on snapshot
  * tables — the round-7 economics showed the opt-in
  * `graft.snapshot.runtimeGroupFilterColumns` route is the fastest
  * MERGE shape (the DPP-style subquery over the source's join keys
  * plus [[graft.sources.FileStats]] value pruning keeps unmatched
  * key-range files out of the COW rewrite), so this rule turns it on
  * automatically exactly when it is safe and cheap:
  *
  *  - the command is a group-based MERGE (`ReplaceData` whose query
  *    joins the [[SnapshotRowLevelOperation]]'s read relation with a
  *    source), and
  *  - the SOURCE side's estimated size fits the session's broadcast
  *    threshold (`spark.sql.autoBroadcastJoinThreshold`).
  *
  * The size guard is the point: Spark's
  * `RowLevelOperationRuntimeGroupFiltering` materializes the DISTINCT
  * source join keys of the matching rows on the driver (an
  * `InSubqueryExec` collect). For a selective, broadcast-size upsert
  * that is a few thousand values and the pruning pays for itself; for
  * a table-spanning MERGE the subquery is an extra join pass whose
  * distinct-key collect is driver-memory-linear in the match set —
  * there the full-COW plan (no extra pass, no collect) is the right
  * shape, and this rule leaves it alone. Plan-size estimates are the
  * same ones Spark's own join strategy uses for broadcast selection
  * (conservative without CBO: filters don't shrink them, so the guard
  * errs toward full COW).
  *
  * Runs as a pre-CBO rule — after the analyzer's RewriteMergeIntoTable
  * has produced the ReplaceData plan, before
  * GroupBasedRowLevelOperationScanPlanning (an early-scan-pushdown
  * rule) builds the row-level scan that must advertise the filter
  * attributes. The rule only ANNOTATES the operation (the key columns
  * it found); the plan is returned unchanged.
  *
  * Settings:
  *  - `graft.snapshot.runtimeGroupFilterColumns` — the explicit opt-in
  *    from round 6; when set it wins outright (no size guard: the user
  *    asserted selectivity).
  *  - `spark.sql.optimizer.runtime.rowLevelOperationGroupFilter.enabled`
  *    — Spark's own master switch for the subquery, and so for this
  *    rule's effect: `false` keeps every MERGE full COW (the downstream
  *    rule checks it).
  */
object AutoRuntimeGroupFilter extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (plan.isInstanceOf[Command]) {
      plan.foreach {
        case rd: ReplaceData => annotate(rd)
        case _ => ()
      }
    }
    plan
  }

  private def annotate(rd: ReplaceData): Unit = rd.query.foreach {
    case j: Join if j.condition.isDefined =>
      (targetOf(j.left), targetOf(j.right)) match {
        case (Some((rel, op)), None) => decide(j, rel, op, j.right)
        case (None, Some((rel, op))) => decide(j, rel, op, j.left)
        case _ => ()
      }
    case _ => ()
  }

  /** The row-level read relation of OUR operation under MERGE, if this
    * side of the join contains one.
    */
  private def targetOf(side: LogicalPlan)
      : Option[(DataSourceV2Relation, SnapshotRowLevelOperation)] =
    side.collect {
      case r: DataSourceV2Relation =>
        org.apache.spark.sql.GraftShim.rowLevelOperationOf(r.table) match {
          case Some(op: SnapshotRowLevelOperation)
              if op.command() == RowLevelOperation.Command.MERGE =>
            Some((r, op))
          case _ => None
        }
    }.flatten.headOption

  private def decide(j: Join, rel: DataSourceV2Relation,
      op: SnapshotRowLevelOperation, source: LogicalPlan): Unit = {
    val threshold = conf.getConf(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD)
    val fits = threshold > 0 && source.stats.sizeInBytes <= threshold
    // lossless up-casts preserve the attribute for stats pruning (the
    // same unwrapping FileStats itself applies)
    def unwrap(e: Expression): Expression = e match {
      case c: Cast if Cast.canUpCast(c.child.dataType, c.dataType) =>
        unwrap(c.child)
      case other => other
    }
    val keys = splitConjunctivePredicates(j.condition.get).flatMap {
      case EqualTo(a, b) =>
        (unwrap(a), unwrap(b)) match {
          case (ta: AttributeReference, sb)
              if rel.outputSet.contains(ta) &&
                sb.references.subsetOf(source.outputSet) => Some(ta.name)
          case (sb, ta: AttributeReference)
              if rel.outputSet.contains(ta) &&
                sb.references.subsetOf(source.outputSet) => Some(ta.name)
          case _ => None
        }
      case _ => None
    }.distinct
    op.autoKeyCols = if (fits && keys.nonEmpty) keys else Nil
  }
}
