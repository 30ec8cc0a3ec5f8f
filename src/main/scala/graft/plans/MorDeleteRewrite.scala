package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, InsertIntoStatement, LogicalPlan, MergeIntoTable, Project, UpdateTable}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.Snapshots

/** Analysis-time MERGE-ON-READ rewrite: a snapshot relation whose
  * pinned version carries outstanding delete sidecars (position or
  * equality) is replaced by its LIVE VIEW — the same parquet scan with
  * the deleted rows subtracted from exactly the sidecar-touched files
  * ([[Snapshots.read]] builds it; files no sidecar references scan
  * unchanged). The replacement projects back onto the original
  * relation's attribute ids, so everything above — filters, joins,
  * aggregates — resolves identically and Catalyst optimizes the spliced
  * plan natively: predicates still push into the parquet scan. While
  * the sidecars fit the delete bounds the subtraction is a predicate on
  * that scan (no exchange, no extra job); above them it is an
  * anti-join.
  *
  * Tables without sidecars never match (the resolution is memoized
  * per-table, so the check is a driver-side manifest field). DML
  * command TARGETS are shielded: DELETE/UPDATE/MERGE resolve their
  * target through the V2 row-level machinery, which refuses or routes
  * MOR state itself — rewriting the target relation out from under the
  * command would break the write binding. Read-side occurrences inside
  * DML (MERGE's source, subquery conditions) rewrite normally.
  *
  * Registered by [[GraftPlannerExtensions]]; without it, a
  * delete-bearing read fails loudly at scan build (PruningScanBuilder)
  * instead of resurrecting rows.
  */
class MorDeleteRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  private def shieldedTargets(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collect {
      case d: DeleteFromTable => d.table
      case u: UpdateTable => u.table
      case m: MergeIntoTable => m.targetTable
      case i: InsertIntoStatement => i.table
    }
  // V2WriteCommand targets are deliberately NOT shielded: `table` is a
  // FIELD of AppendData/OverwriteByExpression/ReplaceData/WriteDelta,
  // not a child, so the tree transform never touches the write binding
  // — while the QUERY side may legitimately re-read the same relation
  // instance and must see the live view. The concrete case: an
  // insert-only MERGE plans as AppendData over an anti-join whose
  // build side IS the target relation instance; shielding it left the
  // raw delete-bearing scan in the plan and the read failed loudly at
  // scan build (round-10 finding). Row-level commands are safe without
  // the shield too: their query's read relation wraps a
  // RowLevelOperationTable, which liveViewOf never matches.

  private def liveViewOf(r: DataSourceV2Relation): Option[LogicalPlan] =
    r.table match {
      // a read that references the row-identity metadata columns keeps
      // its native scan: RowIdentityScan subtracts outstanding
      // positions itself (it is position-aware by construction), and
      // the V1 live view could not produce those columns anyway
      case _ if r.output.exists(a =>
          graft.sources.v2.RowIdentity.isIdentity(a.name)) => None
      case t: graft.sources.v2.SnapshotTable =>
        t.morState.map { case (path, version) =>
          val live = Snapshots.read(spark, path, Some(version))
            .queryExecution.analyzed
          val byName = live.output.map(a => a.name -> a).toMap
          Project(r.output.map { o =>
            Alias(byName(o.name), o.name)(exprId = o.exprId)
          }, live)
        }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // fire once the (sub)plan is fully resolved: the rewrite preserves
    // every attribute id, so nothing above re-resolves
    if (!plan.resolved) return plan
    // resolver-window guard: ResolveReferences can bind a metadata
    // column (e.g. __gr_pos) from the relation's metadataOutput one
    // iteration BEFORE AddMetadataColumns promotes it into the
    // relation's output — the plan reports resolved, but an operator
    // still has missingInput. Rewriting in that window would strip the
    // metadata column for good; waiting one iteration lets the
    // promotion land (after which the identity guard below skips).
    if (plan.exists(p => p.missingInput.nonEmpty)) return plan
    val shields = shieldedTargets(plan)
    def shielded(r: LogicalPlan): Boolean =
      shields.exists(_.exists(_ eq r))
    def rewrite(p: LogicalPlan): LogicalPlan = p.resolveOperatorsUp {
      case r: DataSourceV2Relation if !shielded(r) =>
        liveViewOf(r).getOrElse(r)
      case other =>
        other.transformExpressions {
          case s: SubqueryExpression => s.withNewPlan(rewrite(s.plan))
        }
    }
    rewrite(plan)
  }
}
