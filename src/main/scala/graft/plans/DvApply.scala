package graft.plans

import graft.sources.{TimeTravel, TimeTravelTable}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Deletion-vector application for the DSv2 time-travel scan (§4
  * optimizer-rule tier): a `graft-table` or `graft-store` relation
  * whose pinned snapshot carries merge-on-read tombstones is rewritten
  * into the SAME plan [[TimeTravel.read]] builds — parquet scan of the
  * snapshot's data dirs extended with (`_metadata.file_path`,
  * `row_index`), LEFT ANTI join against the O(deleted-rows) tombstone
  * parquet, positional columns dropped. `SELECT … FROM t VERSION AS OF n` therefore works
  * on MoR-deleted snapshots with zero user action, exactly like the
  * library read path.
  *
  * Soundness: the rewrite replays the library's own read (one source of
  * truth for MoR semantics) and splices it under a [[Project]] that
  * re-aliases the sub-plan's output to the relation's attribute ids, so
  * parent operators resolve unchanged (the [[MvRewrite]] substitution
  * mechanic). Any shape the name-level mapping cannot prove — e.g. the
  * query references `_metadata` of the v2 relation itself, whose
  * file/row identity the anti-join consumed — is left alone, and the
  * scan builder's loud pending-DV error fires instead of a silent
  * wrong answer. DV-free snapshots (the common case) bail on a pinned
  * boolean: zero planning cost.
  *
  * Scale: the spliced sub-plan is declarative, so Catalyst keeps
  * optimizing it after substitution — filters and pruning push into
  * the parquet scan, and AQE broadcasts the tombstone side when small;
  * the read amplification is the standard MoR tax until
  * `TimeTravel.optimize` folds the DVs into a compacted rewrite.
  */
object DvApply extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // a DELETE's target names the table it changes, not rows it reads
    case d: DeleteFromTable => d
    case _ => splice(plan)
  }

  private def splice(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // COLUMN-MAPPED snapshots splice through the same mechanic (r10):
    // the library read resolves physical→logical per directory, so a
    // renamed/widened table is SELECTable — and each VERSION AS OF
    // serves its own era's names, because the spliced read is pinned
    // to the relation's snapshot
    case r @ DataSourceV2Relation(TimeTravelTable.Of(t), _, _, _, _, _)
        if t.pendingDvs || t.mapped =>
      val merged = TimeTravel
        .read(SparkSession.active, t.tablePath, Some(t.snapshotVersion))
        .queryExecution.analyzed
      val byName = merged.output.map(a => a.name -> a).toMap
      if (r.output.forall(a => byName.contains(a.name))) {
        val aliases: Seq[NamedExpression] = r.output.map { a =>
          Alias(byName(a.name), a.name)(exprId = a.exprId)
        }
        Project(aliases, merged)
      } else r
  }
}
