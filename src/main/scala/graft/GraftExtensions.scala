package graft

import graft.expressions.{ArgminCell, ChunkWords, CosineSim, DeterministicEmbed, L2Normalize, NormalizeText, QuantizeGrid, SqDistLong}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}

/** Engine extension entry point, loaded by every [[GraftSession]]
  * (`spark.sql.extensions=graft.GraftExtensions`).
  *
  * Registers the library's native Catalyst expressions in the session
  * FunctionRegistry so they are callable from SQL and from
  * `functions.call_function`: `graft_cosine`, `graft_sqdist`,
  * `graft_quantize`, `graft_argmin_cell`, `graft_embed`,
  * `graft_l2_normalize`, `graft_chunk_words` and `graft_normalize`.
  * Also injects the optimizer rules (the [[graft.plans.FuseCosine]] and
  * [[graft.plans.FuseTextKernels]] rewrites, MV, file-skipping and DML
  * rules) and the as-of join planner strategy.
  *
  * The extension is required: the `graft.functions` helpers call these
  * kernels unconditionally, so a session built without it fails at
  * analysis and names the missing `graft_*` routine.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.FuseCosine)
    // composed regex text shapes (clean-chain, count-of-matches,
    // count-of-split-pieces) → fused allocation-free kernels
    ext.injectOptimizerRule(_ => graft.plans.FuseTextKernels)
    // materialized-view auto-rewrite: exact-plan-match substitution of
    // registered aggregates by their materialization (MvCatalog)
    ext.injectOptimizerRule(_ => graft.plans.MvRewrite)
    // filters bounding a stats-covered column of a DSv2 time-travel
    // scan re-plan against the per-file min/max sidecars: only
    // overlapping files are scanned (automatic file skipping). Runs
    // BEFORE DvApply (r11): a Filter over a DV-free MAPPED relation
    // must get its shot at pruning before DvApply's whole-read splice
    // consumes the relation
    ext.injectOptimizerRule(_ => graft.plans.StatsPrune)
    // DSv2 time-travel scans of MoR-deleted snapshots: apply the
    // deletion vectors in-plan (tombstone anti-join) so VERSION AS OF
    // SQL works instead of failing loudly
    ext.injectOptimizerRule(_ => graft.plans.DvApply)
    // pure inequality joins (point between interval bounds, no equi
    // key) rewrite to the binned equi-join instead of a nested loop
    ext.injectOptimizerRule(_ => graft.plans.BinnedRangeJoin)
    // opt-in stats-driven join strategy (spark.graft.advisor.auto):
    // _advisor sidecar row stats pin broadcast hints at planning time
    ext.injectOptimizerRule(_ => graft.plans.AdvisorApply)
    // SQL DML over the versioned table: DELETE/UPDATE/MERGE statements
    // on a graft-table relation translate to the library's row-level
    // operations during analysis (the Delta-style command rewrite)
    ext.injectResolutionRule(_ => graft.plans.SqlDml)
    // whole-operator tier: the native as-of join (logical node →
    // strategy → single-pass merge exec); see graft.plans.AsOfJoinPlan
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (children: Seq[Expression]) => CosineSim(
        Cast(children.head, ArrayType(DoubleType)),
        Cast(children(1), ArrayType(DoubleType)))))
    ext.injectFunction((
      FunctionIdentifier("graft_sqdist"),
      new ExpressionInfo(classOf[SqDistLong].getName, "graft_sqdist"),
      (children: Seq[Expression]) => SqDistLong(
        Cast(children.head, ArrayType(LongType)),
        Cast(children(1), ArrayType(LongType)))))
    ext.injectFunction((
      FunctionIdentifier("graft_quantize"),
      new ExpressionInfo(classOf[QuantizeGrid].getName, "graft_quantize"),
      (children: Seq[Expression]) => QuantizeGrid(
        Cast(children.head, ArrayType(DoubleType)))))
    ext.injectFunction((
      FunctionIdentifier("graft_argmin_cell"),
      new ExpressionInfo(classOf[ArgminCell].getName, "graft_argmin_cell"),
      // no input Cast: ArgminCell.checkInputDataTypes rejects any shape
      // but array<bigint> + the packed-centroid struct array
      (children: Seq[Expression]) => ArgminCell(children.head, children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_embed"),
      new ExpressionInfo(classOf[DeterministicEmbed].getName, "graft_embed"),
      (children: Seq[Expression]) => {
        require(children.size == 2 && children(1).foldable,
          "graft_embed(text, dim) requires a literal dim")
        DeterministicEmbed(
          Cast(children.head, StringType),
          children(1).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_l2_normalize"),
      new ExpressionInfo(classOf[L2Normalize].getName, "graft_l2_normalize"),
      // the composed form's divide-by-zero mode, fixed at analysis like Divide's
      (children: Seq[Expression]) => L2Normalize(
        Cast(children.head, ArrayType(DoubleType)), SQLConf.get.ansiEnabled)))
    ext.injectFunction((
      FunctionIdentifier("graft_chunk_words"),
      new ExpressionInfo(classOf[ChunkWords].getName, "graft_chunk_words"),
      (children: Seq[Expression]) => {
        require(children.size == 3 && children(1).foldable && children(2).foldable,
          "graft_chunk_words(text, size, overlap) requires literal size/overlap")
        ChunkWords(
          Cast(children.head, StringType),
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue())
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_normalize"),
      new ExpressionInfo(classOf[NormalizeText].getName, "graft_normalize"),
      (children: Seq[Expression]) => {
        require(children.size == 2 && children(1).foldable,
          "graft_normalize(text, form) requires a literal form")
        val form = children(1).eval().toString
        require(NormalizeText.Forms.contains(form),
          s"graft_normalize form must be one of ${NormalizeText.Forms.mkString("/")}")
        NormalizeText(Cast(children.head, StringType), form)
      }))
  }
}
