package graft.plans

import graft.sources.{TimeTravel, TimeTravelTable}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet, LessThan, LessThanOrEqual, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ByteType, DateType, IntegerType, LongType, ShortType, StructField, StructType, TimestampNTZType, TimestampType}

/** AUTOMATIC file skipping for the DSv2 time-travel scan (§4
  * optimizer-rule tier, the [[DvApply]] pattern): a Filter over a
  * `graft-table` relation whose conjuncts bound a STATS-COVERED column
  * is re-planned against the snapshot's per-file min/max sidecars —
  * the relation is substituted by a parquet scan of ONLY the files
  * whose recorded range overlaps the bounds, the filter stays on top
  * as the exact residual, and `WHERE dd BETWEEN x AND y` in plain SQL
  * reads ⌈selectivity · files⌉ with zero user action. This is what
  * Delta/Iceberg do with add-file stats at planning time, recovered as
  * an injected rule over the homegrown format ([[TimeTravel]]).
  *
  * Equality probes get a second tier: a conjunct pinning a
  * BLOOM-covered column to one value admits files through the per-file
  * Bloom sidecar (no false negatives) — the bloom-column-index shape,
  * for point lookups on columns the layout was never clustered by,
  * where every file's [min, max] spans the domain and range stats
  * prune nothing. Range skipping is tried first; the bloom tier fires
  * when it declines.
  *
  * Sound-or-decline, like every rule in this library: only bare
  * integral-column comparisons with integral literals are read as
  * bounds (casts, expressions, OR-trees decline); files of directories
  * WITHOUT a sidecar are always kept; a DV-bearing snapshot is left
  * for [[DvApply]] (its anti-join consumes the same relation); and the
  * residual filter re-applies the exact predicate, so a sidecar that
  * over-approximates costs reads, never rows. An all-files-overlap
  * probe declines too — the plan only changes when skipping actually
  * skips (also what makes the rewrite idempotent under the optimizer's
  * fixed point). A probe that overlaps NOTHING becomes an empty
  * [[LocalRelation]] on the relation's own attributes: the 100 TB
  * wrong-date-range query costs zero tasks.
  *
  * Scale: planning reads the snapshot's O(files) sidecars on the
  * driver — the same cost class as any table format's manifest
  * pruning — and the substituted scan is declarative, so column
  * pruning and the residual's parquet pushdown keep working below the
  * splice.
  */
object StatsPrune extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, r @ DataSourceV2Relation(TimeTravelTable.Of(t), _, _, _, _, _))
        if !t.pendingDvs =>
      try rewrite(f, cond, r, t) catch {
        // a malformed sidecar must degrade to the unpruned scan, never
        // fail planning
        case scala.util.control.NonFatal(_) => f
      }
  }

  private def rewrite(f: Filter, cond: Expression, r: DataSourceV2Relation,
      t: TimeTravelTable): LogicalPlan = {
    val spark = SparkSession.active
    val bounds = boundsOf(cond, r.output)
    if (bounds.isEmpty) return f
    // a contradictory window (x > 5 AND x < 3) is unsatisfiable
    // regardless of any sidecar: zero-task empty relation
    if (bounds.exists { case (_, (lo, hi)) => lo > hi })
      return Filter(cond, LocalRelation(r.output, Seq.empty, isStreaming = false))
    // CONJUNCTIVE multi-probe: every bounded stats-covered column
    // contributes a range, every pinned bloom-covered column a point —
    // the admitted sets intersect, so a 2-D WHERE over a Z-ordered
    // layout prunes on both dimensions at once. DATE (days-as-int) and
    // TIMESTAMP (micros-as-long) ride the range tier on their internal
    // integral forms — `WHERE dd BETWEEN DATE '…' AND DATE '…'`, the
    // dominant warehouse predicate, prunes like any integer window.
    val statsCov = TimeTravel.statsColumns(spark, t.tablePath, t.snapshotVersion)
      .collect {
        case (c, ByteType | ShortType | IntegerType | LongType |
              DateType | TimestampType | TimestampNTZType) => c
      }.toSet
    val bloomCov = TimeTravel.bloomColumns(spark, t.tablePath, t.snapshotVersion)
    // the BLOOM tier stays integral-only: the write side packed
    // md5(CAST(col AS STRING)), and only for integral columns does the
    // probe's key.toString equal that cast form — a date key probed as
    // its day NUMBER would miss the filter and skip a file that holds
    // the row (skipping acts as a filter in the bloom tier, so a
    // representation mismatch is a wrong answer, not a slow one)
    val integralCols = r.output.collect {
      case a if a.dataType == ByteType || a.dataType == ShortType ||
        a.dataType == IntegerType || a.dataType == LongType => a.name
    }.toSet
    val ranges = bounds.collect { case (c, (lo, hi)) if statsCov(c) => (c, lo, hi) }
    // bloom admission: a pinned equality contributes one key; an
    // IN-list contributes its value set (a file is kept when ANY
    // listed key is admitted — IN is a disjunction, so any-of is the
    // sound direction)
    val points = bounds.collect {
      case (c, (lo, hi)) if lo == hi && bloomCov(c) && integralCols(c) => (c, Seq(lo))
    } ++ inListsOf(cond, r.output).collect {
      case (c, ks) if bloomCov(c) && integralCols(c) => (c, ks)
    }
    if (ranges.isEmpty && points.isEmpty) return f
    val (files, st) = TimeTravel.planProbes(
      spark, t.tablePath, t.snapshotVersion, ranges, points)
    substituted(spark, cond, r, t, files, st).getOrElse(f)
  }

  /** The shared splice: Filter(cond, Project(aliases, parquet scan of
    * `files`)) with the relation's own exprIds, or an empty relation
    * when nothing overlaps; None (decline) when nothing is skipped or
    * the name mapping fails. */
  private def substituted(spark: SparkSession, cond: Expression,
      r: DataSourceV2Relation, t: TimeTravelTable, files: Seq[String],
      st: graft.sources.ZoneMaps.PruneStats): Option[LogicalPlan] = {
    if (files.isEmpty)
      Some(Filter(cond, LocalRelation(r.output, Seq.empty, isStreaming = false)))
    else if (st.filesRead >= st.filesTotal) None // nothing skipped: keep the plan
    else {
      // the splice DECLARES the relation's own schema instead of
      // re-inferring from the pruned file subset: under heterogeneous
      // directory schemas (schema evolution) inference could type a
      // column differently than the attribute whose exprId the alias
      // reuses, and parents typed against the original would mis-bind.
      // Mapped snapshots route through the per-directory physical→
      // logical projection (scanFilesLogical) — r11: a renamed column's
      // predicate prunes instead of the table opting out of skipping.
      val declared = StructType(r.output.map(a =>
        StructField(a.name, a.dataType, a.nullable, a.metadata)))
      val sub = TimeTravel.scanFilesLogical(spark, t.tablePath,
        t.snapshotVersion, files, declared)
        .queryExecution.analyzed
      val byName = sub.output.map(a => a.name -> a).toMap
      if (r.output.forall(a => byName.contains(a.name))) {
        val aliases: Seq[NamedExpression] = r.output.map { a =>
          Alias(byName(a.name), a.name)(exprId = a.exprId)
        }
        Some(Filter(cond, Project(aliases, sub)))
      } else None
    }
  }

  /** The [lo, hi] window each directly-compared integral-form column
    * is confined to by `cond`'s AND-conjuncts: `c >= l`, `c > l`,
    * `c <= l`, `c < l`, `c = l` in either operand order; everything
    * else contributes nothing (an unrelated conjunct never widens a
    * window — it can only be residual). DATE and TIMESTAMP literals
    * arrive here already in their internal integral forms (days-int,
    * micros-long), and both are discrete, so the strict-bound ±1
    * adjustment is exact for them too. Columns appear only when at
    * least one side is bounded. */
  private def boundsOf(cond: Expression,
      output: Seq[Attribute]): Seq[(String, (Long, Long))] = {
    val names = output.map(a => a.exprId -> a.name).toMap
    def longOf(l: Literal): Option[Long] = l.value match {
      case b: java.lang.Byte    => Some(b.longValue)
      case i: java.lang.Integer => Some(i.longValue)
      case j: java.lang.Long    => Some(j)
      case s: java.lang.Short   => Some(s.longValue)
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    val win = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long)]
    def tighten(a: Attribute, lo: Option[Long], hi: Option[Long]): Unit =
      names.get(a.exprId).foreach { n =>
        val (l0, h0) = win.getOrElse(n, (Long.MinValue, Long.MaxValue))
        win(n) = (lo.fold(l0)(math.max(l0, _)), hi.fold(h0)(math.min(h0, _)))
      }
    // strict bounds at the domain edge must EMPTY the window, not wrap:
    // an unchecked `Long.MaxValue + 1` would widen `c > MAX` to the
    // whole domain instead of recognizing it as unsatisfiable
    def above(a: Attribute, v: Option[Long]): Unit = v.foreach { x =>
      if (x == Long.MaxValue) tighten(a, Some(Long.MaxValue), Some(Long.MinValue))
      else tighten(a, Some(x + 1), None)
    }
    def below(a: Attribute, v: Option[Long]): Unit = v.foreach { x =>
      if (x == Long.MinValue) tighten(a, Some(Long.MaxValue), Some(Long.MinValue))
      else tighten(a, None, Some(x - 1))
    }
    conjuncts(cond).foreach {
      case GreaterThanOrEqual(a: Attribute, l: Literal) => tighten(a, longOf(l), None)
      case GreaterThan(a: Attribute, l: Literal) => above(a, longOf(l))
      case LessThanOrEqual(a: Attribute, l: Literal) => tighten(a, None, longOf(l))
      case LessThan(a: Attribute, l: Literal) => below(a, longOf(l))
      case EqualTo(a: Attribute, l: Literal) => tighten(a, longOf(l), longOf(l))
      case GreaterThanOrEqual(l: Literal, a: Attribute) => tighten(a, None, longOf(l))
      case GreaterThan(l: Literal, a: Attribute) => below(a, longOf(l))
      case LessThanOrEqual(l: Literal, a: Attribute) => tighten(a, longOf(l), None)
      case LessThan(l: Literal, a: Attribute) => above(a, longOf(l))
      case EqualTo(l: Literal, a: Attribute) => tighten(a, longOf(l), longOf(l))
      // IN confines the column to [min(list), max(list)] — an
      // over-approximation of the disjunction, sound because the
      // residual filter re-applies the exact predicate (the bloom
      // tier handles the per-value admission separately)
      case In(a: Attribute, vs)
          if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        val ks = vs.map(v => longOf(v.asInstanceOf[Literal]))
        if (ks.forall(_.isDefined)) {
          val xs = ks.flatten
          tighten(a, Some(xs.min), Some(xs.max))
        }
      case InSet(a: Attribute, hset) if hset.nonEmpty =>
        val ks = hset.toSeq.map(internalLong)
        if (ks.forall(_.isDefined)) {
          val xs = ks.flatten
          tighten(a, Some(xs.min), Some(xs.max))
        }
      case _ => ()
    }
    win.toSeq.filter { case (_, (lo, hi)) =>
      lo != Long.MinValue || hi != Long.MaxValue
    }
  }

  private def internalLong(v: Any): Option[Long] = v match {
    case b: java.lang.Byte    => Some(b.longValue)
    case s: java.lang.Short   => Some(s.longValue)
    case i: java.lang.Integer => Some(i.longValue)
    case j: java.lang.Long    => Some(j)
    case _ => None
  }

  /** The IN-lists over direct columns with all-integral values —
    * the bloom tier's any-of key sets. Lists over 256 values decline
    * (the per-file × per-key admission cost must stay planning-scale;
    * the range tier still confines them via [min, max]). */
  private def inListsOf(cond: Expression,
      output: Seq[Attribute]): Seq[(String, Seq[Long])] = {
    val names = output.map(a => a.exprId -> a.name).toMap
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    conjuncts(cond).flatMap {
      case In(a: Attribute, vs)
          if vs.nonEmpty && vs.size <= 256 && vs.forall(_.isInstanceOf[Literal]) =>
        val ks = vs.map(v => internalLong(v.asInstanceOf[Literal].value))
        if (ks.forall(_.isDefined)) names.get(a.exprId).map(_ -> ks.flatten)
        else None
      case InSet(a: Attribute, hset) if hset.nonEmpty && hset.size <= 256 =>
        val ks = hset.toSeq.map(internalLong)
        if (ks.forall(_.isDefined)) names.get(a.exprId).map(_ -> ks.flatten)
        else None
      case _ => None
    }
  }
}
