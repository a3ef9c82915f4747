package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, Expression, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.Json
import graft.sources.TimeTravel

/** INCREMENTAL MATERIALIZED-VIEW MAINTENANCE over the versioned table
  * format — the batch maintenance half that [[MvCatalog]]'s staleness
  * contract points at ("refresh = re-register after running the
  * incremental-merge maintenance"), made automatic. An MV is declared
  * as a definition FUNCTION over a [[TimeTravel]] table; `refresh`
  * advances the materialization to the base's latest version by
  *
  *   1. reading ONLY the rows the append commits added since the
  *      version the MV reflects ([[TimeTravel.readAppendsSince]] —
  *      O(new data), never a rescan of history),
  *   2. running the definition over that delta (a partial aggregate
  *      with map-side combine, exactly the plan the full definition
  *      would run, on 1/Nth the input), and
  *   3. folding the partial into the stored MV with per-column merge
  *      functions DERIVED FROM THE DEFINITION'S OPTIMIZED PLAN —
  *      sum/count fold by summing, min/max by min/max (the classic
  *      self-maintainable-view class for insert-only deltas).
  *
  * The derivation is sound-or-decline, the same stance as the rewrite
  * rule: the definition's optimized `Aggregate` is introspected once,
  * and anything outside the provably mergeable class — a DISTINCT
  * aggregate, an avg or other composite (whose decomposition the user
  * can state explicitly as sum+count columns), a collect, a non-
  * aggregate top shape — declines to a full rebuild rather than risk a
  * wrong merge. Likewise any base history that is not pure appends
  * since the reflected version (an overwrite, MoR delete, purge or
  * rollback): `readAppendsSince` refuses those loudly, and `refresh`
  * falls back to rebuilding from the current snapshot. Either way the
  * MV ends correct; "incremental" is a performance tier, not a
  * correctness gamble.
  *
  * The reflected base version rides INSIDE the materialization
  * directory (`_mv_state`, an underscore file parquet readers
  * ignore), written into the staging directory before the swap — data
  * and version publish in ONE rename, so a crash mid-refresh leaves
  * the old pair untouched and can never double-apply a delta. The
  * parquet is replaced by write-to-temp + rename, never overwritten
  * in place while the merge plan is still reading it.
  *
  * Scale: this is the 100 TB refresh story — a nightly append of
  * 100 GB into a 100 TB fact table refreshes a registered rollup by
  * scanning the 100 GB, one shuffle over its groups, and an O(groups)
  * fold with the stored MV; the fact table's history is never touched.
  * Registration re-points [[MvCatalog]] at the swapped parquet each
  * time, so the transparent rewrite keeps serving queries with zero
  * user-visible change.
  */
object MvMaintenance {

  final case class Registration(
      basePath: String,
      mvPath: String,
      define: DataFrame => DataFrame)

  /** What a refresh did: `mode` ∈ noop | incremental | rebuild;
    * `deltaFiles` is the exact file set the incremental path scanned
    * (empty for the other modes) — the O(new data) claim as evidence,
    * not assertion. */
  final case class RefreshResult(mode: String, reflectedVersion: Long,
      deltaFiles: Seq[String])

  private val regs =
    new java.util.concurrent.ConcurrentHashMap[String, Registration]()

  /** Declare + initially materialize an incremental MV of `define`
    * over the versioned table at `basePath`. Returns the base version
    * the materialization reflects. */
  def register(spark: SparkSession, name: String, basePath: String,
      mvPath: String)(define: DataFrame => DataFrame): Long = {
    regs.put(name, Registration(basePath, mvPath, define))
    rebuild(spark, name).reflectedVersion
  }

  def unregister(name: String): Unit = regs.remove(name)
  def clear(): Unit = regs.clear()

  /** The base version the stored materialization reflects. */
  def reflectedVersion(spark: SparkSession, name: String): Long =
    readState(spark, reg(name).mvPath)

  /** Is the materialization current with the base's latest commit? */
  def isFresh(spark: SparkSession, name: String): Boolean = {
    val r = reg(name)
    readState(spark, r.mvPath) == TimeTravel.versions(spark, r.basePath).max
  }

  /** Advance the materialization to the base's latest version —
    * incrementally when the definition is self-maintainable and the
    * history since the reflected version is pure appends, else by full
    * rebuild. Always leaves the MV correct and [[MvCatalog]] serving
    * the new parquet. */
  def refresh(spark: SparkSession, name: String): RefreshResult = {
    val r = reg(name)
    val vOld = readState(spark, r.mvPath)
    val vNow = TimeTravel.versions(spark, r.basePath).max
    if (vNow == vOld) return RefreshResult("noop", vOld, Nil)
    val spec = mergeSpec(spark, r)
    val dspec = if (spec.isDefined) None else decompSpec(spark, r)
    // vNow is pinned ONCE and passed everywhere below: a base commit
    // landing mid-refresh must not slip extra directories into the
    // folded delta while the state file records the older mark (the
    // next refresh would re-read and double-count them)
    val delta: Option[DataFrame] =
      if (spec.isEmpty && dspec.isEmpty) None
      else try Some(TimeTravel.readAppendsSince(spark, r.basePath, vOld, Some(vNow)))
      catch { case _: IllegalStateException => None } // non-append history
    (spec, delta) match {
      case (_, Some(d)) if d.schema.isEmpty =>
        // versions advanced but no data directories were added (e.g. a
        // tag-only or empty commit): nothing to fold, just move the mark
        writeState(spark, r.mvPath, vNow)
        RefreshResult("noop", vNow, Nil)
      case (Some((keys, merges)), Some(d)) =>
        val partial = r.define(d)
        val old = spark.read.parquet(r.mvPath)
        val defSchema = old.schema
        val merged = old.unionByName(partial)
          .groupBy(keys.map(col): _*)
          .agg(merges.head, merges.tail: _*)
          // restore the definition's column order and EXACT types (a
          // second sum over an already-widened decimal widens again)
          .select(defSchema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
        swapIn(spark, merged, None, r.mvPath, vNow)
        reregister(spark, name, r, vNow)
        RefreshResult("incremental", vNow, partial.inputFiles.toSeq)
      case (None, Some(d)) if dspec.isDefined =>
        refreshDecomposed(spark, name, r, dspec.get, d, vNow)
      case _ =>
        rebuild(spark, name)
    }
  }

  /** The decomposed-state incremental tier: the stored `_state` parquet
    * carries the avg columns as sum+count PIECES (everything directly
    * mergeable rides through unchanged); the delta's pieces fold in
    * with plain sums, and the serving MV — the definition's exact
    * schema — is re-projected from the folded state. Both publish in
    * the one swap rename. Any missing precondition (no state sidecar
    * yet, a delta whose plan stopped decomposing) falls back to a full
    * rebuild — same sound-or-decline stance as the mergeable tier. */
  private def refreshDecomposed(spark: SparkSession, name: String,
      r: Registration, ds: Decomp, d: DataFrame, vNow: Long): RefreshResult = {
    val statePath = s"${r.mvPath}/$StateDir"
    val fsys = new Path(statePath).getFileSystem(spark.sessionState.newHadoopConf())
    if (!fsys.exists(new Path(statePath))) return rebuild(spark, name)
    decomposed(spark, r.define(d)) match {
      case None => rebuild(spark, name)
      case Some(partialState) =>
        val old = spark.read.parquet(statePath)
        val stSchema = old.schema
        // checkpoint pins the folded state: the serving projection AND
        // the state rewrite both read it while the old pair is replaced
        val mergedState = old.unionByName(partialState)
          .groupBy(ds.keys.map(col): _*)
          .agg(ds.stateMerges.head, ds.stateMerges.tail: _*)
          .select(stSchema.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
          .localCheckpoint()
        swapIn(spark, ds.serve(mergedState), Some(mergedState), r.mvPath, vNow)
        reregister(spark, name, r, vNow)
        RefreshResult("incremental", vNow, partialState.inputFiles.toSeq)
    }
  }

  /** Recompute the materialization from the base's current snapshot
    * (the fallback tier; also the initial materialization). The target
    * version is resolved ONCE and pinned through both the definition
    * read and the recorded state — `TimeTravel.read` re-resolving
    * "latest" under a concurrent commit would otherwise materialize a
    * newer snapshot than the version mark claims. */
  def rebuild(spark: SparkSession, name: String): RefreshResult = {
    val r = reg(name)
    val vNow = TimeTravel.versions(spark, r.basePath).max
    val full = r.define(TimeTravel.read(spark, r.basePath, Some(vNow)))
    // a decomposable-but-not-directly-mergeable definition (an avg)
    // materializes its piece state alongside, so the NEXT refresh can
    // go incremental; directly-mergeable definitions skip the second
    // write — their serving parquet already IS the foldable state
    val state =
      if (mergeSpec(spark, r).isDefined) None
      else decomposed(spark, full)
    swapIn(spark, full, state, r.mvPath, vNow)
    reregister(spark, name, r, vNow)
    RefreshResult("rebuild", vNow, Nil)
  }

  // ---------------------------------------------------------------- internals

  private def reg(name: String): Registration = {
    val r = regs.get(name)
    require(r != null, s"no incremental MV registered as '$name'")
    r
  }

  /** Keep the transparent-rewrite catalog pointing at the refreshed
    * parquet: the file set changed, so the cached relation must be
    * rebuilt even though the canonical definition is unchanged. The
    * definition is registered at the PINNED version the refresh
    * materialized — when it is still the base's latest the canonical
    * equals an unpinned read's plan (same directory listing), and when
    * a commit has already raced past, the stale canonical simply stops
    * matching new queries (the staleness contract) instead of claiming
    * currency the parquet doesn't have. */
  private def reregister(spark: SparkSession, name: String, r: Registration,
      v: Long): Unit = {
    // an avg-bearing MV registers its piece state too, so the roll-up
    // probe can fold averages from Σsum/Σcnt instead of declining
    val statePath = s"${r.mvPath}/$StateDir"
    val hasState =
      new Path(statePath).getFileSystem(spark.sessionState.newHadoopConf())
        .exists(new Path(statePath))
    val pieces =
      if (!hasState) None
      else decompSpec(spark, r).map(ds => (statePath, ds.avgPieces))
    MvCatalog.registerMaterializedWithState(spark, name,
      r.define(TimeTravel.read(spark, r.basePath, Some(v))), r.mvPath, pieces)
  }

  /** Introspect the definition's optimized plan: Some((group column
    * names, per-column merge aggregates)) iff the top node is an
    * Aggregate whose every output is a grouping column or a
    * non-distinct sum/count/min/max. */
  private def mergeSpec(spark: SparkSession,
      r: Registration): Option[(Seq[String], Seq[Column])] = {
    val optimized = MvRewrite.whileSuspended {
      org.apache.spark.sql.GraftPlanApi
        .ofRows(spark,
          r.define(TimeTravel.read(spark, r.basePath)).queryExecution.logical)
        .queryExecution.optimizedPlan
    }
    optimized match {
      case agg: Aggregate =>
        def isGroup(e: Expression): Boolean =
          agg.groupingExpressions.exists(_.semanticEquals(e))
        val keys = Seq.newBuilder[String]
        val keyExprs = Seq.newBuilder[Expression]
        val merges = Seq.newBuilder[Column]
        val ok = agg.aggregateExpressions.forall {
          case a: Attribute if isGroup(a) => keys += a.name; keyExprs += a; true
          case Alias(child, n) if isGroup(child) => keys += n; keyExprs += child; true
          case Alias(ae: AggregateExpression, n) if !ae.isDistinct =>
            ae.aggregateFunction match {
              case _: Sum   => merges += sum(col(n)).as(n); true
              case _: Count => merges += sum(col(n)).as(n); true
              case _: Min   => merges += min(col(n)).as(n); true
              case _: Max   => merges += max(col(n)).as(n); true
              case _ => false
            }
          case _ => false
        }
        val ms = merges.result()
        // EVERY grouping expression must survive into the output — a
        // projected-away key (groupBy(a, b) but only `a` selected)
        // would make the stored MV hold several rows per output key,
        // and merging on the visible subset would collapse them
        val seen = keyExprs.result()
        val allKeysVisible =
          agg.groupingExpressions.forall(g => seen.exists(_.semanticEquals(g)))
        if (ok && allKeysVisible && ms.nonEmpty) Some((keys.result(), ms)) else None
      case _ => None
    }
  }

  /** The decomposition contract for definitions that are NOT directly
    * mergeable but ARE algebraically decomposable — today: Average,
    * stored as sum+count pieces (`<col>__gsum`, `<col>__gcnt`). The
    * classic self-maintainable-view algebra: avg itself cannot fold
    * (avg-of-avgs), but its pieces fold with plain sums and the avg
    * reconstitutes exactly as sum/count — for non-decimal inputs the
    * piece sum mirrors Average's own internal double accumulator, so
    * fold ≡ recompute bit-for-bit. Decimal averages (whose
    * precision/scale arithmetic the reconstruction would have to
    * replicate) and everything else composite (stddev's sum-of-squares
    * cancellation, DISTINCT, collects) DECLINE to a rebuild — the
    * sound-or-decline stance, extended one algebra at a time. */
  private final case class Decomp(
      keys: Seq[String],
      stateMerges: Seq[Column],
      serve: DataFrame => DataFrame,
      /** avg column name → its (sum, count) piece column names in the
        * state parquet — handed to [[MvCatalog]] so the roll-up probe
        * can fold averages from the state. */
      avgPieces: Map[String, (String, String)])

  private def optimizedOf(spark: SparkSession, df: DataFrame) =
    MvRewrite.whileSuspended {
      org.apache.spark.sql.GraftPlanApi
        .ofRows(spark, df.queryExecution.logical)
        .queryExecution.optimizedPlan
    }

  /** Some(Decomp) iff the definition's optimized top Aggregate outputs
    * only group keys, directly-mergeable aggregates, and at least one
    * decomposable Average. */
  private def decompSpec(spark: SparkSession, r: Registration): Option[Decomp] =
    optimizedOf(spark,
      r.define(TimeTravel.read(spark, r.basePath))) match {
      case agg: Aggregate => decompOf(agg)
      case _ => None
    }

  private def decompOf(agg: Aggregate): Option[Decomp] = {
    def isGroup(e: Expression): Boolean =
      agg.groupingExpressions.exists(_.semanticEquals(e))
    val keys = Seq.newBuilder[String]
    val keyExprs = Seq.newBuilder[Expression]
    val merges = Seq.newBuilder[Column]
    val outs = Seq.newBuilder[Column]
    val pieces = Map.newBuilder[String, (String, String)]
    var hasAvg = false
    val ok = agg.aggregateExpressions.forall {
      case a: Attribute if isGroup(a) =>
        keys += a.name; keyExprs += a; outs += col(a.name); true
      case Alias(child, n) if isGroup(child) =>
        keys += n; keyExprs += child; outs += col(n); true
      case al @ Alias(ae: AggregateExpression, n) if !ae.isDistinct =>
        ae.aggregateFunction match {
          case _: Sum   => merges += sum(col(n)).as(n); outs += col(n).cast(al.dataType); true
          case _: Count => merges += sum(col(n)).as(n); outs += col(n).cast(al.dataType); true
          case _: Min   => merges += min(col(n)).as(n); outs += col(n).cast(al.dataType); true
          case _: Max   => merges += max(col(n)).as(n); outs += col(n).cast(al.dataType); true
          case _: Average
              if !al.dataType.isInstanceOf[DecimalType] && ae.filter.isEmpty =>
            hasAvg = true
            pieces += n -> (s"${n}__gsum", s"${n}__gcnt")
            merges += sum(col(s"${n}__gsum")).as(s"${n}__gsum")
            merges += sum(col(s"${n}__gcnt")).as(s"${n}__gcnt")
            // gcnt = 0 (all-NULL avg input) must serve NULL like Average
            // does — a bare division would throw DIVIDE_BY_ZERO under ANSI
            outs += (col(s"${n}__gsum") /
              when(col(s"${n}__gcnt") === 0, lit(null)).otherwise(col(s"${n}__gcnt")))
              .cast(al.dataType).as(n)
            true
          case _ => false
        }
      case _ => false
    }
    val seen = keyExprs.result()
    val allKeysVisible =
      agg.groupingExpressions.forall(g => seen.exists(_.semanticEquals(g)))
    val outCols = outs.result()
    if (ok && hasAvg && allKeysVisible)
      Some(Decomp(keys.result(), merges.result(),
        (st: DataFrame) => st.select(outCols: _*), pieces.result()))
    else None
  }

  /** The definition applied to `df`, with every Average REWRITTEN into
    * its sum+count pieces at the plan level — the same child, the same
    * grouping, so the partial runs the exact aggregate the definition
    * would, emitting pieces instead of quotients. None when the plan
    * is not a decomposable Aggregate (caller rebuilds). */
  private def decomposed(spark: SparkSession, df: DataFrame): Option[DataFrame] =
    optimizedOf(spark, df) match {
      case agg: Aggregate =>
        def isGroup(e: Expression): Boolean =
          agg.groupingExpressions.exists(_.semanticEquals(e))
        var ok = true
        var hasAvg = false
        val newOuts: Seq[NamedExpression] = agg.aggregateExpressions.flatMap {
          case a: Attribute if isGroup(a) => Seq(a)
          case al @ Alias(child, _) if isGroup(child) => Seq(al)
          case al @ Alias(ae: AggregateExpression, n) if !ae.isDistinct =>
            ae.aggregateFunction match {
              case avg: Average
                  if !al.dataType.isInstanceOf[DecimalType] && ae.filter.isEmpty =>
                hasAvg = true
                Seq(
                  Alias(AggregateExpression(Sum(Cast(avg.child, DoubleType)),
                    Complete, isDistinct = false), s"${n}__gsum")(),
                  Alias(AggregateExpression(Count(Seq(avg.child)),
                    Complete, isDistinct = false), s"${n}__gcnt")())
              case _: Sum | _: Count | _: Min | _: Max => Seq(al)
              case _ => ok = false; Seq(al)
            }
          case _ => ok = false; Seq.empty
        }
        if (ok && hasAvg)
          Some(org.apache.spark.sql.GraftPlanApi.ofRows(spark,
            Aggregate(agg.groupingExpressions, newOuts, agg.child)))
        else None
      case _ => None
    }

  /** Replace the parquet at `mvPath` via write-to-temp + rename — the
    * merge plan may be READING mvPath, so an in-place overwrite would
    * saw off its own input. The version sidecar (`_mv_state`, an
    * underscore file parquet readers ignore) is written INTO the temp
    * directory first, so data and reflected version publish in the
    * SAME rename: a crash before it leaves the old pair untouched (no
    * half-state that would double-apply a delta on the next refresh);
    * a crash between the delete and the rename loses the directory but
    * fails LOUDLY on the next read — never a silent wrong fold. */
  private def swapIn(spark: SparkSession, df: DataFrame,
      state: Option[DataFrame], mvPath: String, v: Long): Unit = {
    val dst = new Path(mvPath)
    val tmp = new Path(mvPath + ".swap")
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    // the decomposed piece state lives INSIDE the MV directory under an
    // underscore name — parquet readers ignore it, so the serving scan
    // is unaffected, and it publishes in the SAME rename as the data
    state.foreach(_.write.mode("overwrite").parquet(s"$tmp/$StateDir"))
    writeStateFile(fs, new Path(tmp, StateFile), v)
    fs.delete(dst, true)
    if (!fs.rename(tmp, dst))
      throw new IllegalStateException(s"failed to publish refreshed MV at $mvPath")
  }

  /** Underscore-prefixed piece-state directory inside the MV path. */
  private val StateDir = "_state"

  private val StateFile = "_mv_state"

  private def statePath(mvPath: String) = new Path(mvPath, StateFile)

  /** Advance only the reflected-version mark (the no-data-change
    * refresh) — rewritten in place; the data files are untouched. */
  private def writeState(spark: SparkSession, mvPath: String, v: Long): Unit = {
    val p = statePath(mvPath)
    writeStateFile(p.getFileSystem(spark.sessionState.newHadoopConf()), p, v)
  }

  private def writeStateFile(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      v: Long): Unit = {
    val out = fs.create(p, true)
    try out.write(Json.mapper.writeValueAsBytes(Map("reflected_version" -> v)))
    finally out.close()
  }

  private def readState(spark: SparkSession, mvPath: String): Long = {
    val p = statePath(mvPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p), s"no MV state sidecar at $p — register first")
    val in = fs.open(p)
    val state = try Json.mapper.readTree(in) finally in.close()
    Option(state).flatMap(n => Option(n.get("reflected_version")))
      .filter(_.canConvertToLong).map(_.asLong)
      .getOrElse(throw new IllegalStateException(s"unreadable MV state at $p: $state"))
  }
}
