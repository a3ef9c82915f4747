package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanApi}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, ClusteredDistribution, Distribution, IdentityBroadcastMode, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DoubleType, FloatType, LongType}

/** Match direction for the native as-of join — the three directions of
  * the public pandas `merge_asof` contract:
  *   - [[AsOfDirection.Backward]]: greatest right time ≤ the left time
  *     (the market-data/feature-store default);
  *   - [[AsOfDirection.Forward]]: smallest right time ≥ the left time
  *     (next-event attribution);
  *   - [[AsOfDirection.Nearest]]: whichever of the two is closer in
  *     absolute distance, ties to the backward side (requires BIGINT
  *     time columns — distance needs subtraction).
  * Equal right TIMES resolve to the greatest `rightTie` in every
  * direction except the forward candidate of Nearest, which is the
  * smallest tie (the cursor's look-ahead row) — pinned in AsOfJoinSpec.
  */
/** Long subtraction that saturates at the domain edges instead of
  * wrapping: the nearest-direction distance and the tolerance checks
  * compare `a - b` against a bound, and a silent two's-complement wrap
  * for extreme time values would flip the backward/forward preference
  * or the tolerance verdict. Distances here are nonnegative by
  * construction (the consumed region guarantees the sign), so the
  * saturated `Long.MaxValue` reads as "astronomically far" — which
  * fails any tolerance and loses any nearer-candidate comparison,
  * exactly the intended semantics. */
private[plans] object AsOfArith {
  def satSub(a: Long, b: Long): Long = {
    val r = a - b
    // overflow iff the operands' signs differ and the result's sign
    // differs from a's (the standard bit test)
    if (((a ^ b) & (a ^ r)) < 0) { if (a >= 0) Long.MaxValue else Long.MinValue }
    else r
  }
}

sealed abstract class AsOfDirection(val name: String)
object AsOfDirection {
  case object Backward extends AsOfDirection("backward")
  case object Forward extends AsOfDirection("forward")
  case object Nearest extends AsOfDirection("nearest")
}

/** Native AS-OF join — the whole-operator tier of SURVEY §4's custom-
  * operator preference order (logical node + planner strategy +
  * physical operator, injected via [[graft.GraftExtensions]]).
  *
  * Semantics: for every left row, attach the right row with the same
  * key and the direction's best time (see [[AsOfDirection]]) — or
  * nulls when no right row qualifies, including when the best match is
  * further than `toleranceUs`. `allowExact=false` excludes equal-time
  * matches (backward/forward only). The reference's retrieval flow has
  * no as-of, but its CDC protocol ("latest state not newer than the
  * watermark", /root/reference/llmcore/cms/sharepointutils.py:159-161)
  * is exactly the backward direction's shape; Spark's DataFrame API
  * cannot express any direction without materializing a window blob or
  * an inequality-join funnel.
  *
  * Scale: each side shuffles ONCE on its key (ClusteredDistribution —
  * co-partitioned by EnsureRequirements) and sorts within partitions by
  * (key, time); the physical operator then streams BOTH sorted sides in
  * one merge pass holding exactly one candidate row — O(1) memory per
  * partition, no per-key right-side buffering, no window
  * materialization. Contrast the composed DataFrame form (the test
  * oracle): an inequality join that replays every qualifying right row
  * per left row before a top-1 window discards all but one.
  */
final case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression,
    direction: AsOfDirection = AsOfDirection.Backward,
    allowExact: Boolean = true,
    toleranceUs: Option[Long] = None,
    broadcastHint: Option[Boolean] = None)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to a physical operator, mirroring Catalyst's
  * own JoinSelection: a right side whose estimated size fits under
  * `spark.sql.autoBroadcastJoinThreshold` plans to
  * [[BroadcastAsOfJoinExec]] (the fact side never shuffles OR sorts —
  * the 100 TB shape for fact-vs-dimension-history enrichment);
  * otherwise the co-partitioned sort-merge [[AsOfJoinExec]]. The
  * logical node's `broadcastHint` overrides the stats estimate in
  * either direction. Injected by [[graft.GraftExtensions]] via
  * `injectPlannerStrategy`. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, tie, dir, exact, tol, hint) =>
      val wantBroadcast = hint.getOrElse {
        val thr = SQLConf.get.autoBroadcastJoinThreshold
        thr > 0 && r.stats.sizeInBytes >= 0 && r.stats.sizeInBytes <= thr
      }
      if (wantBroadcast)
        BroadcastAsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tie, dir, exact, tol) :: Nil
      else
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tie, dir, exact, tol) :: Nil
    case _ => Nil
  }
}

/** Single-pass sorted-merge as-of join. Children arrive co-partitioned
  * on the keys and sorted by (key, time[, tie]) — declared below, so
  * EnsureRequirements inserts exactly the two key shuffles and
  * per-partition sorts; the merge itself holds ONE held candidate row.
  * Forward direction flips the TIME sort to descending on both sides
  * (the cursor then consumes not-earlier rows as left times decrease —
  * the mirror image of the backward sweep); Nearest runs the backward
  * sweep and reads its look-ahead row as the forward candidate.
  * Not codegen'd: the operator is a cursor sweep, not an expression
  * tree — there is no per-row expression work to fuse.
  */
final case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression,
    direction: AsOfDirection = AsOfDirection.Backward,
    allowExact: Boolean = true,
    toleranceUs: Option[Long] = None)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  // forward consumes from the future edge: time sorts descending so the
  // "last consumed" row is the smallest qualifying time
  private def timeSort(e: Expression): SortOrder =
    if (direction == AsOfDirection.Forward) SortOrder(e, Descending)
    else SortOrder(e, Ascending)

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), timeSort(leftTime)),
    Seq(SortOrder(rightKey, Ascending), timeSort(rightTime),
      SortOrder(rightTie, Ascending)))

  // the merge emits left rows in their incoming order
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), timeSort(leftTime))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKey; val rk = rightKey; val lt = leftTime; val rt = rightTime
    val dir = direction; val exact = allowExact; val tol = toleranceUs
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(Seq(lk), leftOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rKeyProj = UnsafeProjection.create(Seq(rk), rightOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rightOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lk.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      // bind against NULLABLE right attrs: BindReferences takes
      // nullability from the input schema, and the no-match null row
      // must not be read as zeros
      val outProj =
        UnsafeProjection.create(output, leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      // Nearest needs both candidates' times; tolerance needs the held
      // one — both paths require LongType (enforced in AsOfJoinOps)
      val trackTime = tol.isDefined || dir == AsOfDirection.Nearest

      // does a right row at signed time-comparison `c` (right vs left)
      // belong to the consumed (not-beyond) region?
      def consumable(c: Int): Boolean = dir match {
        case AsOfDirection.Forward => if (exact) c >= 0 else c > 0
        case AsOfDirection.Backward => if (exact) c <= 0 else c < 0
        case AsOfDirection.Nearest => c <= 0 // exact-match exclusion unsupported
      }

      var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
      // the held candidate: last right row consumed for `heldKey`
      // (copies — sorter iterators reuse their row buffers)
      var held: InternalRow = null
      var heldKey: InternalRow = null
      var heldTime: Long = 0L

      lIter.map { l =>
        val lKey = lKeyProj(l)
        val lTime = lTimeProj(l)
        // SQL join semantics: a null key matches nothing (RowOrdering
        // would compare two null keys as EQUAL — without the explicit
        // guards, null-keyed rows on both sides would pair up)
        if (!lTime.isNullAt(0) && !lKey.isNullAt(0)) {
          // consume right rows in the direction's sweep order; remember
          // the last same-key one — sorted order makes it the best match
          var advancing = true
          while (advancing && rHead != null) {
            val rKey = rKeyProj(rHead)
            val kc = keyOrd.compare(rKey, lKey)
            val rT = rTimeProj(rHead)
            if (kc < 0 ||
                (kc == 0 && !rKey.isNullAt(0) && !rT.isNullAt(0) &&
                  consumable(timeOrd.compare(rT, lTime)))) {
              if (kc == 0) {
                held = rHead.copy(); heldKey = rKey.copy()
                if (trackTime) heldTime = rT.getLong(0)
              }
              rHead = if (rIter.hasNext) rIter.next() else null
            } else if (kc == 0 && (rKey.isNullAt(0) || rT.isNullAt(0))) {
              // null-keyed / null-timed right rows sort to the key's
              // edge and never match; skip without holding
              rHead = if (rIter.hasNext) rIter.next() else null
            } else advancing = false
          }
        }
        val m: InternalRow =
          if (lTime.isNullAt(0) || lKey.isNullAt(0)) nullRight
          else if (dir == AsOfDirection.Nearest) {
            val ltv = lTime.getLong(0)
            val bound = tol.getOrElse(Long.MaxValue)
            val db =
              if (held != null && keyOrd.compare(heldKey, lKey) == 0)
                AsOfArith.satSub(ltv, heldTime)
              else Long.MaxValue
            var fRow: InternalRow = null
            var df = Long.MaxValue
            if (rHead != null && keyOrd.compare(rKeyProj(rHead), lKey) == 0) {
              val rT = rTimeProj(rHead)
              if (!rT.isNullAt(0)) { fRow = rHead; df = AsOfArith.satSub(rT.getLong(0), ltv) }
            }
            if (db <= df && db <= bound && held != null &&
                keyOrd.compare(heldKey, lKey) == 0) held
            else if (fRow != null && df <= bound) fRow
            else nullRight
          } else {
            val withinTol = tol.forall { t =>
              val ltv = lTime.getLong(0)
              (if (dir == AsOfDirection.Forward) AsOfArith.satSub(heldTime, ltv)
               else AsOfArith.satSub(ltv, heldTime)) <= t
            }
            if (held != null && keyOrd.compare(heldKey, lKey) == 0 && withinTol) held
            else nullRight
          }
        numOutputRows += 1
        outProj(joined(l, m))
      }
    }
  }
}

/** Broadcast as-of join: the right side (a dimension-history table —
  * small by definition at any corpus scale) broadcasts whole; each task
  * builds a per-key time-sorted index from the broadcast rows once per
  * partition and BINARY-SEARCHES it per left row. The left side keeps
  * its incoming partitioning and ordering — no shuffle, no sort — so a
  * 100 TB fact scan flows straight through, exactly like Catalyst's own
  * BroadcastHashJoin versus SortMergeJoin trade. Match semantics are
  * bit-identical to [[AsOfJoinExec]] (asserted across the random sweep
  * in AsOfJoinSpec): equal right times resolve to the greatest tie,
  * except Nearest's forward candidate which is the smallest.
  */
final case class BroadcastAsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    rightTie: Expression,
    direction: AsOfDirection = AsOfDirection.Backward,
    allowExact: Boolean = true,
    toleranceUs: Option[Long] = None)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  // the fact side flows through untouched — that's the operator's point
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BroadcastAsOfJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val leftOut = left.output
    val rightOut = right.output
    val lk = leftKey; val rk = rightKey; val lt = leftTime; val rt = rightTime
    val tie = rightTie
    val dir = direction; val exact = allowExact; val tol = toleranceUs
    val bcast = right.executeBroadcast[Array[InternalRow]]()
    left.execute().mapPartitions { lIter =>
      val lKeyProj = UnsafeProjection.create(Seq(lk), leftOut)
      val lTimeProj = UnsafeProjection.create(Seq(lt), leftOut)
      val rKeyProj = UnsafeProjection.create(Seq(rk), rightOut)
      val rTimeProj = UnsafeProjection.create(Seq(rt), rightOut)
      val rTieProj = UnsafeProjection.create(Seq(tie), rightOut)
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lt.dataType))
      val tieOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tie.dataType))
      val outProj =
        UnsafeProjection.create(output, leftOut ++ rightOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rightOut.size)
      val joined = new JoinedRow
      val trackTime = tol.isDefined || dir == AsOfDirection.Nearest

      // per-key index: (timeRow, tieRow, fullRow) sorted by (time, tie)
      // ascending; null-timed rows never match and are dropped here.
      // Built once per partition from the broadcast — O(R log R) on the
      // SMALL side, amortized over the partition's fact rows.
      val byKey = new java.util.HashMap[InternalRow, Array[(InternalRow, InternalRow, InternalRow)]]()
      locally {
        val tmp = new java.util.HashMap[InternalRow, scala.collection.mutable.ArrayBuffer[(InternalRow, InternalRow, InternalRow)]]()
        bcast.value.foreach { row =>
          val t = rTimeProj(row)
          // null keys and null times never match (SQL join semantics)
          if (!t.isNullAt(0) && !rKeyProj(row).isNullAt(0)) {
            val k = rKeyProj(row).copy()
            var buf = tmp.get(k)
            if (buf == null) { buf = scala.collection.mutable.ArrayBuffer.empty; tmp.put(k, buf) }
            buf += ((t.copy(), rTieProj(row).copy(), row.copy()))
          }
        }
        tmp.forEach { (k, buf) =>
          byKey.put(k, buf.sortWith { (a, b) =>
            val c = timeOrd.compare(a._1, b._1)
            if (c != 0) c < 0 else tieOrd.compare(a._2, b._2) < 0
          }.toArray)
        }
      }

      // count of leading entries whose time satisfies `cmp(t, lTime)`;
      // the predicate is monotone over the time-sorted array, so this is
      // a plain lower/upper-bound binary search
      def prefixLen(arr: Array[(InternalRow, InternalRow, InternalRow)],
          lTime: InternalRow, inclusive: Boolean): Int = {
        var lo = 0; var hi = arr.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          val c = timeOrd.compare(arr(mid)._1, lTime)
          if (c < 0 || (inclusive && c == 0)) lo = mid + 1 else hi = mid
        }
        lo
      }

      lIter.map { l =>
        val lKey = lKeyProj(l)
        val lTime = lTimeProj(l)
        val arr =
          if (lTime.isNullAt(0) || lKey.isNullAt(0)) null else byKey.get(lKey)
        val m: InternalRow =
          if (arr == null) nullRight
          else dir match {
            case AsOfDirection.Backward =>
              val n = prefixLen(arr, lTime, inclusive = exact)
              if (n == 0) nullRight
              else {
                val cand = arr(n - 1)
                val ok = tol.forall(t =>
                  AsOfArith.satSub(lTime.getLong(0), cand._1.getLong(0)) <= t)
                if (ok) cand._3 else nullRight
              }
            case AsOfDirection.Forward =>
              var i = prefixLen(arr, lTime, inclusive = !exact)
              if (i >= arr.length) nullRight
              else {
                // equal right times resolve to the greatest tie — step to
                // the end of the equal-time block (merge-exec parity)
                while (i + 1 < arr.length && timeOrd.compare(arr(i + 1)._1, arr(i)._1) == 0) i += 1
                val cand = arr(i)
                val ok = tol.forall(t =>
                  AsOfArith.satSub(cand._1.getLong(0), lTime.getLong(0)) <= t)
                if (ok) cand._3 else nullRight
              }
            case AsOfDirection.Nearest =>
              val ltv = lTime.getLong(0)
              val bound = tol.getOrElse(Long.MaxValue)
              val n = prefixLen(arr, lTime, inclusive = true)
              val db =
                if (n > 0) AsOfArith.satSub(ltv, arr(n - 1)._1.getLong(0)) else Long.MaxValue
              val df =
                if (n < arr.length) AsOfArith.satSub(arr(n)._1.getLong(0), ltv) else Long.MaxValue
              if (n > 0 && db <= df && db <= bound) arr(n - 1)._3
              else if (n < arr.length && df <= bound) arr(n)._3
              else nullRight
          }
        numOutputRows += 1
        outProj(joined(l, m))
      }
    }
  }
}

/** Public API over the native operator. It plans through
  * [[AsOfJoinStrategy]], which [[graft.GraftExtensions]] injects into
  * every [[graft.GraftSession]]; AsOfJoinSpec checks it against a
  * composed inequality-join oracle.
  */
object AsOfJoinOps {

  /** Backward as-of join `left ASOF right`: every left row, plus the
    * right row (columns suffixed) with the greatest `rightTime` ≤ the
    * row's `leftTime` on the same key; ties on equal times take the
    * greatest `rightTie`. Nulls when no right row qualifies — including
    * when the best match is staler than `toleranceUs` (pandas
    * merge_asof's `tolerance`; requires BIGINT time columns). */
  def asofBackward(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String, rightTie: String,
      suffix: String = "_r",
      toleranceUs: Option[Long] = None): DataFrame =
    asof(left, right, leftKey, rightKey, leftTime, rightTime, rightTie,
      AsOfDirection.Backward, allowExact = true, suffix, toleranceUs)

  /** General as-of join — all three [[AsOfDirection]]s, optional
    * exact-match exclusion (backward/forward), optional staleness
    * tolerance. Nearest and tolerance require BIGINT time columns on
    * both sides (distance is integer subtraction); Nearest always
    * allows exact matches (the pandas default — excluding them needs a
    * buffered look-ahead the one-candidate cursor deliberately avoids).
    * `broadcastRight` overrides the planner's stats-based choice
    * between the broadcast and sort-merge physical operators (None =
    * auto, mirroring `autoBroadcastJoinThreshold`). */
  def asof(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String, rightTie: String,
      direction: AsOfDirection = AsOfDirection.Backward,
      allowExact: Boolean = true,
      suffix: String = "_r",
      toleranceUs: Option[Long] = None,
      broadcastRight: Option[Boolean] = None): DataFrame = {
    val spark = left.sparkSession
    val needsLongTimes = toleranceUs.isDefined || direction == AsOfDirection.Nearest
    require(!needsLongTimes ||
        (left.schema(leftTime).dataType == LongType &&
          right.schema(rightTime).dataType == LongType),
      "toleranceUs and direction=Nearest require BIGINT time columns on both sides")
    // mismatched cross-side types would not error — the broadcast path's
    // UnsafeRow byte-equality lookup silently matches nothing, and the
    // merge path's ordering is built from the left type only — so fail
    // loudly here instead
    val (lkT, rkT) = (left.schema(leftKey).dataType, right.schema(rightKey).dataType)
    require(lkT == rkT,
      s"as-of key column types must match across sides: $leftKey is $lkT, $rightKey is $rkT")
    require(left.schema(leftTime).dataType == right.schema(rightTime).dataType,
      s"as-of time column types must match across sides: $leftTime is " +
        s"${left.schema(leftTime).dataType}, $rightTime is ${right.schema(rightTime).dataType}")
    // floating-point keys: -0.0/0.0 and NaN bit patterns compare equal
    // under RowOrdering but unequal under UnsafeRow hashing, so the two
    // physical operators (and HashPartitioning) could disagree —
    // Catalyst's NormalizeFloatingNumbers rule does not visit this
    // custom node, so reject the types outright
    require(lkT != FloatType && lkT != DoubleType,
      "as-of join keys must not be floating-point (FLOAT/DOUBLE): " +
        "normalize to a comparable integral or string key first")
    require(allowExact || direction != AsOfDirection.Nearest,
      "allowExact=false is not supported with direction=Nearest")
    // fresh exprIds + distinct names: safe under self-as-of (same source
    // both sides), where raw child plans would share attribute ids
    val r = right.select(right.columns.map(c => col(c).as(c + suffix)): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = r.queryExecution.analyzed
    def attrOf(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"as-of column not found: $n"))
    GraftPlanApi.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      attrOf(lPlan, leftKey), attrOf(rPlan, rightKey + suffix),
      attrOf(lPlan, leftTime), attrOf(rPlan, rightTime + suffix),
      attrOf(rPlan, rightTie + suffix), direction, allowExact, toleranceUs,
      broadcastRight))
  }
}
