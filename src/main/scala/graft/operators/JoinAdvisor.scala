package graft.operators

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.Json
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STATS-DRIVEN JOIN STRATEGY — the consumer that makes the planner
  * evidence load-bearing: `q_join_cardinality` estimates join output
  * from CMS inner products and `q_join_skew_report` surfaces the hot
  * keys, but until now a human had to read those reports and hand-pick
  * `broadcast()` / [[SkewOps.saltedJoin]] / plain. This closes the
  * loop the way a warehouse ANALYZE TABLE does: collect per-(table,
  * key) statistics ONCE into a tiny sidecar, then let every later join
  * against that key consult the stored numbers at plan-build time.
  *
  * The decision procedure is deterministic and documented:
  *
  *   1. BROADCAST — a side whose estimated bytes (rows × static row
  *      width) fit the threshold is broadcast (the smaller side when
  *      both fit). The same rule Spark's own planner applies from file
  *      sizes, but driven by ROW stats, which survive filters/joins
  *      upstream of the file scan where size-in-bytes estimates decay.
  *   2. SALT — neither side fits, and one side's hottest key carries
  *      ≥ `skewFactor` × the mean per-key row count while the OTHER
  *      side is dimension-like (key unique within HLL tolerance, the
  *      [[SkewOps.saltedJoin]] replication contract): the skewed side
  *      salts across ceil(top1/mean) ≤ 32 sub-keys. AQE's skew split
  *      only helps moderate skew; a single pathological key still
  *      lands one task without salting (measured in BENCH_NOTES).
  *   3. PLAIN — everything else: the shuffle hash/sort-merge join is
  *      already the right plan, and hints would only pin AQE down.
  *
  * Every strategy computes the SAME rows (PlanSpec asserts plan shape
  * divergence AND row identity), so a stale sidecar costs performance,
  * never correctness — the staleness contract of every stats artifact
  * in this library.
  *
  * Scale: `collect` is two map-side-combined passes (count + HLL
  * distinct, then a partial top-k over the per-key frequencies); the
  * sidecar is O(topK) JSON on the driver — the cost class of ANALYZE
  * TABLE, paid once per ingest, consulted for free per query.
  */
object JoinAdvisor {

  /** Per-(table, key) statistics: total rows, HLL distinct estimate,
    * the top-k hottest keys with exact counts, and a static bytes/row
    * estimate from the schema. */
  final case class KeyStats(
      rows: Long,
      distinctEst: Long,
      topKeys: Seq[(String, Long)],
      rowBytes: Long) {
    def bytesEst: Long = rows * rowBytes
    def meanPerKey: Double = if (distinctEst <= 0) rows.toDouble
      else rows.toDouble / distinctEst
    def top1: Long = topKeys.headOption.map(_._2).getOrElse(0L)
    /** Dimension-like: key unique within HLL error (±5% default). */
    def keyUnique: Boolean = rows <= math.ceil(distinctEst * 1.1).toLong
  }

  sealed trait Strategy { def tag: String }
  case object BroadcastLeft extends Strategy { val tag = "broadcast_left" }
  case object BroadcastRight extends Strategy { val tag = "broadcast_right" }
  /** Salt the left/right (fact) side across `salt` sub-keys. */
  final case class SaltLeft(salt: Int) extends Strategy { val tag = s"salt_left_$salt" }
  final case class SaltRight(salt: Int) extends Strategy { val tag = s"salt_right_$salt" }
  case object Plain extends Strategy { val tag = "plain" }

  /** ANALYZE face: the key's statistics in two bounded passes. */
  def collect(df: DataFrame, key: String, topK: Int = 10): KeyStats = {
    val head = df.agg(
      count(lit(1)).as("n"),
      approx_count_distinct(col(key)).as("nd")).head
    val freqs = df.groupBy(col(key)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(key)) // partial top-k, tie-broken
      .limit(topK)
      .collect()
      .map(r => String.valueOf(r.get(0)) -> r.getLong(1))
      .toSeq
    val rowBytes = df.schema.map(_.dataType.defaultSize.toLong).sum.max(1L)
    KeyStats(head.getLong(0), head.getLong(1), freqs, rowBytes)
  }

  /** Persist/load the sidecar — one small JSON file beside the table,
    * the ANALYZE artifact later sessions consult without a scan. */
  def save(spark: SparkSession, path: String, st: KeyStats): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val body = Json.mapper.writeValueAsBytes(ListMap(
      "rows" -> st.rows, "distinct_est" -> st.distinctEst, "row_bytes" -> st.rowBytes,
      "top_keys" -> st.topKeys.map { case (k, n) => ListMap("k" -> k, "n" -> n) }))
    val out = fs.create(p, true)
    try out.write(body) finally out.close()
  }

  def load(spark: SparkSession, path: String): KeyStats = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    val root = try Json.mapper.readTree(in) finally in.close()
    def long(field: String): Long =
      Some(root.path(field)).filter(_.canConvertToLong).map(_.asLong)
        .getOrElse(throw new IllegalArgumentException(s"no $field in stats at $path"))
    val tops = Option(root.get("top_keys")).toSeq.flatMap(_.elements().asScala)
      .map(t => t.get("k").asText -> t.get("n").asLong)
    KeyStats(long("rows"), long("distinct_est"), tops, long("row_bytes"))
  }

  /** ANALYZE-and-store beside the table: the sidecar lives under
    * `_advisor/<key>.json` inside the table directory (underscore
    * prefix → invisible to parquet scans), so the statistics travel
    * WITH the data like every other sidecar in this library. */
  def analyzeTable(spark: SparkSession, tablePath: String, df: DataFrame,
      key: String, topK: Int = 10): KeyStats = {
    val st = collect(df, key, topK)
    save(spark, s"$tablePath/_advisor/$key.json", st)
    st
  }

  /** Load the stored statistics for (table, key), if analyzed. */
  def statsFor(spark: SparkSession, tablePath: String,
      key: String): Option[KeyStats] = {
    val p = new Path(s"$tablePath/_advisor/$key.json")
    if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
      Some(load(spark, p.toString))
    else None
  }

  /** The decision procedure over stored stats — pure, deterministic,
    * unit-testable without Spark. */
  def choose(left: KeyStats, right: KeyStats,
      broadcastBytes: Long = 10L * 1024 * 1024,
      skewFactor: Double = 8.0,
      maxSalt: Int = 32): Strategy = {
    val lFits = left.bytesEst <= broadcastBytes
    val rFits = right.bytesEst <= broadcastBytes
    if (lFits || rFits) {
      if (lFits && (!rFits || left.bytesEst <= right.bytesEst)) BroadcastLeft
      else BroadcastRight
    } else {
      def saltFor(fact: KeyStats): Int =
        math.min(maxSalt.toLong,
          math.max(2L, math.ceil(fact.top1 / fact.meanPerKey).toLong)).toInt
      val lSkew = left.top1 >= skewFactor * left.meanPerKey
      val rSkew = right.top1 >= skewFactor * right.meanPerKey
      if (lSkew && right.keyUnique) SaltLeft(saltFor(left))
      else if (rSkew && left.keyUnique) SaltRight(saltFor(right))
      else Plain
    }
  }

  /** Build the equi-join on `key` under `strategy` — every branch
    * computes identical rows. */
  def apply(left: DataFrame, right: DataFrame, key: String,
      strategy: Strategy): DataFrame = strategy match {
    case BroadcastLeft  => broadcast(left).join(right, key)
    case BroadcastRight => left.join(broadcast(right), key)
    case SaltLeft(n)    => SkewOps.saltedJoin(left, right, key, n)
    case SaltRight(n)   =>
      // saltedJoin salts its FIRST argument; restore the left-first
      // column order the other branches produce
      val joined = SkewOps.saltedJoin(right, left, key, n)
      val ordered = Seq(key) ++ left.columns.filterNot(_ == key) ++
        right.columns.filterNot(_ == key)
      joined.select(ordered.map(col): _*)
    case Plain          => left.join(right, key)
  }

  /** EVIDENCE-GUARDED broadcast hint — the headline-query face of the
    * advisor, for plan-build sites whose side is dimension-LIKE at
    * today's corpus but GROWS with it (TPC-H customer/supplier scale
    * ×SF; nation/region don't). A literal `broadcast()` on such a side
    * is the first plan that works at sandbox scale and the plan that
    * dies at 100× (a multi-billion-row broadcast); this guard consults
    * Catalyst's own size estimate for the subplan — derived from file
    * sizes, so it scales WITH the data — and hints only when the side
    * actually fits. At test scale the identical BroadcastHashJoin
    * emerges (PlanSpec pins it); when the estimate crosses the
    * threshold the hint vanishes and the planner keeps its own choice
    * (shuffle join, or AQE's runtime broadcast if the built side turns
    * out small after filters). Driver-only: one analyze+optimize pass
    * over the subplan, no job, no scan. */
  def hintIfSmall(df: DataFrame,
      thresholdBytes: Long = 10L * 1024 * 1024): DataFrame =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(thresholdBytes))
      broadcast(df)
    else df

  /** The one-call face: consult stored stats, pick, build. Returns the
    * joined frame plus the pinned choice (for plan evidence).
    *
    * Session-aware demotion: when AQE's skew-join split is enabled,
    * a Salt choice demotes to Plain — measured twice now (the r8
    * AQE-vs-salting A/B and the AdvisorBench leg-2 rows in
    * BENCH_NOTES), AQE's runtime split beats explicit salting on a
    * pathological key at every local scale tried, because salting
    * pays an unconditional dim×salt replication and an extra wide
    * shuffle while AQE splits only the partitions that actually
    * overflow. The salt tier remains for AQE-off sessions and for
    * engines fronting this library where AQE is unavailable. */
  def advisedJoin(left: DataFrame, right: DataFrame, key: String,
      leftStats: KeyStats, rightStats: KeyStats,
      broadcastBytes: Long = 10L * 1024 * 1024,
      skewFactor: Double = 8.0): (DataFrame, Strategy) = {
    val s0 = choose(leftStats, rightStats, broadcastBytes, skewFactor)
    val aqeSkew = {
      val conf = left.sparkSession.conf
      conf.get("spark.sql.adaptive.enabled", "true") == "true" &&
        conf.get("spark.sql.adaptive.skewJoin.enabled", "true") == "true"
    }
    val s = s0 match {
      case _: SaltLeft | _: SaltRight if aqeSkew => Plain
      case other => other
    }
    (apply(left, right, key, s), s)
  }
}
