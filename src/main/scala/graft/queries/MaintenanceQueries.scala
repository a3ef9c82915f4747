package graft.queries

import graft.{Exact, QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Operational/maintenance analytics (EXT operators): the patterns a
  * 100 TB deployment needs to AVOID rescanning history — incremental
  * aggregate maintenance on top of the reference's watermark CDC
  * protocol (`sharepointutils.py:159-161`), mergeable distinct-count
  * sketches stored per partition and unioned at query time, and an
  * order-independent table fingerprint for replica anti-entropy checks.
  *
  * Scale notes: every query here exists precisely because full rescans
  * stop being affordable — each one touches only the delta (or a
  * sketch/sum that is constant-size per partition) and merges with an
  * associative, commutative operation, so the plan parallelizes with no
  * ordering constraint and no driver-side state.
  */
object MaintenanceQueries {

  import Exact._

  private def ev(s: SparkSession, d: String) = Tables(s, d, "events")
  private def li(s: SparkSession, d: String) = Tables(s, d, "lineitem")

  /** 2024-01-21 00:00 UTC — the CDC cutoff splitting "history" from
    * "new batch" (events span 2024-01-01..01-30). */
  private val CutoffUs = 1705795200000000L

  /** Incremental aggregate maintenance: per-user count/sum kept as a
    * stored aggregate over history, updated by aggregating ONLY the
    * post-watermark delta and merging with a coalescing full outer
    * join. The oracle is the from-scratch aggregate over everything —
    * proving base ⊎ delta ≡ recompute, which is the whole point.
    *
    * Scale: at 100 TB the base side is the stored aggregate table (one
    * row per user, no event rescans) and the log is date-partitioned so
    * the watermark prunes whole partitions (the contract PlanSpec
    * asserts for the vector store); here both branches filter the same
    * scan — post-scan, since the predicate sits on the µs timestamp
    * rebuilt from the fixture's ns column. Counts and exact-integer
    * unit sums are associative/commutative, so the merge is a
    * co-partitioned shuffle join on `user_id` with no broadcast (users
    * grow with the corpus; a full outer join never broadcasts —
    * PlanSpec-asserted). */
  val qIncrAggMerge: QueryDef = QueryDef.sql(
    "q_incr_agg_merge",
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    def aggOf(pred: org.apache.spark.sql.Column, np: String, sp: String) =
      ev(s, d).filter(pred)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as(np), sum(units(col("value"), 2)).as(sp))
    val base = aggOf(unix_micros(col("ts")) < CutoffUs, "b_n", "b_su")
    val delta = aggOf(unix_micros(col("ts")) >= CutoffUs, "d_n", "d_su")
    base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        (coalesce(col("b_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_events"),
        toDouble(coalesce(col("b_su"), lit(0L)) + coalesce(col("d_su"), lit(0L)), 2)
          .as("sum_value"))
      .orderBy("user_id")
  }

  /** Sketch-at-rest distinct counting: one Datasketches HLL sketch per
    * day (the shape you'd persist next to each date partition), unioned
    * across the month and estimated — vs the exact distinct, with the
    * q_approx_distinct-style bound check as the oracle-stable output.
    *
    * Scale: THE 100 TB distinct-user design — a daily sketch is a few
    * KB regardless of row count, the month/quarter rollup unions 30/90
    * sketches instead of rescanning the raw log, and union is
    * associative so any partitioning works. */
  val qSketchUnion: QueryDef = QueryDef.sql(
    "q_sketch_union",
    """SELECT COUNT(DISTINCT user_id) AS n_exact, true AS within_5pct
      |FROM events""".stripMargin) { (s, d) =>
    val daily = ev(s, d)
      .groupBy(floor(unix_micros(col("ts")) / lit(86400000000.0)).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val est = daily.agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("n_approx"))
    ev(s, d).agg(countDistinct(col("user_id")).as("n_exact"))
      .crossJoin(est)
      .select(col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") <=
          col("n_exact").cast("double") * 0.05).as("within_5pct"))
  }

  /** Order-independent table fingerprint for anti-entropy: per
    * return-flag row count + XOR of a 60-bit md5 prefix of each row's
    * canonical repr. Two replicas (or a pre- and post-migration copy)
    * compare fingerprints without moving rows.
    *
    * XOR is commutative/associative and cannot overflow, so the
    * aggregate is one map-side-combined shuffle with no ordering
    * requirement — any partitioning of 100 TB produces the same
    * fingerprint. The row repr uses only exact-integer units, codes and
    * ISO dates (never float-to-string formatting, which differs across
    * engines). */
  val qTableChecksum: QueryDef = QueryDef.sql(
    "q_table_checksum",
    """SELECT l_returnflag, COUNT(*) AS n_rows,
      |  bit_xor(CAST(concat('0x', substring(md5(concat_ws('|',
      |    CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
      |    CAST(CAST(ROUND(l_quantity * 100.0) AS BIGINT) AS VARCHAR),
      |    CAST(CAST(ROUND(l_extendedprice * 100.0) AS BIGINT) AS VARCHAR),
      |    l_linestatus, CAST(l_shipdate AS VARCHAR))), 1, 15)) AS BIGINT)) AS fingerprint
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val repr = concat_ws("|",
      col("l_orderkey").cast("string"), col("l_linenumber").cast("string"),
      units(col("l_quantity"), 2).cast("string"),
      units(col("l_extendedprice"), 2).cast("string"),
      col("l_linestatus"), col("l_shipdate").cast("string"))
    li(s, d)
      .select(col("l_returnflag"),
        conv(substring(md5(repr), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("fingerprint"))
      .orderBy("l_returnflag")
  }

  /** Snapshot diff (table-delta audit): classify every primary key of
    * two table versions as added / removed / changed / unchanged by a
    * co-partitioned FULL OUTER join on the key, comparing rows via an
    * md5 row-hash so arbitrarily wide rows diff at fixed cost. The two
    * versions are derived deterministically from `orders` (drop pk%97
    * from the old copy, drop pk%89 from and bump pk%101's price in the
    * new copy) so both engines construct identical snapshots.
    *
    * Scale: THE migration/replication acceptance check — both sides
    * shuffle once on the key (a full outer join never broadcasts), the
    * row payload collapses to a 32-byte hash before the shuffle, and
    * the verdict is a 4-row report; nothing is ever collected. */
  val qTableDiff: QueryDef = QueryDef.sql(
    "q_table_diff",
    """WITH a AS (
      |  SELECT o_orderkey AS pk,
      |    md5(concat_ws('|', o_orderstatus,
      |      CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS VARCHAR),
      |      o_orderpriority)) AS row_hash
      |  FROM orders WHERE o_orderkey % 97 <> 0
      |), b AS (
      |  SELECT o_orderkey AS pk,
      |    md5(concat_ws('|', o_orderstatus,
      |      CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)
      |           + CASE WHEN o_orderkey % 101 = 0 THEN 100 ELSE 0 END AS VARCHAR),
      |      o_orderpriority)) AS row_hash
      |  FROM orders WHERE o_orderkey % 89 <> 0
      |)
      |SELECT status, COUNT(*) AS n, CAST(SUM(pk) AS BIGINT) AS key_sum FROM (
      |  SELECT COALESCE(a.pk, b.pk) AS pk,
      |    CASE WHEN a.pk IS NULL THEN 'added'
      |         WHEN b.pk IS NULL THEN 'removed'
      |         WHEN a.row_hash <> b.row_hash THEN 'changed'
      |         ELSE 'unchanged' END AS status
      |  FROM a FULL OUTER JOIN b ON a.pk = b.pk
      |)
      |GROUP BY status
      |ORDER BY status""".stripMargin) { (s, d) =>
    val ord = Tables(s, d, "orders")
    def hashOf(cents: org.apache.spark.sql.Column) =
      md5(concat_ws("|", col("o_orderstatus"), cents.cast("string"),
        col("o_orderpriority")))
    val a = ord.filter(col("o_orderkey") % 97 =!= 0)
      .select(col("o_orderkey").as("a_pk"),
        hashOf(units(col("o_totalprice"), 2)).as("a_hash"))
    val b = ord.filter(col("o_orderkey") % 89 =!= 0)
      .select(col("o_orderkey").as("b_pk"),
        hashOf(units(col("o_totalprice"), 2) +
          when(col("o_orderkey") % 101 === 0, 100L).otherwise(0L)).as("b_hash"))
    a.join(b, col("a_pk") === col("b_pk"), "full_outer")
      .select(coalesce(col("a_pk"), col("b_pk")).as("pk"),
        when(col("a_pk").isNull, "added")
          .when(col("b_pk").isNull, "removed")
          .when(col("a_hash") =!= col("b_hash"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("pk")).as("key_sum"))
      .orderBy("status")
  }

  /** Zone-map data skipping at rest: orders is written clustered into
    * $20k price zones with a per-file min/max manifest
    * ([[graft.sources.ZoneMaps]]), then a price-range scan reads ONLY
    * the files whose recorded [min, max] overlaps the predicate. The
    * output carries both the query result AND the pruning evidence
    * (files_total / files_read); the oracle recomputes the manifest
    * arithmetic from the raw table — per-zone min/max overlap is
    * exactly what the sidecar stores, because the clustered write puts
    * each zone in exactly one file. A broken manifest, a file read
    * that shouldn't happen, or a dropped row all break the hash.
    *
    * Scale: THE open-table-format read path — at 100 TB the manifest
    * is MBs, planning cost is O(files) on the driver like every
    * Delta/Iceberg scan, and a 3-zone predicate reads 3 files of 30
    * regardless of table size. SourcesSpec additionally pins
    * `df.inputFiles` ⊆ selected files, so the pruning is real I/O
    * avoidance, not a post-read filter. */
  val qZonemapPrune: QueryDef = QueryDef.sql(
    "q_zonemap_prune",
    """WITH c AS (
      |  SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents, o_orderkey
      |  FROM orders
      |), z AS (
      |  SELECT CAST(floor(CAST(cents AS DOUBLE) / 2000000.0) AS BIGINT) AS zone,
      |    MIN(cents) AS mn, MAX(cents) AS mx
      |  FROM c GROUP BY 1
      |)
      |SELECT
      |  (SELECT COUNT(*) FROM c WHERE cents BETWEEN 5000000 AND 9999999) AS n_match,
      |  (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM c
      |     WHERE cents BETWEEN 5000000 AND 9999999) AS key_sum,
      |  (SELECT COUNT(*) FROM z) AS files_total,
      |  (SELECT COUNT(*) FROM z WHERE mn <= 9999999 AND mx >= 5000000) AS files_read""".stripMargin) { (s, d) =>
    val Seq(dir) = Fixtures.dirs(s, "graft_zonemap", "zonemap")
    val base = Tables(s, d, "orders")
      .select(col("o_orderkey"), units(col("o_totalprice"), 2).as("cents"))
      .withColumn("zone", floor(col("cents").cast("double") / 2000000.0).cast("long"))
    graft.sources.ZoneMaps.write(base, dir, "zone", Seq("cents", "o_orderkey"))
    val (pruned, stats) =
      graft.sources.ZoneMaps.readRange(s, dir, "cents", 5000000L, 9999999L)
    pruned.agg(count(lit(1)).as("n_match"), sum(col("o_orderkey")).as("key_sum"))
      .select(col("n_match"), col("key_sum"),
        lit(stats.filesTotal).as("files_total"),
        lit(stats.filesRead).as("files_read"))
  }

  private val CmsWidth = 256
  private val CmsDepth = 4

  /** Count-min sketch point estimates — the FREQUENCY sketch beside the
    * HLL (distinct, q_sketch_union), Bloom (membership, q_bloom_screen)
    * and approx_top_k (heavy hitters) tiers: one mergeable pass builds
    * a 256×4 counter matrix ([[graft.operators.SketchOps]]), then any
    * key's frequency is answered from KBs of state. The report pairs
    * the estimate with the exact count for the top-10 users; the width
    * is deliberately small enough that hash collisions overcount some
    * estimates, and the DuckDB oracle rebuilds the ENTIRE sketch
    * relationally (same double-hash positions, cells as (row, pos)
    * groups, MIN over rows) — so the packed-counter implementation is
    * cross-validated bit-for-bit, collisions included, not just
    * bound-checked. `never_undercounts` pins the one-sided error. */
  val qCmsCounts: QueryDef = {
    import graft.operators.SketchOps
    QueryDef.sql(
      "q_cms_counts",
      s"""WITH k AS (
         |  SELECT user_id, md5(CAST(user_id AS VARCHAR)) AS mh, COUNT(*) AS n_exact
         |  FROM events GROUP BY user_id
         |), cells AS (
         |  SELECT s.i AS i, ${SketchOps.positionSql("mh", CmsWidth, "s.i")} AS pos,
         |    CAST(SUM(n_exact) AS BIGINT) AS cnt
         |  FROM k CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS i) s
         |  GROUP BY 1, 2
         |), est AS (
         |  SELECT k.user_id, k.n_exact, MIN(c.cnt) AS n_est
         |  FROM k CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS i) s
         |  JOIN cells c ON c.i = s.i AND c.pos = ${SketchOps.positionSql("mh", CmsWidth, "s.i")}
         |  GROUP BY k.user_id, k.n_exact
         |)
         |SELECT user_id, n_exact, n_est, n_est >= n_exact AS never_undercounts
         |FROM est
         |ORDER BY n_exact DESC, user_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val mh = md5(col("user_id").cast("string"))
      val cmsUdaf = udaf(new SketchOps.CmsAggregator(CmsWidth, CmsDepth))
      val sketch = ev(s, d).select(mh.as("mh"))
        .agg(cmsUdaf(col("mh")).as("sk"))
        .head.getSeq[Long](0)
      ev(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .withColumn("n_est",
          SketchOps.estimate(sketch, CmsWidth, CmsDepth)(mh))
        .withColumn("never_undercounts", col("n_est") >= col("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id"))
        .limit(10)
        .select("user_id", "n_exact", "n_est", "never_undercounts")
    }
  }

  /** Bloom-sidecar POINT lookup on the zone-mapped layout — the
    * complement of q_zonemap_prune: the layout is clustered by PRICE,
    * so a point probe on `o_orderkey` gets nothing from min/max stats
    * (every file's key range spans ~the whole domain — `files_minmax`
    * in the output shows exactly that); the per-file Bloom filter
    * ([[graft.sources.ZoneMaps.readPoint]]) admits only files whose
    * sidecar says "maybe", usually 1 — `files_bloom`. No false
    * negatives ⇒ the match set stays exact after the residual filter.
    * The oracle rebuilds per-file admission relationally (distinct
    * double-hash positions per zone, all-positions-present test — the
    * q_bloom_screen technique applied per FILE), so the packed sidecar
    * and the pruning decision are both hash-verified, for present AND
    * absent probe keys.
    *
    * Scale: this is the parquet/ORC bloom-column-index design as an
    * explicit operator — point lookups on a non-layout key read
    * O(fpp · files) instead of every file; the sidecar costs KBs per
    * file and merges order-free. */
  val qZonemapPoint: QueryDef = {
    import graft.operators.BloomOps
    import graft.sources.ZoneMaps
    val keys = Seq(11L, 4242L, 999999999L) // present, present, absent
    val kSql = keys.mkString("[", ", ", "]")
    QueryDef.sql(
      "q_zonemap_point",
      s"""WITH c AS (
         |  SELECT o_orderkey,
         |    CAST(floor(CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS DOUBLE) / 2000000.0) AS BIGINT) AS zone
         |  FROM orders
         |), zstats AS (
         |  SELECT zone, MIN(o_orderkey) AS mn, MAX(o_orderkey) AS mx FROM c GROUP BY zone
         |), bits AS (
         |  SELECT DISTINCT zone,
         |    ${BloomOps.positionSql("md5(CAST(o_orderkey AS VARCHAR))", ZoneMaps.BloomBits, "s.i")} AS pos
         |  FROM c CROSS JOIN (SELECT unnest(range(0, ${ZoneMaps.BloomHashes})) AS i) s
         |), probes AS (
         |  SELECT CAST(unnest($kSql) AS BIGINT) AS probe_key
         |), ppos AS (
         |  SELECT probe_key, s.i AS i,
         |    ${BloomOps.positionSql("md5(CAST(probe_key AS VARCHAR))", ZoneMaps.BloomBits, "s.i")} AS pos
         |  FROM probes CROSS JOIN (SELECT unnest(range(0, ${ZoneMaps.BloomHashes})) AS i) s
         |), admit AS (
         |  SELECT p.probe_key, z.zone,
         |    CASE WHEN COUNT(b.pos) = ${ZoneMaps.BloomHashes} THEN 1 ELSE 0 END AS adm
         |  FROM ppos p
         |  CROSS JOIN (SELECT DISTINCT zone FROM c) z
         |  LEFT JOIN bits b ON b.zone = z.zone AND b.pos = p.pos
         |  GROUP BY p.probe_key, z.zone
         |)
         |SELECT p.probe_key,
         |  (SELECT COUNT(*) FROM c WHERE o_orderkey = p.probe_key) AS n_match,
         |  (SELECT COUNT(*) FROM zstats) AS files_total,
         |  (SELECT COUNT(*) FROM zstats WHERE mn <= p.probe_key AND mx >= p.probe_key) AS files_minmax,
         |  (SELECT CAST(SUM(adm) AS BIGINT) FROM admit a WHERE a.probe_key = p.probe_key) AS files_bloom
         |FROM probes p
         |ORDER BY probe_key""".stripMargin) { (s, d) =>
      val Seq(dir) = Fixtures.dirs(s, "graft_zonemap_pt", "zonemap_pt")
      val base = Tables(s, d, "orders")
        .select(col("o_orderkey"), units(col("o_totalprice"), 2).as("cents"))
        .withColumn("zone", floor(col("cents").cast("double") / 2000000.0).cast("long"))
      ZoneMaps.write(base, dir, "zone", Seq("cents", "o_orderkey"),
        bloomCol = Some("o_orderkey"))
      val m = ZoneMaps.manifest(s, dir)
      // r15 (guide §2.6): the three probe keys are independent
      // read-only lookups — run them as concurrent jobs instead of a
      // sequential driver loop (results keep the keys' order)
      val rows = graft.sources.ParallelJobs.awaitAll(keys.map { k =>
        () => {
          val (pruned, st) = ZoneMaps.readPoint(s, dir, "o_orderkey", k)
          val mm = m.filter(col("min_o_orderkey") <= k && col("max_o_orderkey") >= k).count()
          (k, pruned.count(), st.filesTotal, mm, st.filesRead)
        }
      })
      import s.implicits._
      rows.toDF("probe_key", "n_match", "files_total", "files_minmax", "files_bloom")
        .orderBy("probe_key")
    }
  }

  /** Snapshot isolation + time travel ([[graft.sources.TimeTravel]]):
    * four commits against one table path — overwrite (v1 = pre-1997
    * orders), append (v2 = the rest), overwrite (v3 = only orders over
    * $50k), rollback-to-v2 (v4, an undo that is itself a version) —
    * then EVERY version is read back and aggregated. The oracle states
    * each snapshot's closed form from the raw table, so manifest
    * resolution, append's no-rewrite union, overwrite's isolation and
    * rollback's re-publish must all produce exactly the right row sets.
    * Old snapshots remaining readable is the reproducible-training-run
    * property ("the corpus exactly as of version N").
    *
    * Scale: append cost is O(new data) + one manifest rename — never a
    * history rewrite; reading v_k is a plain parquet scan of the
    * directories its manifest lists. */
  val qTimeTravel: QueryDef = QueryDef.sql(
    "q_time_travel",
    """WITH base AS (
      |  SELECT o_orderdate, CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT * FROM (
      |  SELECT 1 AS version, COUNT(*) AS n_rows,
      |    CAST(SUM(cents) AS DOUBLE) / 100.0 AS total
      |  FROM base WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |  UNION ALL
      |  SELECT 2, COUNT(*), CAST(SUM(cents) AS DOUBLE) / 100.0 FROM base
      |  UNION ALL
      |  SELECT 3, COUNT(*), CAST(SUM(cents) AS DOUBLE) / 100.0
      |  FROM base WHERE cents > 5000000
      |  UNION ALL
      |  SELECT 4, COUNT(*), CAST(SUM(cents) AS DOUBLE) / 100.0 FROM base
      |)
      |ORDER BY version""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_tt", "table")
    val base = Tables(s, d, "orders")
      .select(col("o_orderdate"), units(col("o_totalprice"), 2).as("cents"))
    val cut = lit("1997-01-01 00:00:00").cast("timestamp")
    val v1 = TimeTravel.commitOverwrite(base.filter(col("o_orderdate") < cut), dir)
    val v2 = TimeTravel.commitAppend(base.filter(col("o_orderdate") >= cut), dir)
    val v3 = TimeTravel.commitOverwrite(base.filter(col("cents") > 5000000L), dir)
    val v4 = TimeTravel.rollback(s, dir, v2)
    Seq(v1, v2, v3, v4).map { v =>
      TimeTravel.read(s, dir, Some(v))
        .agg(count(lit(1)).as("n_rows"), toDouble(sum(col("cents")), 2).as("total"))
        .select(lit(v.toInt).as("version"), col("n_rows"), col("total"))
    }.reduce(_ unionByName _)
      .orderBy("version")
  }

  /** SCHEMA EVOLUTION across versioned commits: v1 writes the narrow
    * customer projection, v2 appends rows with an ADDED exact-cents
    * column; the merged-schema read of the live snapshot surfaces the
    * widened column with nulls for narrow history (grouped and summed,
    * so null-vs-zero semantics are what the hash checks). The oracle
    * derives both cohorts from the raw table. Old snapshot v1 keeps
    * reading with its own original schema — pinned in PipelineSpec.
    *
    * Scale: widening a 100 TB table costs O(new data) — no backfill
    * rewrite; every reader chooses evolution (mergeSchema) or the
    * frozen per-snapshot schema. */
  val qSchemaEvolution: QueryDef = QueryDef.sql(
    "q_schema_evolution",
    """WITH c AS (
      |  SELECT c_custkey, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT CAST(c_custkey % 2 AS INTEGER) AS has_cents,
      |  COUNT(*) AS n_rows,
      |  CAST(COALESCE(SUM(CASE WHEN c_custkey % 2 = 1 THEN cents END), 0) AS BIGINT) AS sum_cents
      |FROM c
      |GROUP BY 1
      |ORDER BY has_cents""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_schev", "schev")
    val cust = Tables(s, d, "customer")
    TimeTravel.commitOverwrite(
      cust.filter(col("c_custkey") % 2 === 0).select(col("c_custkey"), col("c_name")), dir)
    TimeTravel.commitAppend(
      cust.filter(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"),
          units(col("c_acctbal"), 2).as("cents")), dir)
    TimeTravel.read(s, dir, mergeSchema = true)
      .groupBy(when(col("cents").isNull, 0).otherwise(1).as("has_cents"))
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(col("cents")), lit(0L)).as("sum_cents"))
      .orderBy("has_cents")
  }

  /** JOIN-CARDINALITY estimation from the CMS — the classic
    * sketch-inner-product bound (Alon–Gilbert–Matias–Szegedy shape on
    * count-min rows): |R ⋈ₖ S| = Σₖ n_R(k)·n_S(k) is estimated as
    * minᵢ Σₚ cmsR[i][p]·cmsS[i][p], here for the orders self-join on
    * o_custkey (real multiplicities, so the answer is NOT just a row
    * count). This is what a planner consults to choose plain vs
    * broadcast vs salted execution WITHOUT running the join — the
    * q_join_skew_report's sketch-tier sibling. Collisions only ADD
    * cross terms, so the estimate never undercounts; the oracle
    * rebuilds the cells relationally and takes the identical
    * min-of-inner-products, making the bound itself hash-verified.
    *
    * Scale: two one-pass sketches + a width×depth driver dot product;
    * the join never executes. */
  val qJoinCardinality: QueryDef = {
    import graft.operators.SketchOps
    QueryDef.sql(
      "q_join_cardinality",
      s"""WITH k AS (
         |  SELECT md5(CAST(o_custkey AS VARCHAR)) AS mh, COUNT(*) AS n
         |  FROM orders GROUP BY o_custkey
         |), cells AS (
         |  SELECT s.i AS i, ${SketchOps.positionSql("mh", CmsWidth, "s.i")} AS pos,
         |    CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM k CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS i) s
         |  GROUP BY 1, 2
         |), est AS (
         |  SELECT MIN(row_ip) AS n_est FROM (
         |    SELECT i, CAST(SUM(cnt * cnt) AS BIGINT) AS row_ip FROM cells GROUP BY i
         |  )
         |), exact AS (
         |  SELECT CAST(SUM(n * n) AS BIGINT) AS n_exact FROM k
         |)
         |SELECT exact.n_exact, est.n_est,
         |  est.n_est >= exact.n_exact AS never_underestimates
         |FROM exact CROSS JOIN est""".stripMargin) { (s, d) =>
      val mh = md5(col("o_custkey").cast("string"))
      val cmsUdaf = udaf(new SketchOps.CmsAggregator(CmsWidth, CmsDepth))
      val sketch = Tables(s, d, "orders").select(mh.as("mh"))
        .agg(cmsUdaf(col("mh")).as("sk"))
        .head.getSeq[Long](0)
      // driver dot product over the bounded counter matrix — the same
      // planning-scale state every optimizer statistic is
      val nEst = (0 until CmsDepth).map { i =>
        (0 until CmsWidth).map(p => {
          val c = sketch(i * CmsWidth + p); c * c
        }).sum
      }.min
      Tables(s, d, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .agg(sum(col("n") * col("n")).as("n_exact"))
        .select(col("n_exact"), lit(nEst).as("n_est"),
          (lit(nEst) >= col("n_exact")).as("never_underestimates"))
    }
  }

  /** Z-ORDER × ZONE MAPS — the two layout primitives composed into the
    * thing they exist for, multi-dimensional file skipping: orders laid
    * out one file per Morton-key bucket (custkey ⋈ order-day
    * interleave), per-file min/max recorded, then a DAY-range query
    * reads only overlapping files. The output carries the result AND
    * the evidence: `files_zorder` (actual manifest pruning) vs
    * `files_linear` — what the SAME predicate reads under a
    * custkey-linear layout normalized to the SAME file count (every
    * linear file spans all days, so day predicates read everything).
    * The oracle recomputes both layouts' admission from the identical
    * bit/bucket arithmetic.
    *
    * Scale: this is why a 100 TB table clusters by Z-value rather than
    * one column when two dimensions carry predicates — pruning holds
    * on BOTH, paying only interleave bit-twiddling at write time. */
  val qZorderSkip: QueryDef = {
    import graft.operators.LayoutOps
    QueryDef.sql(
      "q_zorder_skip",
      s"""WITH z AS (
         |  SELECT o_orderkey,
         |    CAST(o_custkey AS BIGINT) AS ck,
         |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         |    CAST(${LayoutOps.zValueSql(
              "CAST(o_custkey AS BIGINT)",
              "CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)")} >> 18 AS BIGINT) AS zone
         |  FROM orders
         |), zs AS (
         |  SELECT zone, MIN(day) AS mnd, MAX(day) AS mxd FROM z GROUP BY zone
         |), scal AS (
         |  SELECT (SELECT COUNT(*) FROM zs) AS ft, (SELECT MAX(ck) FROM z) AS ckm,
         |    CAST(DATE '1997-03-01' - DATE '1970-01-01' AS BIGINT) AS lo,
         |    CAST(DATE '1997-04-30' - DATE '1970-01-01' AS BIGINT) AS hi
         |), ls AS (
         |  SELECT CAST(floor(CAST(ck AS DOUBLE) * CAST(scal.ft AS DOUBLE)
         |                    / CAST(scal.ckm + 1 AS DOUBLE)) AS BIGINT) AS lzone,
         |    MIN(day) AS mnd, MAX(day) AS mxd
         |  FROM z, scal GROUP BY 1
         |)
         |SELECT
         |  (SELECT COUNT(*) FROM z, scal WHERE day BETWEEN lo AND hi) AS n_match,
         |  (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM z, scal
         |     WHERE day BETWEEN lo AND hi) AS key_sum,
         |  (SELECT ft FROM scal) AS files_total,
         |  (SELECT COUNT(*) FROM zs, scal WHERE mnd <= hi AND mxd >= lo) AS files_zorder,
         |  (SELECT COUNT(*) FROM ls, scal WHERE mnd <= hi AND mxd >= lo) AS files_linear""".stripMargin) { (s, d) =>
      import graft.sources.ZoneMaps
      val Seq(dir) = Fixtures.dirs(s, "graft_zskip", "zskip")
      val day = expr("datediff(cast(o_orderdate as date), date'1970-01-01')").cast("long")
      val base = Tables(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey").cast("long").as("ck"), day.as("day"))
        .withColumn("zone", shiftright(LayoutOps.zValue(col("ck"), col("day")), 18))
      ZoneMaps.write(base, dir, "zone", Seq("day", "o_orderkey"))
      val (lo, hi) = (java.time.LocalDate.of(1997, 3, 1).toEpochDay,
        java.time.LocalDate.of(1997, 4, 30).toEpochDay)
      val (pruned, st) = ZoneMaps.readRange(s, dir, "day", lo, hi)
      val ckm = base.agg(max(col("ck"))).head.getLong(0)
      val linRead = base
        .groupBy(floor(col("ck").cast("double") * lit(st.filesTotal.toDouble)
          / lit((ckm + 1).toDouble)).cast("long").as("lzone"))
        .agg(min(col("day")).as("mnd"), max(col("day")).as("mxd"))
        .filter(col("mnd") <= hi && col("mxd") >= lo)
        .count()
      pruned.agg(count(lit(1)).as("n_match"), sum(col("o_orderkey")).as("key_sum"))
        .select(col("n_match"), col("key_sum"),
          lit(st.filesTotal).as("files_total"),
          lit(st.filesRead).as("files_zorder"),
          lit(linRead).as("files_linear"))
    }
  }

  /** MERGE INTO over the versioned table ([[graft.sources.TimeTravel
    * .merge]]): one commit applies the classic CDC feed — updates
    * (custkey%3=0 get +$1.00), deletes (the %3=0 ∩ %5=0 sub-cohort
    * carries a `_delete` flag), and inserts (re-keyed +1000000 rows for
    * %7=0) — against a customer seed. The read-back classifies every
    * surviving row into kept / updated / inserted cohorts whose counts,
    * exact-cents sums and key ranges the oracle states in closed form:
    * a wrong anti-join, a delete that inserted, or an update that
    * duplicated all land in a different cohort and break the hash. */
  val qMergeUpsert: QueryDef = QueryDef.sql(
    "q_merge_upsert",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), merged AS (
      |  SELECT k, cents + 100 AS cents, 'updated' AS cohort
      |  FROM c WHERE k % 3 = 0 AND k % 5 <> 0
      |  UNION ALL
      |  SELECT k, cents, 'kept' FROM c WHERE k % 3 <> 0
      |  UNION ALL
      |  SELECT k + 1000000, cents + 7, 'inserted' FROM c WHERE k % 7 = 0
      |)
      |SELECT cohort, COUNT(*) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  MIN(k) AS min_key, MAX(k) AS max_key
      |FROM merged
      |GROUP BY cohort
      |ORDER BY cohort""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_merge", "merge")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c, dir)
    val updates = c.filter(col("k") % 3 === 0)
      .select(col("k"), (col("cents") + 100L).as("cents"),
        (col("k") % 5 === 0).as("_delete"))
    val inserts = c.filter(col("k") % 7 === 0)
      .select((col("k") + 1000000L).as("k"), (col("cents") + 7L).as("cents"),
        lit(false).as("_delete"))
    TimeTravel.merge(s, dir, updates.unionByName(inserts), "k", col("_delete"))
    TimeTravel.read(s, dir)
      .withColumn("cohort",
        when(col("k") >= 1000000L, "inserted")
          .when(col("k") % 3 === 0, "updated")
          .otherwise("kept"))
      .groupBy("cohort")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy("cohort")
  }

  /** Constraint-gated commit with quarantine
    * ([[graft.sources.TimeTravel.commitAppendExpect]]): two named
    * expectations (positive balance; a synthetic key rule that overlaps
    * it) gate a customer append — passing rows land in the main table,
    * failing rows land in a quarantine table TAGGED with exactly the
    * expectations they violated. The read-back buckets every row by
    * its verdict and the oracle states all four cohorts (admitted /
    * each single violation / the double violation) in closed form —
    * so the gate can neither drop rows nor mislabel which rule fired. */
  val qExpectations: QueryDef = QueryDef.sql(
    "q_expectations",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), v AS (
      |  SELECT k, cents,
      |    CASE WHEN NOT (cents > 0) AND k % 11 = 0 THEN 'positive_balance,small_key'
      |         WHEN NOT (cents > 0) THEN 'positive_balance'
      |         WHEN k % 11 = 0 THEN 'small_key'
      |         ELSE 'admitted' END AS bucket
      |  FROM c
      |)
      |SELECT bucket, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM v
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(mainDir, qDir) = Fixtures.dirs(s, "graft_expect", "main", "quarantine")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitAppendExpect(c, mainDir, qDir, Map(
      "positive_balance" -> (col("cents") > 0L),
      "small_key" -> (col("k") % 11 =!= 0)))
    val admitted = TimeTravel.read(s, mainDir).withColumn("bucket", lit("admitted"))
    val quarantined = TimeTravel.read(s, qDir)
      .withColumn("bucket", col("_violated")).drop("_violated")
    admitted.unionByName(quarantined)
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy("bucket")
  }

  /** Merge-on-read DELETE via deletion vectors
    * ([[graft.sources.TimeTravel.deleteMoR]]): two deletes tombstone
    * rows by (file, row-position) WITHOUT rewriting any data file — an
    * append in between proves tombstones carry across commits, and a
    * final OPTIMIZE folds the DVs into a compacted rewrite. Every
    * version's (count, exact-cents sum) is stated in closed form, so a
    * tombstone that leaked into the wrong snapshot, double-counted, or
    * failed to survive the append/compaction breaks the hash. The
    * 100 TB story is the whole point: DELETE cost is O(matched rows) of
    * tombstone output — not a table rewrite — deferred to maintenance
    * time, which is how every modern table format prices deletes. */
  val qDeleteMor: QueryDef = QueryDef.sql(
    "q_delete_mor",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), app AS (
      |  SELECT k + 2000000 AS k, cents + 3 AS cents FROM c WHERE k % 13 = 0
      |), v2 AS (
      |  SELECT * FROM c WHERE NOT (cents < 0)
      |), v3 AS (
      |  SELECT * FROM v2 UNION ALL SELECT * FROM app
      |), v4 AS (
      |  SELECT * FROM v3 WHERE k % 4 <> 0
      |)
      |SELECT * FROM (
      |  SELECT 1 AS version, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents FROM c
      |  UNION ALL
      |  SELECT 2, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v2
      |  UNION ALL
      |  SELECT 3, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v3
      |  UNION ALL
      |  SELECT 4, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v4
      |  UNION ALL
      |  SELECT 5, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM v4
      |)
      |ORDER BY version""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_dv", "dv")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c, dir)                            // v1
    TimeTravel.deleteMoR(s, dir, col("cents") < 0L)               // v2
    TimeTravel.commitAppend(c.filter(col("k") % 13 === 0)         // v3
      .select((col("k") + 2000000L).as("k"), (col("cents") + 3L).as("cents")), dir)
    TimeTravel.deleteMoR(s, dir, col("k") % 4 === 0)              // v4
    val v5 = TimeTravel.optimize(s, dir)                          // folds DVs
    (1L to v5).map { v =>
      TimeTravel.read(s, dir, Some(v))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(lit(v.toInt).as("version"), col("n"), col("sum_cents"))
    }.reduce(_ unionByName _)
      .orderBy("version")
  }

  /** CHANGE DATA FEED between snapshots
    * ([[graft.sources.TimeTravel.changeFeed]]): a CDC-shaped overwrite
    * (updates +$1.00 for custkey%3, deletes custkey%5, re-keyed inserts
    * for custkey%7) and the feed recovered by diffing v1→v2 — every key
    * classified insert / delete / update_preimage+postimage, unchanged
    * rows dropped by the row-hash compare. The oracle states the whole
    * feed in closed form, so a misclassified cohort (a delete read as
    * an update, a surviving unchanged row) breaks the hash. Scale: one
    * co-partitioned full outer join on the key, output O(changed). */
  val qChangeFeed: QueryDef = QueryDef.sql(
    "q_change_feed",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), feed AS (
      |  SELECT 'delete' AS ct, k, cents FROM c WHERE k % 5 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', k, cents FROM c WHERE k % 3 = 0 AND k % 5 <> 0
      |  UNION ALL
      |  SELECT 'update_postimage', k, cents + 100 FROM c WHERE k % 3 = 0 AND k % 5 <> 0
      |  UNION ALL
      |  SELECT 'insert', k + 1000000, cents + 7 FROM c WHERE k % 7 = 0
      |)
      |SELECT ct AS change_type, COUNT(*) AS n,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  MIN(k) AS min_key, MAX(k) AS max_key
      |FROM feed
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_cdf", "cdf")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c, dir)                            // v1
    val after = c.filter(col("k") % 5 =!= 0)
      .select(col("k"),
        when(col("k") % 3 === 0, col("cents") + 100L).otherwise(col("cents")).as("cents"))
      .unionByName(c.filter(col("k") % 7 === 0)
        .select((col("k") + 1000000L).as("k"), (col("cents") + 7L).as("cents")))
    TimeTravel.commitOverwrite(after, dir)                        // v2
    TimeTravel.changeFeed(s, dir, "k", 1L, 2L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("k")).as("min_key"), max(col("k")).as("max_key"))
      .orderBy("change_type")
  }

  /** Incremental JOIN view maintenance — the delta rule for the join
    * sibling of [[qIncrAggMerge]]'s aggregate: with a materialized
    * V = R ⋈ S and inserts ΔR, ΔS arriving,
    *
    *   ΔV = ΔR⋈S_old ∪ R_old⋈ΔS ∪ ΔR⋈ΔS
    *
    * so the view advances by joining each DELTA against the other
    * side — never re-joining R_old⋈S_old. Here R = orders split at a
    * date watermark, S = customer split on a key cohort; the query
    * materializes V_old, applies the three delta terms, and aggregates
    * the maintained view per nation. The oracle is the from-scratch
    * full join — proving V_old ⊎ ΔV ≡ recompute, which is the whole
    * point. Scale: every delta term has a small side (the delta), so
    * AQE broadcasts it; the O(|R|·|S|) recompute never runs. */
  val qIncrJoinMerge: QueryDef = QueryDef.sql(
    "q_incr_join_merge",
    """SELECT c.c_nationkey AS nation,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    val cut = lit("1997-01-01 00:00:00").cast("timestamp")
    val o = Tables(s, d, "orders").select(
      col("o_custkey"), col("o_orderdate"), units(col("o_totalprice"), 2).as("cents"))
    val c = Tables(s, d, "customer").select(col("c_custkey"), col("c_nationkey"))
    val (oldR, dR) = (o.filter(col("o_orderdate") < cut), o.filter(col("o_orderdate") >= cut))
    val (oldS, dS) = (c.filter(col("c_custkey") % 10 =!= 0), c.filter(col("c_custkey") % 10 === 0))
    def j(r: org.apache.spark.sql.DataFrame, sS: org.apache.spark.sql.DataFrame) =
      r.join(sS, col("o_custkey") === col("c_custkey"))
        .select(col("c_nationkey").as("nation"), col("cents"))
    val vOld = j(oldR, oldS)
    val dV = j(dR, oldS).unionByName(j(oldR, dS)).unionByName(j(dR, dS))
    vOld.unionByName(dV)
      .groupBy("nation")
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .orderBy("nation")
  }

  /** Mergeable QUANTILE sketch at rest — the fourth member of the
    * sketch tier (Bloom = membership, HLL = distinct, CMS = frequency,
    * this = quantiles): per-shard equi-width histograms of order totals
    * ($10k bins, exact BIGINT counts) are persisted once, merged by a
    * plain `GROUP BY bin / SUM` (elementwise addition — associative,
    * commutative, so shards combine in any order), and p50/p90/p99 read
    * out by EXACT integer rank: the smallest bin whose cumulative count
    * reaches ceil(q·total/100). No IEEE anywhere — unlike t-digest/KLL
    * the readout is deterministic to the bin, which is what makes it
    * cross-engine checkable; the oracle rebuilds the histogram globally,
    * so the shard-merge ≡ direct-build claim IS the checked property.
    *
    * Scale: the sketch is O(bins) per shard regardless of rows; the
    * cumulative window runs over the ≤O(bins) merged table (bounded —
    * never the corpus). */
  val qQuantileSketch: QueryDef = QueryDef.sql(
    "q_quantile_sketch",
    """WITH b AS (
      |  SELECT CAST(ROUND(o_totalprice * 100.0) AS BIGINT) // 1000000 AS bin
      |  FROM orders
      |), h AS (
      |  SELECT bin, COUNT(*) AS n FROM b GROUP BY bin
      |), t AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS total FROM h
      |), c AS (
      |  SELECT bin, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum FROM h
      |), qs AS (
      |  SELECT UNNEST([50, 90, 99]) AS q
      |), r AS (
      |  SELECT q, CAST((q * total + 99) // 100 AS BIGINT) AS target_rank, total
      |  FROM qs, t
      |)
      |SELECT r.q, CAST(MIN(c.bin) * 1000000 AS BIGINT) AS bin_lo_cents,
      |  r.target_rank, r.total
      |FROM r JOIN c ON c.cum >= r.target_rank
      |GROUP BY r.q, r.target_rank, r.total
      |ORDER BY r.q""".stripMargin) { (s, d) =>
    val Seq(dir) = Fixtures.dirs(s, "graft_qsk", "qsk")
    import s.implicits._
    // build per-shard sketches and persist them — at 100 TB these are
    // the per-partition histograms a stats job leaves beside the data
    Tables(s, d, "orders")
      .select((col("o_orderkey") % 8).as("shard"),
        expr("cast(round(o_totalprice * 100.0) as bigint) div 1000000").as("bin"))
      .groupBy("shard", "bin").agg(count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("shard").parquet(dir)
    // merge = elementwise sum over the stored sketches (O(shards·bins))
    val merged = s.read.parquet(dir).groupBy("bin").agg(sum(col("n")).as("n"))
    val total = merged.agg(sum(col("n")).as("total"))
    // bounded-table window: |bins| rows, never the corpus
    val cum = merged.withColumn("cum",
      sum(col("n")).over(Window.orderBy("bin")))
    val r = Seq(50, 90, 99).toDF("q")
      .crossJoin(broadcast(total))
      .withColumn("target_rank", expr("(q * total + 99) div 100"))
    r.join(cum, col("cum") >= col("target_rank"))
      .groupBy("q", "target_rank", "total")
      .agg((min(col("bin")) * 1000000L).as("bin_lo_cents"))
      .select(col("q"), col("bin_lo_cents"), col("target_rank"), col("total"))
      .orderBy("q")
  }

  /** Sketch-tier SET ALGEBRA: audience-overlap estimation from HLL
    * sketches alone via inclusion–exclusion — |A∩B| ≈ est(A) + est(B)
    * − est(A∪B), the only intersection an HLL supports (HLLs union
    * natively but cannot intersect). Audiences are the urgent-order vs
    * high-order customer sets (1297 / 1295 distinct, exact overlap
    * 1120 at sf0.01 — a real partial overlap, not a degenerate all-in
    * fixture). Output: the four EXACT cardinalities (hash-checked) and
    * the bound verdict on the sketch-side estimate; the tolerance is
    * 10% of the UNION because inclusion–exclusion compounds the three
    * sketches' errors relative to the union size, not the intersection
    * — the known accuracy cliff of this technique (tiny overlaps of
    * huge sets need exact joins or theta sketches, which is the
    * documented trade).
    *
    * Scale: the campaign-overlap question answered from three KB-sized
    * sketches instead of a distinct-join over two 100 TB scans; each
    * sketch is one map-side-combined pass, the union sketch merges the
    * per-audience sketches without rescanning. */
  val qSketchIntersect: QueryDef = QueryDef.sql(
    "q_sketch_intersect",
    """SELECT
      |  (SELECT COUNT(DISTINCT o_custkey) FROM orders
      |    WHERE o_orderpriority = '1-URGENT') AS n_a,
      |  (SELECT COUNT(DISTINCT o_custkey) FROM orders
      |    WHERE o_orderpriority = '2-HIGH') AS n_b,
      |  (SELECT COUNT(DISTINCT o_custkey) FROM orders
      |    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS n_union,
      |  (SELECT COUNT(DISTINCT o_custkey) FROM orders WHERE o_orderpriority = '1-URGENT')
      |    + (SELECT COUNT(DISTINCT o_custkey) FROM orders WHERE o_orderpriority = '2-HIGH')
      |    - (SELECT COUNT(DISTINCT o_custkey) FROM orders
      |        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')) AS n_intersect,
      |  true AS within_10pct_of_union""".stripMargin) { (s, d) =>
    val od = Tables(s, d, "orders")
    def aud(p: String) = od.filter(col("o_orderpriority") === p)
    val exact = aud("1-URGENT").agg(countDistinct(col("o_custkey")).as("n_a"))
      .crossJoin(aud("2-HIGH").agg(countDistinct(col("o_custkey")).as("n_b")))
      .crossJoin(od.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .agg(countDistinct(col("o_custkey")).as("n_union")))
    // sketch side: one HLL per audience; the union sketch is a MERGE of
    // the two audience sketches (never a third scan)
    val sk = aud("1-URGENT").agg(hll_sketch_agg(col("o_custkey")).as("sk_a"))
      .crossJoin(aud("2-HIGH").agg(hll_sketch_agg(col("o_custkey")).as("sk_b")))
      .select(
        hll_sketch_estimate(col("sk_a")).as("est_a"),
        hll_sketch_estimate(col("sk_b")).as("est_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))).as("est_u"))
      .select((col("est_a") + col("est_b") - col("est_u")).as("est_i"))
    exact.crossJoin(sk)
      .select(col("n_a"), col("n_b"), col("n_union"),
        (col("n_a") + col("n_b") - col("n_union")).as("n_intersect"),
        (abs(col("est_i") - (col("n_a") + col("n_b") - col("n_union"))).cast("double")
          <= col("n_union").cast("double") * 0.10).as("within_10pct_of_union"))
  }

  /** MERKLE-BUCKET anti-entropy (the Dynamo/Cassandra repair protocol,
    * one level deep): two replicas first exchange 64 bucket-level
    * (count, XOR-fingerprint) pairs — KBs regardless of table size —
    * and only the buckets whose fingerprints diverge are re-scanned at
    * row level to classify changed vs removed keys. The coarse pass is
    * [[qTableChecksum]]'s order-independent XOR per pk%64 bucket; the
    * drill pass is [[qTableDiff]]'s key join RESTRICTED to divergent
    * buckets (a bounded ≤64-row semi-filter — the one legitimate
    * broadcast). The fixture perturbs ~25 of 15k keys (price-bump
    * pk%997, delete pk%1499), so most buckets compare clean and the
    * drill touches only the divergent minority — the point of the
    * protocol. The new replica only loses/changes rows (never adds),
    * so the drill's left join is complete.
    *
    * Scale: repairing a 100 TB replica pair costs one fingerprint scan
    * per side plus row work proportional to the DIVERGENT buckets
    * only; with B buckets and d divergent, row comparison shrinks by
    * d/B without any row ever leaving its executor. */
  val qMerkleDiff: QueryDef = QueryDef.sql(
    "q_merkle_diff",
    """WITH rows_old AS (
      |  SELECT o_orderkey AS pk, o_orderkey % 64 AS bucket,
      |    md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
      |      CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS VARCHAR),
      |      o_orderpriority)) AS h
      |  FROM orders
      |), rows_new AS (
      |  SELECT o_orderkey AS pk, o_orderkey % 64 AS bucket,
      |    md5(concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
      |      CAST(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)
      |        + CASE WHEN o_orderkey % 997 = 0 THEN 100 ELSE 0 END AS VARCHAR),
      |      o_orderpriority)) AS h
      |  FROM orders WHERE o_orderkey % 1499 <> 0
      |), fp_old AS (
      |  SELECT bucket, COUNT(*) AS n_old,
      |    bit_xor(CAST(concat('0x', substring(h, 1, 15)) AS BIGINT)) AS fp
      |  FROM rows_old GROUP BY bucket
      |), fp_new AS (
      |  SELECT bucket, COUNT(*) AS n_new,
      |    bit_xor(CAST(concat('0x', substring(h, 1, 15)) AS BIGINT)) AS fp
      |  FROM rows_new GROUP BY bucket
      |), diff AS (
      |  SELECT fp_old.bucket, n_old, n_new
      |  FROM fp_old JOIN fp_new ON fp_old.bucket = fp_new.bucket
      |  WHERE fp_old.fp <> fp_new.fp OR n_old <> n_new
      |), drill AS (
      |  SELECT a.bucket,
      |    CAST(SUM(CASE WHEN b.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |    CAST(SUM(CASE WHEN b.pk IS NOT NULL AND a.h <> b.h THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_changed
      |  FROM rows_old a LEFT JOIN rows_new b ON a.pk = b.pk
      |  WHERE a.bucket IN (SELECT bucket FROM diff)
      |  GROUP BY a.bucket
      |)
      |SELECT diff.bucket, n_old, n_new, n_changed, n_removed
      |FROM diff JOIN drill ON diff.bucket = drill.bucket
      |ORDER BY diff.bucket""".stripMargin) { (s, d) =>
    val ord = Tables(s, d, "orders")
    def rowsOf(cents: org.apache.spark.sql.Column, pred: org.apache.spark.sql.Column) =
      ord.filter(pred).select(
        col("o_orderkey").as("pk"), (col("o_orderkey") % 64).as("bucket"),
        md5(concat_ws("|", col("o_orderkey").cast("string"), col("o_orderstatus"),
          cents.cast("string"), col("o_orderpriority"))).as("h"))
    val rowsOld = rowsOf(units(col("o_totalprice"), 2), lit(true))
    val rowsNew = rowsOf(
      units(col("o_totalprice"), 2) +
        when(col("o_orderkey") % 997 === 0, 100L).otherwise(0L),
      col("o_orderkey") % 1499 =!= 0)
    def fpOf(r: org.apache.spark.sql.DataFrame, n: String) =
      r.select(col("bucket"), conv(substring(col("h"), 1, 15), 16, 10).cast("long").as("hl"))
        .groupBy("bucket")
        .agg(count(lit(1)).as(n), expr("bit_xor(hl)").as(s"fp_$n"))
    val diff = fpOf(rowsOld, "n_old").join(fpOf(rowsNew, "n_new"), Seq("bucket"))
      .filter(col("fp_n_old") =!= col("fp_n_new") || col("n_old") =!= col("n_new"))
      .select("bucket", "n_old", "n_new")
    // drill: rows re-compared ONLY inside divergent buckets — the ≤64-row
    // bucket list is the broadcast side of a semi-join
    val drill = rowsOld
      .join(broadcast(diff.select("bucket")), Seq("bucket"), "left_semi")
      .join(rowsNew.select(col("pk"), col("h").as("h_new")), Seq("pk"), "left_outer")
      .groupBy("bucket")
      .agg(
        sum(when(col("h_new").isNull, 1).otherwise(0)).as("n_removed"),
        sum(when(col("h_new").isNotNull && col("h") =!= col("h_new"), 1).otherwise(0))
          .as("n_changed"))
    diff.join(drill, Seq("bucket"))
      .select(col("bucket"), col("n_old"), col("n_new"), col("n_changed"), col("n_removed"))
      .orderBy("bucket")
  }

  /** Materialized-view AUTO-REWRITE face ([[graft.plans.MvRewrite]],
    * the transparent half of the MV story whose maintenance half is
    * [[qIncrAggMerge]]): the per-user aggregate is materialized and
    * registered, then the SAME aggregate is planned again — the
    * optimizer substitutes the O(users) parquet materialization for
    * the full events scan (exact canonical-plan matching, so anything
    * semantically different keeps reading the base table — MvSpec pins
    * hit, miss, self-join and unregistration behavior). The output is
    * the aggregate itself (hash-checked — a stale or wrong
    * materialization breaks every row) plus the rewrite evidence bit
    * read from the executed plan.
    *
    * Scale: the dashboard-query pattern — repeated aggregates over a
    * 100 TB fact answered from an O(groups) materialization the
    * incremental-merge job keeps fresh, with zero query rewriting by
    * the user. */
  val qMvRewrite: QueryDef = QueryDef.sql(
    "q_mv_rewrite",
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  true AS read_from_mv
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    import graft.plans.MvCatalog
    val Seq(dir) = Fixtures.dirs(s, "graft_mv", "mv")
    def agg = ev(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(units(col("value"), 2)).as("sum_cents"))
    MvCatalog.register(s, s"per_user_${Integer.toHexString(d.hashCode)}", agg, dir)
    val q = agg
    val fromMv =
      Fixtures.scans(q, dir)
    q.withColumn("read_from_mv", lit(fromMv)).orderBy("user_id")
  }

  /** MV FILTER SUBSUMPTION ([[graft.plans.MvRewrite]]'s second probe):
    * the registered definition is the full per-user aggregate; the
    * query asks for a SLICE of it (`user_id % 7 = 0` — a predicate on
    * the grouping column). Exact matching can't serve this; the
    * subsumption probe strips the pushed-down filter, matches what
    * remains against the registered canonical plan, and re-applies the
    * predicate ABOVE the materialization — so the plan reads O(matching
    * groups) from the MV parquet (with the predicate pushed into that
    * scan) instead of rescanning the fact table. `read_from_mv` rides
    * in the output so a silently-missed rewrite breaks the hash, not
    * just a benchmark; the aggregate values double-check that slicing
    * groups after aggregation ≡ filtering rows before (sound exactly
    * because the predicate touches only grouping columns). */
  val qMvSubsume: QueryDef = QueryDef.sql(
    "q_mv_subsume",
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  CAST(MAX(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS max_cents,
      |  true AS read_from_mv
      |FROM events
      |WHERE user_id % 7 = 0
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    import graft.plans.MvCatalog
    val Seq(dir) = Fixtures.dirs(s, "graft_mvs", "mv")
    // the max_cents aggregate keeps this definition canonically DISTINCT
    // from q_mv_rewrite's (the MvCatalog is session-scoped and Verify
    // runs every query in one session — two entries with identical
    // canonical plans would serve each other's materializations)
    def agg = ev(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(units(col("value"), 2)).as("sum_cents"),
        max(units(col("value"), 2)).as("max_cents"))
    MvCatalog.register(s, s"per_user_sub_${Integer.toHexString(d.hashCode)}", agg, dir)
    val q = ev(s, d).filter(col("user_id") % 7 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(units(col("value"), 2)).as("sum_cents"),
        max(units(col("value"), 2)).as("max_cents"))
    val fromMv =
      Fixtures.scans(q, dir)
    q.withColumn("read_from_mv", lit(fromMv)).orderBy("user_id")
  }

  /** MV PROJECTION SUBSUMPTION ([[graft.plans.MvRewrite]]'s third
    * probe): the registered definition materializes three aggregates
    * per event_type; the query asks for TWO of them, reordered. Exact
    * matching can't see this (column pruning rewrote both the agg list
    * and the child projection); the probe compares the plans under
    * their pruning Projects, maps the query's columns onto the MV's
    * positions, and serves the slice — with column pruning reaching
    * the MV parquet scan, so the query reads 2 columns of O(groups).
    * `read_from_mv` rides in the output: a silently-missed rewrite
    * breaks the hash. Grouped by event_type to stay canonically
    * distinct from the other MV queries in the session catalog. */
  val qMvProject: QueryDef = QueryDef.sql(
    "q_mv_project",
    """SELECT event_type,
      |  CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  COUNT(*) AS n_events,
      |  true AS read_from_mv
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    import graft.plans.MvCatalog
    val Seq(dir) = Fixtures.dirs(s, "graft_mvp", "mv")
    def defAgg = ev(s, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(units(col("value"), 2)).as("sum_cents"),
        max(units(col("value"), 2)).as("max_cents"))
    MvCatalog.register(s, s"per_type_${Integer.toHexString(d.hashCode)}", defAgg, dir)
    val q = ev(s, d).groupBy(col("event_type"))
      .agg(sum(units(col("value"), 2)).as("sum_cents"), count(lit(1)).as("n_events"))
    val fromMv =
      Fixtures.scans(q, dir)
    q.withColumn("read_from_mv", lit(fromMv)).orderBy("event_type")
  }

  /** Hidden `_metadata` FILE-introspection columns — the per-file
    * audit a compaction/layout advisor reads without any sidecar:
    * orders is rewritten bucket-partitioned (one file per
    * `o_orderkey % 8` directory), read back, and profiled PER FILE
    * through Spark's `_metadata` struct — the bucket parsed from
    * `file_path`, and the row count derived TWICE (COUNT(*) vs
    * max(`row_index`)+1, which must agree — an internal-consistency
    * check on the metadata row indexing itself). The oracle recomputes
    * everything from the bucket rule, so a row landing in the wrong
    * file breaks the hash.
    *
    * Scale: `_metadata` is generated by the scan (no extra I/O); the
    * report is one aggregate keyed by file — O(files) output, the
    * input to dropPartitions/compact decisions. */
  val qFileMetadata: QueryDef = QueryDef.sql(
    "q_file_metadata",
    """SELECT o_orderkey % 8 AS bucket,
      |  COUNT(*) AS n_rows,
      |  COUNT(*) AS n_rows_by_index,
      |  COUNT(DISTINCT o_custkey) AS n_custkeys,
      |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val Seq(dir) = Fixtures.dirs(s, "graft_filemeta", "filemeta")
    Tables(s, d, "orders")
      .withColumn("bucket", col("o_orderkey") % 8)
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    s.read.parquet(dir)
      .select(col("o_orderkey"), col("o_custkey"),
        regexp_extract(col("_metadata.file_path"), "bucket=(\\d+)", 1)
          .cast("long").as("bucket"),
        col("_metadata.row_index").as("ri"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        (max(col("ri")) + 1).as("n_rows_by_index"),
        countDistinct(col("o_custkey")).as("n_custkeys"),
        min(col("o_orderkey")).as("min_key"), max(col("o_orderkey")).as("max_key"))
      .orderBy("bucket")
  }

  /** DSv2 `VERSION AS OF` over a merge-on-read-deleted snapshot: a
    * commit then a [[graft.sources.TimeTravel.deleteMoR]], and BOTH
    * versions read back through the `graft-table` DataSource V2 face —
    * not the library read path. Version 2 carries pending deletion
    * vectors, so the scan only works because the injected
    * [[graft.plans.DvApply]] optimizer rule rewrites the relation into
    * the tombstone anti-join in-plan; a rule that failed to fire (loud
    * error) or applied the wrong tombstones (hash break) both fail the
    * oracle, which states each version in closed form. Scale: the DV
    * side is O(deleted rows) and broadcasts; the data side keeps the
    * delegated parquet scan's pushdown and pruning. */
  val qTtDvSql: QueryDef = QueryDef.sql(
    "q_tt_dv_sql",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), live AS (
      |  SELECT * FROM c WHERE k % 3 <> 0
      |)
      |SELECT * FROM (
      |  SELECT 1 AS version, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents FROM c
      |  UNION ALL
      |  SELECT 2, COUNT(*), CAST(SUM(cents) AS BIGINT) FROM live
      |)
      |ORDER BY version""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttdv", "table")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c, dir)               // v1
    TimeTravel.deleteMoR(s, dir, col("k") % 3 === 0) // v2: pending DVs
    def viaDsv2(v: Long) =
      s.read.format("graft-table").option("version", v.toString).load(dir)
    Seq(1L, 2L).map { v =>
      viaDsv2(v)
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
        .select(lit(v.toInt).as("version"), col("n"), col("sum_cents"))
    }.reduce(_ unionByName _)
      .orderBy("version")
  }

  /** AUTOMATIC incremental MV maintenance
    * ([[graft.plans.MvMaintenance]]) — [[qIncrAggMerge]] states the
    * delta rule by hand; this face DERIVES it from the registered
    * definition's optimized plan and drives it off the versioned
    * table's append log. Orders lands in two commits (v1 = keys not
    * divisible by 5, v2 appends the rest); a per-priority rollup
    * registers at v1, `refresh` folds v2's delta in, and the output
    * is the definition SERVED THROUGH THE REWRITE over the refreshed
    * parquet. Evidence rides in the row: `refresh_mode` must be
    * 'incremental' (a silent full rebuild breaks the hash),
    * `delta_only` that the partial scanned exactly v2's files, and
    * `read_from_mv` that the rewrite serves the materialization. The
    * oracle is the from-scratch aggregate over ALL orders — fold ≡
    * recompute.
    *
    * Scale: the nightly-append story — refresh scans O(new data),
    * shuffles its groups once, folds O(groups); the base's history is
    * never rescanned. */
  val qMvIncremental: QueryDef = QueryDef.sql(
    "q_mv_incremental",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  'incremental' AS refresh_mode,
      |  true AS delta_only,
      |  true AS read_from_mv
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.plans.{MvCatalog, MvMaintenance}
    import graft.sources.TimeTravel
    val tag = Integer.toHexString(d.hashCode)
    val Seq(base, mv) = Fixtures.dirs(s, "graft_ivm", "base", "mv")
    val name = s"ivm_$tag"
    MvMaintenance.unregister(name); MvCatalog.unregister(name)
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        units(col("o_totalprice"), 2).as("cents"))
    def define(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
    TimeTravel.commitOverwrite(o.filter(col("o_orderkey") % 5 =!= 0), base) // v1
    MvMaintenance.register(s, name, base, mv)(define)
    TimeTravel.commitAppend(o.filter(col("o_orderkey") % 5 === 0), base)    // v2
    val res = MvMaintenance.refresh(s, name)
    val deltaOnly = res.mode == "incremental" && res.deltaFiles.nonEmpty &&
      res.deltaFiles.forall(f => f.contains("data/v00002") && !f.contains("data/v00001"))
    val q = define(TimeTravel.read(s, base))
    val fromMv =
      Fixtures.scans(q, mv)
    q.withColumn("refresh_mode", lit(res.mode))
      .withColumn("delta_only", lit(deltaOnly))
      .withColumn("read_from_mv", lit(fromMv))
      .orderBy("o_orderpriority")
  }

  /** FOOTER-STATS aggregate over a versioned snapshot: Spark's DSv2
    * parquet scan implements `SupportsPushDownAggregates`, and the
    * time-travel face ([[graft.sources.TimeTravelProvider]]) delegates
    * to it — so with `spark.sql.parquet.aggregatePushdown` on, a
    * count/min/max over `VERSION AS OF` answers from row-group
    * statistics with ZERO data pages read. Orders lands in two commits
    * to prove the stats compose across append history; the result row
    * is executed INSIDE the conf window (one bounded row) so the
    * session conf is restored for every other query; `agg_pushed`
    * carries the plan evidence into the hash. SourcesSpec pins the
    * safety half: a DV-bearing snapshot must NOT serve pre-delete
    * footer stats (the anti-join rewrite structurally precludes it).
    *
    * Scale: the 100 TB `SELECT COUNT(*)` — O(files) footer reads on
    * the executors, no row materialization at all. */
  val qTtAggPush: QueryDef = QueryDef.sql(
    "q_tt_agg_push",
    """SELECT COUNT(*) AS n_orders,
      |  MIN(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS min_cents,
      |  MAX(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS max_cents,
      |  true AS agg_pushed
      |FROM orders""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttap", "table")
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey"), units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitOverwrite(o.filter(col("o_orderkey") % 2 === 0), dir)
    TimeTravel.commitAppend(o.filter(col("o_orderkey") % 2 =!= 0), dir)
    val prev = s.conf.getOption("spark.sql.parquet.aggregatePushdown")
    s.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    val (row, pushed) =
      try {
        val agg = s.read.format("graft-table").load(dir)
          .agg(count(lit(1)).as("n_orders"), min(col("cents")).as("min_cents"),
            max(col("cents")).as("max_cents"))
        (agg.head,
          agg.queryExecution.executedPlan.toString.contains("PushedAggregation: [COUNT"))
      } finally prev match {
        case Some(v) => s.conf.set("spark.sql.parquet.aggregatePushdown", v)
        case None    => s.conf.unset("spark.sql.parquet.aggregatePushdown")
      }
    import s.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getLong(2), pushed))
      .toDF("n_orders", "min_cents", "max_cents", "agg_pushed")
  }

  /** FILE SKIPPING in the versioned table
    * ([[graft.sources.TimeTravel.readPruned]]): orders committed as
    * seven date-ordered appends (one per year) with per-file
    * min/max/count stats sidecars collected AT COMMIT TIME from just
    * the new files; a one-year range read then plans against the
    * snapshot's sidecars and scans only the overlapping files — the
    * Delta/Iceberg add-file-stats pruning, recovered on the homegrown
    * format. `files_pruned` carries the evidence (files read <
    * files total) into the hash; the oracle recomputes the year slice
    * from the raw table, so a skipped file that actually held 1995
    * rows breaks the count.
    *
    * Scale: with commits clustered on the stats column (the natural
    * date-ordered ingest), slicing one year of a 100 TB history costs
    * ⌈selectivity · files⌉ data reads plus one O(files) sidecar scan —
    * no full-history rescan. */
  val qTtPrune: QueryDef = QueryDef.sql(
    "q_tt_prune",
    """SELECT COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  true AS files_pruned
      |FROM orders
      |WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1996-01-01'""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttpr", "table")
    val o = Tables(s, d, "orders").select(
      expr("datediff(cast(o_orderdate as date), date'1970-01-01')").cast("long").as("dd"),
      units(col("o_totalprice"), 2).as("cents"))
    def day(y: Int) = java.time.LocalDate.of(y, 1, 1).toEpochDay
    // staged in parallel, published in order — identical 7-commit table,
    // the 7 data writes overlap as concurrent jobs (TimeTravel.commitSeries)
    TimeTravel.commitSeries((1992 to 1998).map { y =>
      o.filter(col("dd") >= day(y) && col("dd") < day(y + 1)).coalesce(1)
    }, dir, statsCols = Seq("dd"))
    val (pruned, st) = TimeTravel.readPruned(s, dir, "dd", day(1995), day(1996) - 1)
    pruned.agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .withColumn("files_pruned", lit(st.filesRead >= 1 && st.filesRead < st.filesTotal))
  }

  /** AUTOMATIC file skipping ([[graft.plans.StatsPrune]]) — the rule
    * face of [[qTtPrune]]: the same seven date-ordered stats-carrying
    * commits, but the query is the NAIVE spelling — a plain
    * `.filter(dd BETWEEN …)` over the DSv2 `graft-table` scan, no
    * library call — and the injected rule re-plans it against the
    * sidecars to scan only the overlapping files. `rule_pruned`
    * carries the plan evidence (the relation was substituted and reads
    * fewer files than the snapshot holds); the oracle recomputes the
    * slice from the raw table. */
  val qTtPruneAuto: QueryDef = QueryDef.sql(
    "q_tt_prune_auto",
    """SELECT COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  true AS rule_pruned
      |FROM orders
      |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttpa", "table")
    val o = Tables(s, d, "orders").select(
      expr("datediff(cast(o_orderdate as date), date'1970-01-01')").cast("long").as("dd"),
      units(col("o_totalprice"), 2).as("cents"))
    def day(y: Int) = java.time.LocalDate.of(y, 1, 1).toEpochDay
    // staged in parallel, published in order — identical 7-commit table,
    // the 7 data writes overlap as concurrent jobs (TimeTravel.commitSeries)
    TimeTravel.commitSeries((1992 to 1998).map { y =>
      o.filter(col("dd") >= day(y) && col("dd") < day(y + 1)).coalesce(1)
    }, dir, statsCols = Seq("dd"))
    val naive = s.read.format("graft-table").load(dir)
      .filter(col("dd") >= day(1996) && col("dd") < day(1997))
    val prunedFiles = naive.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum
    naive.agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .withColumn("rule_pruned",
        lit(prunedFiles > 0 && prunedFiles < 7))
  }

  /** File skipping THROUGH a column mapping ([[graft.plans.StatsPrune]]
    * + the r11 logical→physical probe re-keying): the same seven
    * date-ordered stats-carrying commits, but the stats column is
    * RENAMED mid-history (`dd` → `day_key` after 1998's commit) and the
    * later commits collect stats under the logical name — sidecars key
    * on the immutable physical name throughout, and the naive DSv2
    * filter on the NEW name must still re-plan to the overlapping
    * files. `mapped_pruned` carries the plan evidence; the oracle
    * recomputes the year slice from the raw table, so a probe that
    * matched the wrong sidecar (the logical/physical collision hazard)
    * or skipped a holding file breaks the count. */
  val qTtPruneMapped: QueryDef = QueryDef.sql(
    "q_tt_prune_mapped",
    """SELECT COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  true AS mapped_pruned
      |FROM orders
      |WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttpm", "table")
    val o = Tables(s, d, "orders").select(
      expr("datediff(cast(o_orderdate as date), date'1970-01-01')").cast("long").as("dd"),
      units(col("o_totalprice"), 2).as("cents"))
    def day(y: Int) = java.time.LocalDate.of(y, 1, 1).toEpochDay
    // pre-rename era (fresh table): stage the four commits in parallel
    // (TimeTravel.commitSeries) — the post-rename appends below stay
    // sequential, they depend on the rename's column mapping
    TimeTravel.commitSeries((1995 to 1998).map { y =>
      o.filter(col("dd") >= day(y) && col("dd") < day(y + 1)).coalesce(1)
    }, dir, statsCols = Seq("dd"))
    TimeTravel.renameColumn(s, dir, "dd", "day_key")
    (1999 to 2001).foreach { y =>
      val b = o.filter(col("dd") >= day(y) && col("dd") < day(y + 1))
        .withColumnRenamed("dd", "day_key").coalesce(1)
      TimeTravel.commitAppend(b, dir, statsCols = Seq("day_key"))
    }
    val naive = s.read.format("graft-table").load(dir)
      .filter(col("day_key") >= day(1997) && col("day_key") < day(1998))
    val prunedFiles = naive.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum
    naive.agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .withColumn("mapped_pruned",
        lit(prunedFiles > 0 && prunedFiles < 7))
  }

  /** BLOOM point lookup through the versioned table
    * ([[graft.sources.TimeTravel.readPoint]] + the
    * [[graft.plans.StatsPrune]] bloom tier): customer lands in three
    * commits DATE-laid-out on acctbal-cents while `c_custkey` stays
    * scattered — every file's key [min, max] spans the domain, so
    * range stats prune nothing — and per-file Bloom sidecars admit a
    * `WHERE c_custkey = k` probe to the one file that can hold it (no
    * false negatives; the residual equality makes the answer exact,
    * a false positive costs a read, never a row). The naive DSv2
    * spelling goes through the injected rule; `bloom_pruned` carries
    * both the library-face and plan evidence.
    *
    * Scale: the Delta bloom-column-index story — a point lookup on an
    * unclustered column of a 100 TB table reads O(1) files plus the
    * O(files) sidecar scan, with zero layout help. */
  val qTtPoint: QueryDef = QueryDef.sql(
    "q_tt_point",
    """SELECT c_custkey, c_nationkey,
      |  CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents,
      |  true AS bloom_pruned
      |FROM customer
      |WHERE c_custkey = 421
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttbl", "table")
    val c = Tables(s, d, "customer").select(col("c_custkey"), col("c_nationkey"),
      units(col("c_acctbal"), 2).as("cents"))
    // three commits split on a NON-key attribute: custkeys scatter
    // across all three files; fresh table → stage them in parallel
    TimeTravel.commitSeries((0 to 2).map { r =>
      c.filter(col("cents") % 3 === r).coalesce(1)
    }, dir, bloomCols = Seq("c_custkey"))
    val (viaLib, st) = TimeTravel.readPoint(s, dir, "c_custkey", 421L)
    val naive = s.read.format("graft-table").load(dir).filter(col("c_custkey") === 421L)
    val prunedFiles = naive.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum
    val evidence = st.filesRead < st.filesTotal &&
      prunedFiles > 0 && prunedFiles < 3
    viaLib.select(col("c_custkey"), col("c_nationkey"), col("cents"))
      .withColumn("bloom_pruned", lit(evidence))
      .orderBy("c_custkey")
  }

  /** INCREMENTAL MV maintenance with an AVG column
    * ([[graft.plans.MvMaintenance]] r9 decomposition tier): avg itself
    * can never fold (avg-of-avgs), so the maintenance derives its
    * sum+count decomposition from the optimized plan, stores the
    * pieces in a hidden `_state` parquet beside the serving MV, folds
    * the delta's pieces with plain sums, and re-projects the quotient
    * — while the serving materialization keeps the definition's exact
    * schema so the transparent rewrite still matches. Evidence rides
    * in the row as in [[qMvIncremental]]: `refresh_mode` must be
    * 'incremental' (a silent rebuild breaks the hash), `delta_only`
    * that the partial scanned exactly v2's files, `read_from_mv` that
    * the rewrite serves the refreshed parquet. The oracle recomputes
    * count/sum/avg from scratch — an unsound fold (the avg-of-avgs
    * class mistake this tier exists to avoid) breaks the avg column.
    *
    * Scale: same nightly-append story as the mergeable tier — O(new
    * data) scan, one shuffle over delta groups, O(groups) fold — now
    * covering the avg-bearing dashboards that previously paid a full
    * rebuild per refresh. */
  val qMvIncrementalAvg: QueryDef = QueryDef.sql(
    "q_mv_incremental_avg",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  AVG(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS avg_cents,
      |  'incremental' AS refresh_mode,
      |  true AS delta_only,
      |  true AS read_from_mv
      |FROM orders
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.plans.{MvCatalog, MvMaintenance}
    import graft.sources.TimeTravel
    val tag = Integer.toHexString(d.hashCode)
    val Seq(base, mv) = Fixtures.dirs(s, "graft_iva", "base", "mv")
    val name = s"iva_$tag"
    MvMaintenance.unregister(name); MvCatalog.unregister(name)
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        units(col("o_totalprice"), 2).as("cents"))
    def define(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"),
          avg(col("cents")).as("avg_cents"))
    TimeTravel.commitOverwrite(o.filter(col("o_orderkey") % 5 =!= 0), base) // v1
    MvMaintenance.register(s, name, base, mv)(define)
    TimeTravel.commitAppend(o.filter(col("o_orderkey") % 5 === 0), base)    // v2
    val res = MvMaintenance.refresh(s, name)
    val deltaOnly = res.mode == "incremental" && res.deltaFiles.nonEmpty &&
      res.deltaFiles.forall(f => f.contains("data/v00002") && !f.contains("data/v00001"))
    val q = define(TimeTravel.read(s, base))
    val fromMv =
      Fixtures.scans(q, mv)
    q.withColumn("refresh_mode", lit(res.mode))
      .withColumn("delta_only", lit(deltaOnly))
      .withColumn("read_from_mv", lit(fromMv))
      .orderBy("o_orderpriority")
  }

  /** AVG ROLL-UP from the decomposed state ([[graft.plans.MvRewrite]]
    * × [[graft.plans.MvMaintenance]], r9 composition): an avg-bearing
    * MV registered through the maintenance tier carries its sum+count
    * piece state, and a COARSER query asking for the avg is served by
    * folding Σsum/Σcnt from that state — the one aggregate the
    * roll-up probe previously had to decline (avg-of-avgs is exactly
    * the unsound fold). `rolled_from_state` pins that the plan reads
    * the `_state` parquet and never rescans the base; the oracle
    * recomputes count/avg/sum from the raw table, so an unsound fold
    * breaks the avg column.
    *
    * Scale: one fine materialization now serves avg dashboards at
    * every coarser cut with O(MV groups) work — previously each cut
    * re-scanned the fact table just for its average. */
  val qMvRollupAvg: QueryDef = QueryDef.sql(
    "q_mv_rollup_avg",
    """WITH o AS (
      |  SELECT o_orderpriority,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  AVG(cents) AS avg_cents,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS rolled_from_state
      |FROM o
      |GROUP BY 1
      |ORDER BY 1""".stripMargin) { (s, d) =>
    import graft.plans.{MvCatalog, MvMaintenance}
    import graft.sources.TimeTravel
    val tag = Integer.toHexString(d.hashCode)
    val Seq(base, mv) = Fixtures.dirs(s, "graft_rav", "base", "mv")
    val name = s"rav_$tag"
    MvMaintenance.unregister(name); MvCatalog.unregister(name)
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitOverwrite(o, base)
    MvMaintenance.register(s, name, base, mv)((df: org.apache.spark.sql.DataFrame) =>
      df.groupBy(col("o_orderpriority"), (col("o_orderkey") % 4).as("bucket"))
        .agg(count(lit(1)).as("n_orders"), avg(col("cents")).as("avg_cents"),
          sum(col("cents")).as("sum_cents")))
    val q = TimeTravel.read(s, base)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), avg(col("cents")).as("avg_cents"),
        sum(col("cents")).as("sum_cents"))
    val fromState = Fixtures.scans(q, s"$mv/_state") && !Fixtures.scans(q, base)
    q.withColumn("rolled_from_state", lit(fromState))
      .orderBy("o_orderpriority")
  }

  /** SQL `MERGE INTO` over the versioned table ([[graft.plans.SqlDml]]
    * + [[graft.sources.GraftCatalog]], r9 tier): the canonical upsert
    * statement — `WHEN MATCHED THEN UPDATE SET …, WHEN NOT MATCHED
    * THEN INSERT …` — is translated during analysis into
    * [[graft.sources.TimeTravel.merge]], so the library's row-level
    * commit is reachable from the exact SQL a warehouse user writes.
    * The source carries both updates (matched keys get +777 cents) and
    * brand-new negative keys; the oracle states the merged row set in
    * closed form, so a mistranslated action (update applied to the
    * wrong side, inserts dropped, double-applied rows) breaks count or
    * sum. `via_sql` pins that the statement committed version 2.
    *
    * Scale: the statement plans exactly the library merge — one
    * left-anti join keeping untouched rows plus the projected source,
    * one commit; no per-row driver work. */
  val qTtMergeSql: QueryDef = QueryDef.sql(
    "q_tt_merge_sql",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), src AS (
      |  SELECT k, cents + 777 AS cents FROM c WHERE k % 4 = 0
      |  UNION ALL
      |  SELECT -k, k * 3 FROM c WHERE k % 10 = 0 AND k > 0
      |), merged AS (
      |  SELECT k, cents FROM c WHERE k NOT IN (SELECT k FROM src)
      |  UNION ALL
      |  SELECT k, cents FROM src
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(CASE WHEN k < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
      |  true AS via_sql
      |FROM merged""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttms", "table")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c, dir) // v1
    // k > 0 on the insert branch: custkey 0 exists at every sf, and
    // -0 would collide with the matched branch's 0 — a duplicate
    // source key the MERGE contract now rejects loudly
    val src = c.filter(col("k") % 4 === 0)
      .select(col("k"), (col("cents") + 777).as("cents"))
      .unionByName(c.filter(col("k") % 10 === 0 && col("k") > 0)
        .select((-col("k")).as("k"), (col("k") * 3).as("cents")))
    val view = s"merge_src_${Integer.toHexString(d.hashCode)}"
    src.createOrReplaceTempView(view)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val v = s.sql(
      s"""MERGE INTO graft.`$dir` t USING $view s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET k = s.k, cents = s.cents
         |WHEN NOT MATCHED THEN INSERT (k, cents) VALUES (s.k, s.cents)
         |""".stripMargin).collect().head.getLong(0)
    TimeTravel.read(s, dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        sum(when(col("k") < 0, 1L).otherwise(0L)).as("n_inserted"))
      .withColumn("via_sql", lit(v == 2L))
  }

  /** SQL `INSERT INTO` + `DELETE FROM` + `UPDATE` over the versioned
    * table ([[graft.plans.SqlDml]] r9 tier): the remaining row-level
    * statements beyond MERGE, each translated to its library op —
    * INSERT to [[graft.sources.TimeTravel.commitAppend]] (one new
    * version, O(new rows)), DELETE to
    * [[graft.sources.TimeTravel.deleteMoR]] (tombstones only), UPDATE
    * to [[graft.sources.TimeTravel.updateMoR]] (tombstone + updated
    * copies in one atomic publish). The sequence composes: the DELETE
    * sees the post-INSERT rows, the UPDATE the post-DELETE live set —
    * a translation that read stale tombstones or double-applied them
    * breaks the closed-form oracle. `via_sql` pins the committed
    * versions (2, 3, then 4).
    *
    * Scale: every statement costs O(touched rows) writes — the data
    * files of the 100 TB base are never rewritten by any of them. */
  val qTtDmlSql: QueryDef = QueryDef.sql(
    "q_tt_dml_sql",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), live AS (
      |  SELECT k,
      |    CASE WHEN k % 7 = 0 THEN cents + 100 ELSE cents END AS cents
      |  FROM c WHERE k % 5 <> 0
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS via_sql
      |FROM live""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttds", "table")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    // v1 holds most rows; the k % 9 = 0 slice arrives via SQL INSERT
    TimeTravel.commitOverwrite(c.filter(col("k") % 9 =!= 0), dir) // v1
    val view = s"dml_ins_${Integer.toHexString(d.hashCode)}"
    c.filter(col("k") % 9 === 0).createOrReplaceTempView(view)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val v2 = s.sql(s"INSERT INTO graft.`$dir` SELECT * FROM $view")
      .collect().head.getLong(0)
    val v3 = s.sql(s"DELETE FROM graft.`$dir` WHERE k % 5 = 0")
      .collect().head.getLong(0)
    val v4 = s.sql(s"UPDATE graft.`$dir` SET cents = cents + 100 WHERE k % 7 = 0")
      .collect().head.getLong(0)
    TimeTravel.read(s, dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("via_sql", lit(v2 == 2L && v3 == 3L && v4 == 4L))
  }

  /** DATE-typed automatic file skipping ([[graft.plans.StatsPrune]]
    * r9 tier): the same naive-spelling story as [[qTtPruneAuto]], but
    * the stats column is a genuine DATE — the dominant warehouse
    * predicate shape (`WHERE od BETWEEN DATE '…' AND DATE '…'`), which
    * previously declined the rule because the eligibility probe only
    * admitted integral types. DateType is days-as-int internally, so
    * the literal bounds and the sidecar min/max compare on the same
    * monotone integral form; the residual filter stays exact on top.
    * `date_pruned` carries the strict-subset evidence into the hash;
    * the oracle recomputes the year slice from the raw table.
    *
    * Scale: a date-ranged query over a date-clustered 100 TB history
    * reads ⌈selectivity · files⌉ with no user-side cast gymnastics —
    * the naive SQL a BI tool emits is the fast path. */
  val qTtPruneDate: QueryDef = QueryDef.sql(
    "q_tt_prune_date",
    """SELECT COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  true AS date_pruned
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'
      |  AND CAST(o_orderdate AS DATE) < DATE '1998-01-01'""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttpd", "table")
    val o = Tables(s, d, "orders").select(
      expr("cast(o_orderdate as date)").as("od"),
      units(col("o_totalprice"), 2).as("cents"))
    // staged in parallel, published in order — identical 7-commit table,
    // the 7 data writes overlap as concurrent jobs (TimeTravel.commitSeries)
    TimeTravel.commitSeries((1995 to 2001).map { y =>
      o.filter(
        col("od") >= lit(s"$y-01-01").cast("date") &&
          col("od") < lit(s"${y + 1}-01-01").cast("date")).coalesce(1)
    }, dir, statsCols = Seq("od"))
    val naive = s.read.format("graft-table").load(dir)
      .filter(expr("od >= DATE'1997-01-01' AND od < DATE'1998-01-01'"))
    val prunedFiles = naive.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.length
    }.sum
    naive.agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
      .withColumn("date_pruned",
        lit(prunedFiles > 0 && prunedFiles < 7))
  }

  /** MV ROLL-UP SUBSUMPTION ([[graft.plans.MvRewrite]] r8 tier): a
    * per-(event_type, user-cohort) rollup is registered, and the
    * per-event_type query — a COARSER grouping — is answered by
    * re-aggregating the materialization (counts fold as SUM of stored
    * counts, sum as sum, max as max: the finer groups partition the
    * coarser ones). `rolled_up` carries the plan evidence; the oracle
    * recomputes from the raw table, so an unsound fold (an avg-of-avgs
    * class mistake) breaks the hash.
    *
    * Scale: the cube-lattice payoff — one fine-grained materialization
    * serves every coarser dashboard cut with O(MV groups) work; the
    * 100 TB fact table is scanned once at registration, not per cut. */
  val qMvRollup: QueryDef = QueryDef.sql(
    "q_mv_rollup",
    """SELECT event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(ROUND(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  MIN(CAST(ROUND(value * 100.0) AS BIGINT)) AS min_cents,
      |  true AS rolled_up
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    import graft.plans.MvCatalog
    val Seq(dir) = Fixtures.dirs(s, "graft_mvr", "mv")
    def fine = ev(s, d).groupBy(col("event_type"), (col("user_id") % 50).as("cohort"))
      .agg(count(lit(1)).as("n_events"), sum(units(col("value"), 2)).as("sum_cents"),
        min(units(col("value"), 2)).as("min_cents"))
    MvCatalog.register(s, s"per_type_cohort_${Integer.toHexString(d.hashCode)}", fine, dir)
    val q = ev(s, d).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(units(col("value"), 2)).as("sum_cents"),
        min(units(col("value"), 2)).as("min_cents"))
    val fromMv =
      Fixtures.scans(q, dir)
    q.withColumn("rolled_up", lit(fromMv)).orderBy("event_type")
  }

  /** Partition-scoped `INSERT INTO … REPLACE WHERE` over the versioned
    * table ([[graft.sources.TimeTravel.replaceWhere]] via
    * [[graft.plans.SqlDml]], r10 tier): the Delta replaceWhere shape —
    * delete(predicate) + append in ONE atomic commit, untouched files
    * byte-identical. One band of the customer slice is replaced with
    * +555-cent copies; the oracle states the post-replace row set in
    * closed form, so a translation that overwrote the whole table,
    * missed the tombstones, or double-applied the band breaks count or
    * sum. `via_sql` additionally pins the scoped evidence: the
    * statement committed version 2 whose snapshot still LISTS the seed
    * directory (2 dirs + 1 DV dir — a full overwrite would list 1/0).
    *
    * Scale: refreshing one partition of a 100 TB date-laid-out table
    * costs O(band) tombstones + O(band) new rows + one manifest rename
    * — data outside the predicate is never read for rewrite. */
  val qTtReplaceWhere: QueryDef = QueryDef.sql(
    "q_tt_replace_where",
    """WITH c AS (
      |  SELECT c_custkey AS k, c_custkey % 4 AS band,
      |    CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), live AS (
      |  SELECT k, band,
      |    CASE WHEN band = 1 THEN cents + 555 ELSE cents END AS cents
      |  FROM c
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS via_sql
      |FROM live""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttrw", "table")
    val c = Tables(s, d, "customer").select(col("c_custkey").as("k"),
      (col("c_custkey") % 4).as("band"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c, dir) // v1
    val view = s"rw_src_${Integer.toHexString(d.hashCode)}"
    c.filter(col("band") === 1)
      .select(col("k"), col("band"), (col("cents") + 555).as("cents"))
      .createOrReplaceTempView(view)
    s.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val v = s.sql(
      s"INSERT INTO graft.`$dir` REPLACE WHERE band = 1 SELECT * FROM $view")
      .collect().head.getLong(0)
    // scoped evidence: v2 still lists the seed dir (2 dirs, 1 DV dir)
    val h = TimeTravel.history(s, dir).filter(col("version") === 2)
      .select("n_dirs", "n_dvs").head
    val scoped = h.getInt(0) == 2 && h.getInt(1) == 1
    TimeTravel.read(s, dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("via_sql", lit(v == 2L && scoped))
  }

  /** Versioned-table STREAMING SOURCE ([[graft.sources.TimeTravelSource]]
    * via [[graft.streaming.TableStreams.pipeAppends]], r10 tier):
    * `readStream` FROM a graft table — offsets are versions, each
    * micro-batch is the manifest diff, consumed here into a SECOND
    * versioned table through the exactly-once tagged sink (source and
    * sink face composed: the incremental table-to-table pipe). The
    * first pipe run moves the seed snapshot; two more commits land and
    * a second pipe run (same checkpoint) must move EXACTLY the
    * appended rows — `via_stream` pins both run row-counts and that
    * the sink reached exactly 2 commits (one per run). The oracle
    * states the full customer-derived row set in closed form: a source
    * that double-read history or dropped a batch breaks count or sum.
    *
    * Scale: each batch reads only the directories the new manifests
    * added — O(new data) per poll over a 100 TB history; planning is
    * driver-side manifest reads. */
  val qTtStreamSource: QueryDef = QueryDef.sql(
    "q_tt_stream_source",
    """WITH c AS (
      |  SELECT c_custkey AS k, c_custkey % 3 AS band,
      |    CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS via_stream
      |FROM c""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    import graft.streaming.TableStreams
    val Seq(base, sink, cp) = Fixtures.dirs(s, "graft_ttss", "table", "sink", "cp")
    val c = Tables(s, d, "customer").select(col("c_custkey").as("k"),
      (col("c_custkey") % 3).as("band"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c.filter(col("band") === 0), base) // v1
    val moved1 = TableStreams.pipeAppends(s, base, sink, cp) // snapshot batch
    TimeTravel.commitAppend(c.filter(col("band") === 1), base) // v2
    TimeTravel.commitAppend(c.filter(col("band") === 2), base) // v3
    val moved2 = TableStreams.pipeAppends(s, base, sink, cp) // appends only
    val n0 = c.filter(col("band") === 0).count()
    val sinkCommits = TimeTravel.versions(s, sink).size
    TimeTravel.read(s, sink)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("via_stream",
        lit(moved1 == n0 && moved1 + moved2 == c.count() && sinkCommits == 2))
      .select(col("n_rows"), col("sum_cents"), col("via_stream"))
  }

  /** Schema evolution TIER 2 — rename + widen via column mapping
    * ([[graft.sources.TimeTravel.renameColumn]]/`widenColumn`, r10
    * tier; add-column was [[qSchemaEvolution]]): v1 commits the odd
    * customer rows with an INT `bal` column; a metadata-only RENAME to
    * `balance` and a metadata-only WIDEN to bigint follow (no data
    * files rewritten — the map carries logical name + declared type);
    * the even rows then append in the new logical shape with values
    * only a bigint can hold. The final read resolves BOTH eras through
    * the map — old narrow files cast up under the new name. The oracle
    * states the merged row set in closed form; `mapped` pins the era
    * evidence: v1 still serves `bal` as int, the live schema is
    * `balance` bigint, and versions 2–3 added zero data directories.
    *
    * Scale: rename/widen on a 100 TB table are one manifest rename
    * each; the per-directory mapped read folds back to a single scan
    * at the next OPTIMIZE. */
  val qSchemaEvolutionV2: QueryDef = QueryDef.sql(
    "q_schema_evolution_v2",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN k % 2 = 0 THEN cents + 1000000000000
      |                ELSE cents END) AS BIGINT) AS sum_balance,
      |  true AS mapped
      |FROM c""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(dir) = Fixtures.dirs(s, "graft_ttse2", "table")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(
      c.filter(col("k") % 2 === 1)
        .select(col("k"), col("cents").cast("int").as("bal")), dir) // v1, narrow era
    TimeTravel.renameColumn(s, dir, "bal", "balance") // v2, metadata-only
    TimeTravel.widenColumn(s, dir, "balance", "bigint") // v3, metadata-only
    TimeTravel.commitAppend(
      c.filter(col("k") % 2 === 0)
        .select(col("k"), (col("cents") + lit(1000000000000L)).as("balance")), dir) // v4
    val era1 = TimeTravel.read(s, dir, Some(1L))
    val live = TimeTravel.read(s, dir)
    val metaOnly = TimeTravel.history(s, dir)
      .filter(col("version").isin(2, 3) && col("n_added") === 0).count() == 2
    val evidence = era1.columns.toSeq == Seq("k", "bal") &&
      era1.schema("bal").dataType == org.apache.spark.sql.types.IntegerType &&
      live.columns.toSeq == Seq("k", "balance") &&
      live.schema("balance").dataType == org.apache.spark.sql.types.LongType &&
      metaOnly
    live.agg(count(lit(1)).as("n_rows"), sum(col("balance")).as("sum_balance"))
      .withColumn("mapped", lit(evidence))
  }

  /** CDF-mode table stream ([[graft.sources.TimeTravelSource]]
    * `streamMode=cdf`, r10 tier) — the update-mode face for tables
    * with ROW-LEVEL churn, where the appends stream correctly refuses
    * to serve: the history is seed → MoR DELETE → MoR UPDATE → append,
    * and one AvailableNow pass from `startingVersion=1` must stream
    * exactly [[graft.sources.TimeTravel.changeFeed]](1 → latest) —
    * deletes, update pre+post images, and inserts classified per key.
    * The batch lands in a parquet sink via foreachBatch (no driver
    * collect); the oracle states each change class's count and cents
    * sum in closed form, so a feed that missed tombstones, double-counted
    * updates, or leaked unchanged rows breaks the hash. */
  val qTtStreamCdf: QueryDef = QueryDef.sql(
    "q_tt_stream_cdf",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |), feed AS (
      |  SELECT 'delete' AS ct, k, cents FROM c WHERE k % 10 = 0
      |  UNION ALL
      |  SELECT 'update_preimage', k, cents FROM c WHERE k % 10 <> 0 AND k % 7 = 3
      |  UNION ALL
      |  SELECT 'update_postimage', k, cents + 7 FROM c WHERE k % 10 <> 0 AND k % 7 = 3
      |  UNION ALL
      |  SELECT 'insert', -k, k * 2 FROM c WHERE k % 9 = 0 AND k > 0
      |)
      |SELECT ct AS change_type, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS via_stream
      |FROM feed GROUP BY ct ORDER BY ct""".stripMargin) { (s, d) =>
    import graft.sources.TimeTravel
    val Seq(base, sink, cp) = Fixtures.dirs(s, "graft_ttcdf", "table", "sink", "cp")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c, base) // v1
    TimeTravel.deleteMoR(s, base, col("k") % 10 === 0) // v2
    TimeTravel.updateMoR(s, base, col("k") % 7 === 3,
      Seq("cents" -> (col("cents") + 7))) // v3 (k%10=0 rows already dead)
    TimeTravel.commitAppend(
      c.filter(col("k") % 9 === 0 && col("k") > 0)
        .select((-col("k")).as("k"), (col("k") * 2).as("cents")), base) // v4
    val q = graft.streaming.TableStreams
      .readTableStream(s, base, startingVersion = Some(1L), cdfKey = Some("k"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(sink): Unit
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    s.read.parquet(sink)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("via_stream", lit(true))
      .select(col("change_type"), col("n_rows"), col("sum_cents"), col("via_stream"))
      .orderBy("change_type")
  }

  val all: Seq[QueryDef] = Seq(qIncrAggMerge, qSketchUnion, qTableChecksum, qTableDiff,
    qZonemapPrune, qCmsCounts, qZonemapPoint, qTimeTravel, qSchemaEvolution,
    qJoinCardinality, qZorderSkip, qMergeUpsert, qExpectations, qDeleteMor,
    qChangeFeed, qIncrJoinMerge, qQuantileSketch, qSketchIntersect, qMerkleDiff,
    qMvRewrite, qMvSubsume, qMvProject, qFileMetadata, qTtDvSql, qMvIncremental,
    qTtAggPush, qTtPrune, qTtPruneAuto, qTtPruneMapped, qTtPoint, qMvRollup, qTtPruneDate,
    qTtMergeSql, qTtDmlSql, qMvIncrementalAvg, qMvRollupAvg, qTtReplaceWhere,
    qTtStreamSource, qSchemaEvolutionV2, qTtStreamCdf)
}
