package graft

import graft.operators.LayoutOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {

  test("zValue interleaves bits (golden values + inverse roundtrip)") {
    import spark.implicits._
    // golden: z(x=0b101, y=0b011) = x bits at even, y bits at odd
    // positions = 0b011011 wait—compute independently in scala:
    def zRef(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (65535L, 0L),
      (0L, 65535L), (1234L, 4321L), (65535L, 65535L))
    val got = cases.toDF("x", "y")
      .select(LayoutOps.zValue(col("x"), col("y")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map { case (x, y) => zRef(x, y) })
    // distinct inputs -> distinct z (bijective on 16-bit inputs)
    assert(got.distinct.size == got.size)
  }

  test("z-order layout prunes on BOTH dimensions; single-column sort on one") {
    val raw = Tables(spark, sf, "orders")
      .select(col("o_custkey").cast("long").as("x"),
        expr("datediff(cast(o_orderdate as date), date'1970-01-01')").cast("long").as("d"))
    val b = raw.agg(min(col("x")), max(col("x")), min(col("d")), max(col("d"))).head()
    val (minX, maxX, minD, maxD) = (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // normalize both dimensions onto the full 16-bit range so the
    // interleave gives them equal weight (the production recipe)
    val df = raw.select(
        ((col("x") - minX) * 65535L / (maxX - minX)).cast("long").as("xs"),
        ((col("d") - minD) * 65535L / (maxD - minD)).cast("long").as("ys"))
      .withColumn("z", LayoutOps.zValue(col("xs"), col("ys")))
      .localCheckpoint()

    // "files" = 8 equal-frequency buckets of the given sort order; a file
    // can be skipped for a predicate iff its min/max range misses it
    def overlapping(sortCol: String, dim: String, lo: Long, hi: Long): Long =
      df.select(col(dim), ntile(8).over(Window.orderBy(col(sortCol))).as("bucket"))
        .groupBy("bucket")
        .agg(min(col(dim)).as("lo"), max(col(dim)).as("hi"))
        .filter(col("hi") >= lo && col("lo") <= hi)
        .count()

    // a narrow mid-range date window and an off-center custkey window
    val dateWin = (29491L, 36044L)   // ~10% of the ys range
    val custWin = (6553L, 13107L)    // ~10% of the xs range, inside the lower half

    // custkey-sorted layout: perfect custkey pruning, ZERO date pruning
    assert(overlapping("xs", "ys", dateWin._1, dateWin._2) == 8L,
      "single-column sort cannot prune the other dimension")
    assert(overlapping("xs", "xs", custWin._1, custWin._2) <= 2L)

    // z-sorted layout: meaningful pruning on BOTH dimensions
    val zDates = overlapping("z", "ys", dateWin._1, dateWin._2)
    val zCusts = overlapping("z", "xs", custWin._1, custWin._2)
    assert(zDates <= 6L, s"z layout should skip date-disjoint files, got $zDates/8")
    assert(zCusts <= 6L, s"z layout should skip custkey-disjoint files, got $zCusts/8")

    // figure of merit: total per-file bounding-box area. A hash-random
    // layout gives every file the full domain (8× the domain area). A
    // single-column sort tiles the domain EXACTLY (total ≈ domain area)
    // — by raw area it is unbeatable — but every tile spans all of ys,
    // which is why it pruned nothing above. Z-order pays a bounded
    // boundary-slop factor over the domain area in exchange for
    // locality in BOTH dimensions: assert it crushes random and stays
    // within 2× of the single-sort optimum.
    val zCost = LayoutOps.clusteringCost(df, col("z"), col("xs"), col("ys"), 8)
    val xCost = LayoutOps.clusteringCost(df, col("xs"), col("xs"), col("ys"), 8)
    val randCost = LayoutOps.clusteringCost(
      df, md5(col("xs").cast("string")), col("xs"), col("ys"), 8)
    assert(zCost < randCost / 2,
      s"z-order must concentrate the domain: z=$zCost random=$randCost")
    assert(zCost < 2 * xCost,
      s"z-order slop must stay bounded: z=$zCost single-sort=$xCost")
  }

  test("versioned-table file skipping: stats sidecars prune reads, compose with DVs") {
    import graft.sources.{TimeTravel, ZoneMaps}
    val dir = java.nio.file.Files.createTempDirectory("ttstats").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, i * 7 % 100)).toDF("k", "payload").repartition(1)

    // three date-ordered commits, stats on k; one commit WITHOUT stats
    TimeTravel.commitOverwrite(batch(0, 999), dir, statsCols = Seq("k"))
    TimeTravel.commitAppend(batch(1000, 1999), dir, statsCols = Seq("k"))
    TimeTravel.commitAppend(batch(2000, 2999), dir)                       // no stats
    TimeTravel.commitAppend(batch(3000, 3999), dir, statsCols = Seq("k"))

    def full = TimeTravel.read(spark, dir)
    def prune(lo: Long, hi: Long) = TimeTravel.readPruned(spark, dir, "k", lo, hi)

    // a range inside one covered commit: reads that file + the
    // uncovered dir (safety default), never the other covered files
    val (df1, st1) = prune(1100, 1200)
    assert(st1.filesTotal == 4 && st1.filesRead == 2,
      s"expected 1 overlapping + 1 uncovered of 4, got $st1")
    assert(df1.select("k").collect().map(_.getLong(0)).sorted.toSeq == (1100L to 1200L),
      "pruned read must equal the residual-filtered full read")

    // a range covered only by the statsless commit: still answered
    val (df2, st2) = prune(2100, 2105)
    assert(st2.filesRead == 1, s"only the uncovered dir should be read, got $st2")
    assert(df2.count() == 6)

    // empty intersection: zero covered files, schema intact
    val (df3, st3) = prune(90000, 90010)
    assert(st3.filesRead == 1 && df3.count() == 0) // uncovered dir still read
    assert(df3.columns.toSeq == Seq("k", "payload"))

    // backfill covers the statsless dir; now the same probe reads 1 file
    assert(TimeTravel.collectStats(spark, dir, Seq("k")).nonEmpty)
    val (df4, st4) = prune(1100, 1200)
    assert(st4.filesTotal == 4 && st4.filesRead == 1, s"after backfill: $st4")
    assert(df4.count() == 101)

    // MoR delete composes: pruned read applies the tombstones
    TimeTravel.deleteMoR(spark, dir, col("k") % 10 === 0L)
    val (df5, _) = prune(1100, 1200)
    assert(df5.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (1100L to 1200L).filterNot(_ % 10 == 0),
      "pruned read of a DV snapshot must subtract tombstones")
    assert(df5.orderBy("k").collect().toSeq ==
      full.filter(col("k").between(1100, 1200)).orderBy("k").collect().toSeq,
      "pruned ≡ full read + filter, row for row")

    // vacuum after an overwrite drops orphaned data AND stats dirs
    TimeTravel.commitOverwrite(batch(0, 9), dir, statsCols = Seq("k"))
    val dropped = TimeTravel.vacuum(spark, dir, keepVersions = 1)
    assert(dropped.exists(_.startsWith("stats/")),
      s"orphan stats sidecars must be vacuumed: $dropped")
    val (df6, st6) = prune(0, 5)
    assert(st6.filesTotal == 1 && df6.count() == 6)
  }

  test("mapped file skipping: prune survives renames, collision-proof, DV-composed") {
    import graft.sources.TimeTravel
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ttmapprune")
      .toFile.getAbsolutePath + "/t"
    def batch(lo: Long, hi: Long, kName: String, vName: String) =
      (lo to hi).map(i => (i, i + 500000)).toDF(kName, vName).repartition(1)
    // two commits under the original names, stats on BOTH columns
    TimeTravel.commitOverwrite(batch(0, 999, "k", "v"), dir,
      statsCols = Seq("k", "v"))
    TimeTravel.commitAppend(batch(1000, 1999, "k", "v"), dir,
      statsCols = Seq("k", "v"))
    // the COLLISION hazard: after these two renames the LOGICAL name
    // "v" denotes the column physically stored as "k" — probing the
    // min_v/max_v sidecars (which belong to the column now called "w")
    // would prune on the WRONG data; the map translation must hit
    // min_k/max_k instead
    TimeTravel.renameColumn(spark, dir, "v", "w")
    TimeTravel.renameColumn(spark, dir, "k", "v")
    // a post-rename append, stats given in LOGICAL names
    TimeTravel.commitAppend(batch(2000, 2999, "v", "w"), dir,
      statsCols = Seq("v", "w"))

    // library face: prune on logical v (physical k) across all eras
    val (df1, st1) = TimeTravel.readPruned(spark, dir, "v", 1100, 1200)
    assert(st1.filesTotal == 3 && st1.filesRead == 1,
      s"rename must not break skipping: $st1")
    assert(df1.select("v").collect().map(_.getLong(0)).sorted.toSeq ==
      (1100L to 1200L), "pruned rows must be exactly the residual set")
    // collision probe: logical v's window lives in k-space (0..2999);
    // a wrong min_v match would admit/deny on 500000-space
    val (df2, st2) = TimeTravel.readPruned(spark, dir, "v", 500000, 501000)
    assert(df2.count() == 0 && st2.filesRead == 0,
      s"v=[500000,501000] matches NO k-space file; a collision with " +
        s"physical min_v would wrongly admit files: $st2")
    val (df3, _) = TimeTravel.readPruned(spark, dir, "w", 500000, 500100)
    assert(df3.select("w").collect().map(_.getLong(0)).sorted.toSeq ==
      (500000L to 500100L), "logical w (physical v) window must hit")

    // rule face: the naive DSv2 filter on the renamed column re-plans
    // to the overlapping file only
    def snap = spark.read.format("graft-table").load(dir)
    def prunedFileCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation =>
          lr.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
      }.sum
    val q = snap.filter(col("v") >= 2100 && col("v") <= 2200)
    assert(prunedFileCount(q) == 1,
      s"StatsPrune must fire through the mapping:\n${q.queryExecution.optimizedPlan}")
    assert(q.select("v").collect().map(_.getLong(0)).sorted.toSeq ==
      (2100L to 2200L))

    // wrong-skip sweep: pruned ≡ full-read + filter for a window mesh
    val full = TimeTravel.read(spark, dir)
    for (lo <- Seq(0L, 500L, 999L, 1000L, 1500L, 2999L, 4000L);
         span <- Seq(0L, 1L, 499L, 2000L)) {
      val hi = lo + span
      val (p, _) = TimeTravel.readPruned(spark, dir, "v", lo, hi)
      val want = full.filter(col("v") >= lo && col("v") <= hi)
        .select("v").collect().map(_.getLong(0)).sorted.toSeq
      assert(p.select("v").collect().map(_.getLong(0)).sorted.toSeq == want,
        s"wrong-skip at [$lo,$hi]")
    }

    // DV composition on the mapped pruned read
    TimeTravel.deleteMoR(spark, dir, col("v") % 10 === 0L)
    val (df4, _) = TimeTravel.readPruned(spark, dir, "v", 1100, 1200)
    assert(df4.select("v").collect().map(_.getLong(0)).sorted.toSeq ==
      (1100L to 1200L).filterNot(_ % 10 == 0),
      "mapped pruned read of a DV snapshot must subtract tombstones")
  }

  test("StatsPrune: a plain WHERE over the DSv2 scan skips files automatically") {
    import graft.sources.TimeTravel
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = java.nio.file.Files.createTempDirectory("ttauto").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"p$i")).toDF("k", "payload").repartition(1)
    TimeTravel.commitOverwrite(batch(0, 999), dir, statsCols = Seq("k"))
    TimeTravel.commitAppend(batch(1000, 1999), dir, statsCols = Seq("k"))
    TimeTravel.commitAppend(batch(2000, 2999), dir, statsCols = Seq("k"))

    def snap = spark.read.format("graft-table").load(dir)
    def prunedFileCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation =>
          lr.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
      }.sum

    // the bounded filter re-plans to a 1-of-3-files parquet scan...
    val q = snap.filter(col("k") >= 1100 && col("k") <= 1200)
    assert(prunedFileCount(q) == 1,
      s"expected the rewrite to keep exactly the overlapping file:\n${q.queryExecution.optimizedPlan}")
    // ...with the residual still applied exactly
    assert(q.select("k").collect().map(_.getLong(0)).sorted.toSeq == (1100L to 1200L))

    // an unbounded/unrelated predicate keeps the original v2 scan
    val miss = snap.filter(col("payload") === "p5")
    assert(prunedFileCount(miss) == 0, "no stats bounds -> no rewrite")
    assert(miss.count() == 1)
    // a window overlapping every file keeps the plan too (nothing skipped)
    assert(prunedFileCount(snap.filter(col("k") >= 0)) == 0)

    // an empty window becomes a zero-task local relation
    val none = snap.filter(col("k") > 90000)
    assert(none.queryExecution.optimizedPlan.toString.contains("LocalRelation") ||
      none.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      s"disjoint window must plan to an empty relation:\n${none.queryExecution.optimizedPlan}")
    assert(none.count() == 0)

    // composes under projection + aggregate on top
    val agg = snap.filter(col("k").between(2100, 2200)).agg(count(lit(1)).as("n"))
    assert(agg.head.getLong(0) == 101)

    // a DV-bearing snapshot is DvApply's territory: rows stay correct
    TimeTravel.deleteMoR(spark, dir, col("k") % 2 === 0L)
    val dv = snap.filter(col("k").between(1100, 1200))
    assert(dv.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (1100L to 1200L).filter(_ % 2 == 1))
  }

  test("StatsPrune: DATE and TIMESTAMP windows prune files; casts decline; bloom tier stays integral") {
    import graft.sources.TimeTravel
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = java.nio.file.Files.createTempDirectory("ttdate").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    def day(y: Int, m: Int) = java.sql.Date.valueOf(f"$y-$m%02d-01")
    // one single-file commit per year, rows carry a DATE and a TIMESTAMP
    def batch(y: Int) =
      (1 to 12).map { m =>
        (day(y, m), java.sql.Timestamp.valueOf(f"$y-$m%02d-01 12:00:00"), y.toLong * 100 + m)
      }.toDF("d", "t", "v").repartition(1)
    TimeTravel.commitOverwrite(batch(1994), dir, statsCols = Seq("d", "t"))
    TimeTravel.commitAppend(batch(1995), dir, statsCols = Seq("d", "t"))
    TimeTravel.commitAppend(batch(1996), dir, statsCols = Seq("d", "t"))

    def snap = spark.read.format("graft-table").load(dir)
    def prunedFileCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation =>
          lr.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
      }.sum

    // a naive DATE window re-plans to a 1-of-3-files scan, rows exact
    val qd = snap.filter(expr("d >= DATE'1995-01-01' AND d < DATE'1996-01-01'"))
    assert(prunedFileCount(qd) == 1,
      s"DATE window must keep exactly the overlapping file:\n${qd.queryExecution.optimizedPlan}")
    assert(qd.select("v").collect().map(_.getLong(0)).sorted.toSeq ==
      (1 to 12).map(m => 199500L + m))

    // a TIMESTAMP window prunes on the micros form
    val qt = snap.filter(
      expr("t >= TIMESTAMP'1996-01-01 00:00:00' AND t < TIMESTAMP'1997-01-01 00:00:00'"))
    assert(prunedFileCount(qt) == 1,
      s"TIMESTAMP window must keep exactly the overlapping file:\n${qt.queryExecution.optimizedPlan}")
    assert(qt.count() == 12)

    // an empty DATE window becomes a zero-task local relation
    val none = snap.filter(expr("d > DATE'2010-01-01'"))
    assert(none.queryExecution.optimizedPlan.toString.contains("LocalRelation") ||
      none.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(none.count() == 0)

    // a datetime CAST comparison still prunes — Catalyst's
    // UnwrapCastInBinaryComparison rewrites it to a bare DATE bound
    // before the rule runs, so the window is extracted soundly
    val qc = snap.filter(col("d").cast("timestamp") >=
      java.sql.Timestamp.valueOf("1995-01-01 00:00:00"))
    assert(prunedFileCount(qc) == 2,
      s"unwrapped cast must prune to the two overlapping files:\n${qc.queryExecution.optimizedPlan}")
    assert(qc.count() == 24)

    // a cast the optimizer CANNOT unwrap (string compare is not
    // monotone in the date) declines: no rewrite, still correct
    val qs = snap.filter(col("d").cast("string") >= "1995-01-01")
    assert(prunedFileCount(qs) == 0, "string-cast comparison must not rewrite")
    assert(qs.count() == 24)

    // bloom sidecars on a DATE column must never feed the point tier:
    // the write side hashed the column's STRING cast ('1995-03-01'),
    // which a days-integer probe key cannot match — skipping there
    // would drop rows, so the rule declines and the scan stays full
    val dir2 = java.nio.file.Files.createTempDirectory("ttdateb").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(batch(1994), dir2, bloomCols = Seq("d"))
    TimeTravel.commitAppend(batch(1995), dir2, bloomCols = Seq("d"))
    def snap2 = spark.read.format("graft-table").load(dir2)
    val qb = snap2.filter(col("d") === day(1995, 3))
    assert(prunedFileCount(qb) == 0, "date bloom must not admit the point tier")
    assert(qb.count() == 1, "the row must survive — no false skip")
  }

  test("StatsPrune: IN-lists prune via range span and bloom any-of") {
    import graft.sources.TimeTravel
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import spark.implicits._
    def prunedFileCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation =>
          lr.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
      }.sum

    // range tier: IN over a stats column confines to [min, max]
    val dir = java.nio.file.Files.createTempDirectory("ttinr").toFile.getAbsolutePath + "/t"
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"p$i")).toDF("k", "payload").repartition(1)
    TimeTravel.commitOverwrite(batch(0, 999), dir, statsCols = Seq("k"))
    TimeTravel.commitAppend(batch(1000, 1999), dir, statsCols = Seq("k"))
    TimeTravel.commitAppend(batch(2000, 2999), dir, statsCols = Seq("k"))
    def snap = spark.read.format("graft-table").load(dir)
    val qi = snap.filter(col("k").isin(1100L, 1200L, 1900L))
    assert(prunedFileCount(qi) == 1,
      s"IN list inside one file's span must prune to it:\n${qi.queryExecution.optimizedPlan}")
    assert(qi.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(1100L, 1200L, 1900L))
    // a list whose [min, max] span covers two files keeps those two
    // (the middle of the span admits whatever files it crosses — the
    // range tier is an over-approximation, the residual stays exact)
    val qs = snap.filter(col("k").isin(500L, 1500L))
    assert(prunedFileCount(qs) == 2)
    assert(qs.count() == 2)
    // a span covering every file declines the rewrite (nothing skipped)
    assert(prunedFileCount(snap.filter(col("k").isin(500L, 2500L))) == 0)

    // bloom tier: an IN over an UNCLUSTERED bloom column admits the
    // union of the matching files — any-of, never intersection
    val dir2 = java.nio.file.Files.createTempDirectory("ttinb").toFile.getAbsolutePath + "/t"
    def uid(i: Long) = (i * 2654435761L) % 100000L
    def ubatch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, uid(i))).toDF("k", "uid").repartition(1)
    TimeTravel.commitOverwrite(ubatch(0, 999), dir2, bloomCols = Seq("uid"))
    TimeTravel.commitAppend(ubatch(1000, 1999), dir2, bloomCols = Seq("uid"))
    TimeTravel.commitAppend(ubatch(2000, 2999), dir2, bloomCols = Seq("uid"))
    def snap2 = spark.read.format("graft-table").load(dir2)
    // two keys from ONE file: at most that file plus false positives
    val qb = snap2.filter(col("uid").isin(uid(10), uid(20)))
    val pb = prunedFileCount(qb)
    assert(pb >= 1 && pb < 3, s"bloom any-of should skip non-holding files, read $pb/3")
    assert(qb.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 20L))
    // keys from two different files: BOTH must be read (no false skip)
    val qb2 = snap2.filter(col("uid").isin(uid(10), uid(2500)))
    assert(qb2.select("k").collect().map(_.getLong(0)).sorted.toSeq == Seq(10L, 2500L),
      "rows behind an IN-list must always survive")
  }

  test("a sidecar that doesn't track the probe column can never cause skipping") {
    import graft.sources.TimeTravel
    val dir = java.nio.file.Files.createTempDirectory("tthetero").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    def uid(i: Long) = (i * 2654435761L) % 100000L
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, uid(i))).toDF("k", "uid").repartition(1)
    // HETEROGENEOUS sidecars: v1 tracks only k ranges, v2 only uid blooms
    TimeTravel.commitOverwrite(batch(0, 999), dir, statsCols = Seq("k"))
    TimeTravel.commitAppend(batch(1000, 1999), dir, bloomCols = Seq("uid"))

    // range probe on k: v2's sidecar has no min_k/max_k — its file must
    // be READ (null guard), not silently skipped
    val (dfr, str) = TimeTravel.readPruned(spark, dir, "k", 1100, 1200)
    assert(dfr.select("k").collect().map(_.getLong(0)).sorted.toSeq == (1100L to 1200L),
      "rows in the stats-less file must survive a range probe")
    // v1 ([0, 999], tracked) is legitimately skipped; v2 (untracked) is
    // kept by the null guard — exactly one file read
    assert(str.filesRead == 1 && str.filesTotal == 2, s"got $str")

    // bloom probe on uid: v1's sidecar has no bloom_uid — a key living
    // in v1's file must still be found
    val key = uid(500)
    val (dfp, _) = TimeTravel.readPoint(spark, dir, "uid", key)
    assert(dfp.select("k").collect().map(_.getLong(0)).toSeq.contains(500L),
      "rows in the bloom-less file must survive a point probe")

    // a probe on a column NO sidecar tracks reads everything
    val (dfn, stn) = TimeTravel.readPruned(spark, dir, "uid", 0, 100000)
    assert(stn.filesRead == stn.filesTotal && dfn.count() == 2000)
  }

  test("OPTIMIZE ZORDER withStats: plain WHERE prunes files on BOTH dimensions") {
    import graft.sources.TimeTravel
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = java.nio.file.Files.createTempDirectory("ttzstats").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    val grid = (0L until 16384L).map(i => (i % 128, i / 128)).toDF("x", "y")
    TimeTravel.commitOverwrite(grid, dir)
    TimeTravel.optimizeZorder(spark, dir, "x", "y", targetFiles = 8, withStats = true)

    def snap = spark.read.format("graft-table").load(dir)
    def prunedFileCount(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case lr: LogicalRelation =>
          lr.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
      }.sum
    // the rewrite composes: Z-layout gives both dimensions tight
    // per-file ranges, the sidecars carry them, StatsPrune uses them
    val qx = snap.filter(col("x") < 16L)
    val qy = snap.filter(col("y") < 16L)
    val (px, py) = (prunedFileCount(qx), prunedFileCount(qy))
    assert(px >= 1 && px < 8, s"x-window must skip z-disjoint files, read $px/8")
    assert(py >= 1 && py < 8, s"y-window must skip z-disjoint files, read $py/8")
    assert(qx.count() == 16 * 128 && qy.count() == 16 * 128)
    // conjunctive 2-D probe: both windows' admitted sets INTERSECT, so
    // the corner query reads no more files than either dimension alone
    val qxy = snap.filter(col("x") < 16L && col("y") < 16L)
    val pxy = prunedFileCount(qxy)
    assert(pxy >= 1 && pxy <= math.min(px, py),
      s"2-D window must intersect the per-dimension sets: $pxy vs ($px, $py)")
    assert(qxy.count() == 16 * 16)
  }

  test("bloom sidecars: point probes skip files on an UNCLUSTERED column") {
    import graft.sources.TimeTravel
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val dir = java.nio.file.Files.createTempDirectory("ttbloom").toFile.getAbsolutePath + "/t"
    import spark.implicits._
    // uid is hash-scattered: every file's [min, max] spans the whole
    // domain, so range stats prune NOTHING on it — the bloom case
    def uid(i: Long) = (i * 2654435761L) % 100000L
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, uid(i), s"p$i")).toDF("k", "uid", "payload").repartition(1)
    TimeTravel.commitOverwrite(batch(0, 999), dir,
      statsCols = Seq("k"), bloomCols = Seq("uid"))
    TimeTravel.commitAppend(batch(1000, 1999), dir,
      statsCols = Seq("k"), bloomCols = Seq("uid"))
    TimeTravel.commitAppend(batch(2000, 2999), dir,
      statsCols = Seq("k"), bloomCols = Seq("uid"))

    val key = uid(1500) // lives in the middle file (modulo hash collisions)
    val expectRows = (0L to 2999L).filter(i => uid(i) == key)

    // library face: admission reads fewer files than the snapshot holds
    val (df, st) = TimeTravel.readPoint(spark, dir, "uid", key)
    assert(st.filesTotal == 3 && st.filesRead < 3,
      s"bloom must skip at least one file: $st")
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq == expectRows,
      "admitted-files read + residual must be exact")

    // an absent key: no file admitted (resp. only false positives),
    // zero rows either way
    val (dfNone, stNone) = TimeTravel.readPoint(spark, dir, "uid", 100001L)
    assert(dfNone.count() == 0 && stNone.filesRead <= 1)

    // the rule face: plain `WHERE uid = key` over the DSv2 scan goes
    // through the bloom path (uid has NO min/max coverage)
    def snap = spark.read.format("graft-table").load(dir)
    val q = snap.filter(col("uid") === key)
    val pruned = q.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation =>
        lr.relation.asInstanceOf[HadoopFsRelation].location.inputFiles.length
    }.sum
    assert(pruned >= 1 && pruned < 3,
      s"StatsPrune must substitute a bloom-admitted file scan:\n${q.queryExecution.optimizedPlan}")
    assert(q.select("k").collect().map(_.getLong(0)).sorted.toSeq == expectRows)
  }

  test("ParallelJobs.awaitAll: ordered results, all-siblings failure contract, bounded timeout") {
    import graft.sources.ParallelJobs
    import scala.concurrent.duration._
    // happy path: results come back in argument order, not completion order
    val r = ParallelJobs.awaitAll(Seq(
      () => { Thread.sleep(50); "slow" },
      () => "fast"))
    assert(r == Seq("slow", "fast"))
    // failure contract: the FIRST (argument-order) failure is rethrown,
    // and only after every sibling has finished
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      ParallelJobs.awaitAll[Unit](Seq(
        () => throw new IllegalStateException("boom"),
        () => { Thread.sleep(100); finished.set(true) }))
    }
    assert(e.getMessage == "boom")
    assert(finished.get(), "sibling must have completed before the rethrow")
    // r16 (VERDICT r15 #6): a hung job fails the window LOUDLY within
    // the shared deadline instead of hanging it forever
    val t0 = System.nanoTime()
    intercept[java.util.concurrent.TimeoutException] {
      ParallelJobs.awaitAll[Unit](
        Seq(() => Thread.sleep(60000)), timeout = 200.millis)
    }
    assert((System.nanoTime() - t0) / 1e9 < 30, "timeout must not wait for the hung job")
  }

  test("ParallelJobs.awaitAll: a timeout cancels the thunks' Spark jobs; pool threads are daemons") {
    import graft.sources.ParallelJobs
    import scala.concurrent.duration._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tagged = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.contains("graft-parallel"))) tagged.add(e.jobId)
    }
    sc.addSparkListener(listener)
    val daemon = new java.util.concurrent.atomic.AtomicBoolean(false)
    try {
      intercept[java.util.concurrent.TimeoutException] {
        ParallelJobs.awaitAll[Unit](Seq(() => {
          daemon.set(Thread.currentThread().isDaemon)
          sc.parallelize(Seq(1), 1).foreach { _ =>
            // a task that only ends when it is killed (or after 60 s)
            val t0 = System.nanoTime()
            while (!org.apache.spark.TaskContext.get().isInterrupted() &&
              System.nanoTime() - t0 < 60L * 1000 * 1000 * 1000) Thread.sleep(20)
          }
        }), timeout = 1.second)
      }
      assert(daemon.get(), "pool threads must be daemon threads")
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def running = tagged.toArray.map(_.asInstanceOf[Int]).toSet
        .intersect(sc.statusTracker.getActiveJobIds().toSet)
      while ((tagged.isEmpty || running.nonEmpty) && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(!tagged.isEmpty, "the thunk's job must carry the call's job tag")
      assert(running.isEmpty, s"tagged jobs still active after the timeout: $running")
    } finally sc.removeSparkListener(listener)
  }

  test("commitSeries ≡ sequential overwrite+appends: listings, reads, pruning") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("ttseries").toFile.getAbsolutePath
    val seqDir = base + "/sequential"
    val parDir = base + "/series"
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, i * 3 % 50)).toDF("k", "payload").repartition(1)
    val ranges = Seq((0L, 99L), (100L, 199L), (200L, 299L), (300L, 399L))

    TimeTravel.commitOverwrite(batch(ranges.head._1, ranges.head._2), seqDir,
      statsCols = Seq("k"))
    ranges.tail.foreach { case (lo, hi) =>
      TimeTravel.commitAppend(batch(lo, hi), seqDir, statsCols = Seq("k"))
    }
    val vs = TimeTravel.commitSeries(
      ranges.map { case (lo, hi) => batch(lo, hi) }, parDir, statsCols = Seq("k"))
    assert(vs == Seq(1L, 2L, 3L, 4L))

    // same version history, same per-version row sets
    assert(TimeTravel.versions(spark, parDir) == TimeTravel.versions(spark, seqDir))
    TimeTravel.versions(spark, parDir).foreach { v =>
      val a = TimeTravel.read(spark, seqDir, Some(v)).orderBy("k").collect().toSeq
      val b = TimeTravel.read(spark, parDir, Some(v)).orderBy("k").collect().toSeq
      assert(a == b, s"version $v read-back must match")
    }
    // same skipping evidence: sidecars staged in parallel still prune
    val (dfS, stS) = TimeTravel.readPruned(spark, seqDir, "k", 120, 180)
    val (dfP, stP) = TimeTravel.readPruned(spark, parDir, "k", 120, 180)
    assert(stP.filesTotal == stS.filesTotal && stP.filesRead == stS.filesRead)
    assert(stP.filesRead == 1 && stP.filesTotal == 4, s"got $stP")
    assert(dfP.orderBy("k").collect().toSeq == dfS.orderBy("k").collect().toSeq)

    // pre-assigned versions are only sound on a fresh table
    intercept[IllegalArgumentException] {
      TimeTravel.commitSeries(Seq(batch(0, 1)), parDir)
    }

    // bloom sidecars staged in parallel ≡ sequential bloom commits:
    // same point-prune stats, same row
    val seqB = base + "/seq-bloom"
    val parB = base + "/par-bloom"
    TimeTravel.commitOverwrite(batch(0, 99), seqB, bloomCols = Seq("k"))
    ranges.tail.foreach { case (lo, hi) =>
      TimeTravel.commitAppend(batch(lo, hi), seqB, bloomCols = Seq("k"))
    }
    TimeTravel.commitSeries(
      ranges.map { case (lo, hi) => batch(lo, hi) }, parB, bloomCols = Seq("k"))
    val (ptS, psS) = TimeTravel.readPoint(spark, seqB, "k", 250L)
    val (ptP, psP) = TimeTravel.readPoint(spark, parB, "k", 250L)
    assert(psP.filesTotal == psS.filesTotal && psP.filesRead == psS.filesRead)
    assert(psP.filesRead == 1 && psP.filesTotal == 4, s"got $psP")
    assert(ptP.collect().toSeq == ptS.collect().toSeq)
  }

  /** The data dir, relative to the table, that version `v`'s commit wrote
    * (`data/v<NNNNN>-<uuid>`). */
  private def dataDirOf(dir: String, v: Long): String = {
    val Array(d) = new java.io.File(s"$dir/data").list().filter(_.startsWith(f"v$v%05d-"))
    s"data/$d"
  }

  /** The footer metadata of every data file of a table version. */
  private def footers(dir: String, v: Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    new java.io.File(s"$dir/${dataDirOf(dir, v)}").listFiles()
      .filter(_.getName.endsWith(".parquet")).toSeq.map { f =>
        val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
        try rdr.getFooter finally rdr.close()
      }
  }

  test("stats sidecars from parquet footers ≡ the per-file aggregation oracle") {
    import graft.sources.TimeTravel
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("ttfooter").toFile.getAbsolutePath + "/t"
    /** Commit `df` with stats on `statsCols` (bloom on `bloomCols`) and
      * compare its stats document with the aggregation oracle. */
    def commitAndCompare(df: org.apache.spark.sql.DataFrame, statsCols: Seq[String],
        bloomCols: Seq[String] = Nil): (Long, TimeTravel.DirStats) = {
      val v = TimeTravel.commitAppend(df, dir, statsCols = statsCols, bloomCols = bloomCols)
      val rel = dataDirOf(dir, v)
      val doc = TimeTravel.readStats(spark, dir, rel)
        .getOrElse(fail(s"no stats document for $rel"))
      assert(doc.columns.keys.toSeq == statsCols && doc.blooms == bloomCols)
      val want = Oracles.fileStats(spark, s"$dir/$rel", statsCols, bloomCols)
      assert(doc.files.sortBy(_.file) == want,
        s"v$v: footer stats\n${doc.files}\n!= oracle\n$want")
      (v, doc)
    }

    // integral and DATE columns with nulls, an all-null column, three
    // files, and a bloom column riding the data pass
    val mixed = spark.range(0, 3000).select(
      when(col("id") % 7 =!= 0, (col("id") % 200 - 100).cast("tinyint")).as("b"),
      when(col("id") % 5 =!= 0, (col("id") * 11 - 16000).cast("smallint")).as("s"),
      when(col("id") % 3 =!= 0, (col("id") * 1001 - 1500000).cast("int")).as("i"),
      when(col("id") % 4 =!= 0, col("id") * 1000003L - 1000000000L).as("l"),
      when(col("id") % 6 =!= 0, date_add(lit("1969-06-01").cast("date"),
        col("id").cast("int"))).as("d"),
      lit(null).cast("bigint").as("z"),
      col("id").as("k"))
      .repartitionByRange(3, col("k"))
    val (_, mixedDoc) = commitAndCompare(mixed, Seq("b", "s", "i", "l", "d", "z"), Seq("k"))
    assert(mixedDoc.files.size == 3 && mixedDoc.files.forall(f => !f.min.contains("z")))
    assert(mixedDoc.columns == Map("b" -> "tinyint", "s" -> "smallint", "i" -> "int",
      "l" -> "bigint", "d" -> "date", "z" -> "bigint"))

    // an empty commit: the document lists its columns and no file
    val (_, emptyDoc) = commitAndCompare(mixed.filter(lit(false)), Seq("l", "d"))
    assert(emptyDoc.files.isEmpty && emptyDoc.columns.keySet == Set("l", "d"))

    // one file of many row groups: the bounds merge over all of them
    val (vRg, _) = withConf("parquet.block.size" -> "4096") {
      commitAndCompare(spark.range(0, 40000)
        .select((col("id") * 37 % 100003).as("l"), col("id").cast("int").as("i"))
        .coalesce(1), Seq("l", "i"))
    }
    assert(footers(dir, vRg).map(_.getBlocks.size).sum > 1, "expected several row groups")

    // TIMESTAMP: INT96 (Spark's default) takes the data pass;
    // INT64-micros, adjusted or not, comes from the footer
    def times = spark.range(0, 500).select(
      when(col("id") % 9 =!= 0, timestamp_micros(col("id") * 86400000017L - 10000000000000L))
        .as("t"),
      timestamp_micros(col("id") * 3600000000L).cast("timestamp_ntz").as("n"))
      .repartition(2)
    withConf("spark.sql.parquet.outputTimestampType" -> "INT96") {
      commitAndCompare(times.select("t"), Seq("t"))
    }
    val (vMicros, _) = withConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      commitAndCompare(times, Seq("t", "n"))
    }
    assert(footers(dir, vMicros).forall { ft =>
      val schema = ft.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex("t")).asPrimitiveType.getPrimitiveTypeName.name == "INT64"
    })

    // dates and micros timestamps written under Spark's LEGACY calendar
    // rebase: the footer holds Julian values, the document must not
    val (vLegacy, _) = withConf(
        "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY",
        "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      commitAndCompare(spark.range(0, 400).select(
        date_add(lit("1000-01-01").cast("date"), (col("id") * 3).cast("int")).as("d"),
        timestamp_micros(col("id") * 86400000000L - 30000000000000000L).as("t"))
        .coalesce(1), Seq("d", "t"))
    }
    assert(footers(dir, vLegacy).forall(_.getFileMetaData.getKeyValueMetaData.asScala
      .contains("org.apache.spark.legacyDateTime")), "expected the LEGACY marker")
  }

  test("a torn or unparsable stats sidecar fails with an IOException naming the file") {
    import graft.sources.TimeTravel
    val dir = java.nio.file.Files.createTempDirectory("tttorn").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(spark.range(0, 100).toDF("k").coalesce(1), dir,
      statsCols = Seq("k"))
    val statsDir = s"$dir/stats/" + dataDirOf(dir, 1).stripPrefix("data/")
    val doc = new java.io.File(s"$statsDir/stats.json").toPath
    val good = java.nio.file.Files.readString(doc)
    val bad = Seq(good.take(good.length / 2), "not json", "", "[]",
      """{"columns":{"k":"bigint"},"blooms":[],"files":[{"file":"f","n_rows":"many",""" +
        """"min":{},"max":{},"bloom":{}}]}""")
    bad.foreach { body =>
      java.nio.file.Files.writeString(doc, body)
      // the checksummed local FS would otherwise reject the edit first
      new java.io.File(s"$statsDir/.stats.json.crc").delete()
      val e = intercept[java.io.IOException](TimeTravel.readPruned(spark, dir, "k", 0, 10))
      assert(e.getMessage.contains(s"$statsDir/stats.json"),
        s"the error must name the sidecar: ${e.getMessage}")
    }
  }

  // queries whose fixtures write scratch dirs; the first three have an
  // oracle Spark SQL can run, the others use DuckDB-only functions and
  // are held to a lone execution instead
  private val sparkOracle = Seq("q_tt_prune_auto", "q_delta_export", "q_csv_roundtrip")
  (sparkOracle ++ Seq("q_index_compact", "q_inverted_search", "q_zonemap_point",
      "q_neardup_index")).foreach { name =>
    val ref = if (sparkOracle.contains(name)) "oracle" else "lone-run"
    test(s"two $name executions at once both return the $ref result") {
      val q = SparkEntry.queries(name)
      val want =
        if (sparkOracle.contains(name)) {
          // the oracle SQL reads the sf tables: a session of its own keeps the views private
          val oracleSession = spark.newSession()
          Tables.all.foreach(t => Tables(oracleSession, sf, t).createOrReplaceTempView(t))
          oracleSession.sql(SparkEntry.oracleSql(name)).collect().toSeq
        } else q(spark, sf).collect().toSeq
      val got = graft.sources.ParallelJobs.awaitAll(Seq.fill(2)(() => q(spark, sf).collect().toSeq))
      assert(want.nonEmpty)
      got.foreach(rows => assert(rows == want, s"$rows != $ref $want"))
    }
  }

  test("Fixtures.dirs registers a fresh root for deletion and returns absent children") {
    val Seq(a, b) = graft.queries.Fixtures.dirs(spark, "graft_fixture_test", "a", "b")
    val root = new org.apache.hadoop.fs.Path(a).getParent
    assert(new org.apache.hadoop.fs.Path(b).getParent == root)
    assert(root.getName.startsWith("graft_fixture_test_"))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.getFileStatus(root).isDirectory)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(a)) && !fs.exists(new org.apache.hadoop.fs.Path(b)))
    assert(fs.cancelDeleteOnExit(root), "the root must be registered with deleteOnExit")
    fs.deleteOnExit(root)
    // a second call never shares the first one's root
    val Seq(c) = graft.queries.Fixtures.dirs(spark, "graft_fixture_test", "a")
    assert(new org.apache.hadoop.fs.Path(c).getParent != root)
  }

  test("Tables serves the new schema of a dir rewritten at the same path") {
    val dir = java.nio.file.Files.createTempDirectory("tables_memo").toFile.getAbsolutePath
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(5).selectExpr("id AS b", "CAST(id AS STRING) AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val now = Tables(spark, dir, "t")
    assert(now.columns.toSeq == Seq("b", "c"))
    assert(now.count() == 5)
  }
}
