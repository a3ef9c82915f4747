package graft.queries

import graft.{QueryDef, Tables}
import graft.sources.{DeltaExport, DeltaMaintenance, DeltaRead, IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
import org.apache.spark.sql.functions._

/** Lakehouse MAINTENANCE + INTROSPECTION inventory (r13): the
  * operational surface of the published Delta/Iceberg tables —
  * DESCRIBE HISTORY / metadata tables, checkpoint + log-retention
  * cleanup, deletion-vector VACUUM, and EXPIRE SNAPSHOTS — each
  * exercised end-to-end on a table built from the sf parquet inputs so
  * the DuckDB oracle pins both the maintenance COUNTS (a sweep that
  * removes the wrong file count breaks the hash) and the post-
  * maintenance READ (a sweep that removes a still-referenced file
  * breaks the data columns).
  */
object LakehouseQueries {

  /** DESCRIBE HISTORY over an exported `_delta_log`: per-commit action
    * counts straight from the log (version, operation, adds, removes,
    * DV-carrying adds), plus the current row count so the history and
    * the data agree with one oracle. The row-level publish (commit 1)
    * must show exactly remove+re-add-with-DV per affected file. */
  val qDeltaHistory: QueryDef = QueryDef.sql(
    "q_delta_history",
    """WITH o AS (SELECT o_orderkey AS k FROM orders),
      |cur AS (SELECT COUNT(*) AS n FROM o WHERE NOT (k % 7 = 3))
      |SELECT v.version, 'graft-export' AS operation,
      |  v.n_adds, v.n_removes, v.n_dv_adds,
      |  (SELECT n FROM cur) AS current_rows
      |FROM (VALUES (0, 2, 0, 0), (1, 2, 2, 2))
      |  AS v(version, n_adds, n_removes, n_dv_adds)
      |ORDER BY v.version""".stripMargin) { (s, d) =>
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dhist", "base", "tbl")
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey").as("k"),
        graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitSeries(Seq( // fresh table: parallel staging
      o.filter(col("k") % 2 === 0).coalesce(1),
      o.filter(col("k") % 2 === 1).coalesce(1)), base)
    DeltaExport.snapshot(s, base, tgt) // delta v0: two plain adds
    TimeTravel.deleteMoR(s, base, col("k") % 7 === 3)
    DeltaExport.append(s, base, tgt) // delta v1: remove + re-add w/ DV, each file
    val cur = DeltaRead.read(s, tgt).count()
    DeltaMaintenance.history(s, tgt)
      .select(col("version"), col("operation"), col("n_adds"),
        col("n_removes"), col("n_dv_adds"), lit(cur).as("current_rows"))
      .orderBy("version")
  }

  /** Checkpoint → log-retention cleanup → DV VACUUM, the retirement
    * sequence of a long-lived row-level stream: two supersede-chained
    * deletes leave a garbage sidecar, which vacuum must refuse to touch
    * while any visible commit references it (`dv_removed_dry` = 0) and
    * remove exactly once the checkpoint has retired the old JSONs
    * (`jsons_removed` = 3, `dv_removed` = 1) — with the post-vacuum
    * read still serving the exact surviving rows. */
  val qDeltaVacuum: QueryDef = QueryDef.sql(
    "q_delta_vacuum",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT 0 AS dv_removed_dry, 3 AS jsons_removed, 1 AS dv_removed,
      |  COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM c WHERE NOT (k % 5 = 2 OR k % 7 = 3)""".stripMargin) { (s, d) =>
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dvac", "base", "tbl")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"),
        graft.Exact.units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c.coalesce(1), base) // v1: one data file
    // r16 (guide §2.6): each export is PINNED to an already-published
    // base version, so it can overlap the NEXT base DML — published
    // versions are immutable and the two jobs write disjoint trees
    // (tgt vs base/v00v+1). The delta story is unchanged: tgt still
    // sees exactly v1 / v2 / v3 in order.
    graft.sources.ParallelJobs.awaitAll[Unit](Seq(
      () => { TimeTravel.deleteMoR(s, base, col("k") % 5 === 2): Unit }, // v2
      () => DeltaExport.snapshot(s, base, tgt, version = Some(1L)))) // delta v0
    graft.sources.ParallelJobs.awaitAll[Any](Seq(
      () => TimeTravel.deleteMoR(s, base, col("k") % 7 === 3), // v3
      () => DeltaExport.append(s, base, tgt, toVersion = Some(2L)))) // delta v1: DV #1
    DeltaExport.append(s, base, tgt) // delta v2: superseding DV #2
    val dry = DeltaMaintenance.vacuum(s, tgt, dryRun = true).size
    DeltaMaintenance.checkpoint(s, tgt)
    val cleaned = DeltaMaintenance.cleanupLog(s, tgt).size
    val removed = DeltaMaintenance.vacuum(s, tgt).size
    val row = DeltaRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .collect().head
    import s.implicits._
    Seq((dry, cleaned, removed, row.getLong(0), row.getLong(1)))
      .toDF("dv_removed_dry", "jsons_removed", "dv_removed", "n_rows", "sum_cents")
  }

  /** EXPIRE SNAPSHOTS on a v3 deletion-vector table: the supersede
    * chain strands the first publish's DV manifest + puffin sidecar in
    * the expired snapshot only, so retaining the last snapshot must
    * remove exactly one manifest list, one manifest, and one orphan
    * sidecar — and the surviving snapshot must still serve the exact
    * MoR row set. */
  val qIcebergExpire: QueryDef = QueryDef.sql(
    "q_iceberg_expire",
    """WITH su AS (
      |  SELECT s_suppkey AS k, CAST(ROUND(s_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM supplier
      |)
      |SELECT 1 AS expired_snapshots, 1 AS lists_removed, 1 AS manifests_removed,
      |  1 AS orphans_removed, 1 AS snapshots_left,
      |  COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM su WHERE NOT (k % 5 = 2 OR k % 7 = 3)""".stripMargin) { (s, d) =>
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_iexp", "base", "tbl")
    val su = Tables(s, d, "supplier")
      .select(col("s_suppkey").as("k"),
        graft.Exact.units(col("s_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(su.coalesce(1), base) // v1: one data file
    TimeTravel.deleteMoR(s, base, col("k") % 5 === 2) // v2
    IcebergExport.snapshot(s, base, tgt, formatVersion = 3) // S1: DV #1
    TimeTravel.deleteMoR(s, base, col("k") % 7 === 3) // v3
    IcebergExport.append(s, base, tgt) // S2: superseding DV #2, md1 dropped
    val r = IcebergMaintenance.expireSnapshots(s, tgt, retainLast = 1)
    val left = IcebergMaintenance.snapshots(s, tgt).count()
    val row = IcebergRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .collect().head
    import s.implicits._
    Seq((r.expiredSnapshotIds.size, r.manifestListsRemoved.size,
      r.manifestsRemoved.size, r.orphanFilesRemoved.size, left,
      row.getLong(0), row.getLong(1)))
      .toDF("expired_snapshots", "lists_removed", "manifests_removed",
        "orphans_removed", "snapshots_left", "n_rows", "sum_cents")
  }

  /** Metadata tables of a two-snapshot merge-on-read export: per
    * content kind, the file count and manifest-recorded row counts —
    * `sum(record_count)` of the data files must equal the SOURCE row
    * count and of the delete files the tombstoned row count, all from
    * metadata alone (zero data-file reads: the audit that stays cheap
    * at 100 TB). */
  val qIcebergMeta: QueryDef = QueryDef.sql(
    "q_iceberg_meta",
    """WITH o AS (SELECT o_orderkey AS k FROM orders)
      |SELECT * FROM (
      |  SELECT 0 AS content, 2 AS n_files,
      |    (SELECT COUNT(*) FROM o) AS sum_records, 2 AS n_snapshots
      |  UNION ALL
      |  SELECT 1, 1, (SELECT COUNT(*) FROM o WHERE k % 7 = 3), 2
      |) ORDER BY content""".stripMargin) { (s, d) =>
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_imeta", "base", "tbl")
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey").as("k"),
        graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitSeries(Seq( // fresh table: parallel staging
      o.filter(col("k") % 2 === 0).coalesce(1),
      o.filter(col("k") % 2 === 1).coalesce(1)), base)
    IcebergExport.snapshot(s, base, tgt) // S1: two data files
    TimeTravel.deleteMoR(s, base, col("k") % 7 === 3)
    IcebergExport.append(s, base, tgt) // S2: one position-delete file
    val nSnaps = IcebergMaintenance.snapshots(s, tgt).count()
    IcebergMaintenance.files(s, tgt)
      .groupBy("content")
      .agg(count(lit(1)).as("n_files"),
        sum(col("record_count")).as("sum_records"))
      .withColumn("n_snapshots", lit(nSnaps))
      .orderBy("content")
  }

  /** NAMED REFS (r14 — r13 verdict #4): a two-branch fixture (a `main`
    * branch at the two-file head, a tag pinning the one-file history)
    * must serve every ref through [[IcebergRead.readRef]] with the
    * refs metadata table agreeing — each output row is one ref's name,
    * type, and the aggregate over ITS snapshot, so a wrong resolution
    * (tag serving head, branch serving history) breaks the hash. */
  val qIcebergRefs: QueryDef = QueryDef.sql(
    "q_iceberg_refs",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents,
      |    NTILE(2) OVER (ORDER BY c_custkey) AS band
      |  FROM customer
      |)
      |SELECT * FROM (
      |  SELECT 'main' AS ref_name, 'branch' AS ref_type,
      |    COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |  FROM c
      |  UNION ALL
      |  SELECT 'v1', 'tag', COUNT(*), CAST(SUM(cents) AS BIGINT)
      |  FROM c WHERE band = 1
      |) ORDER BY ref_name""".stripMargin) { (s, d) =>
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_irefs", "base", "tbl")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"),
        graft.Exact.units(col("c_acctbal"), 2).as("cents"))
      .withColumn("band", ntile(2).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))))
    def stage(name: String, band: Int): String = {
      val p = s"${base}_stage_$name"
      c.filter(col("band") === band).drop("band")
        .coalesce(1).write.mode("overwrite").parquet(p)
      new java.io.File(p).listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    val fA = stage("a", 1)
    val fB = stage("b", 2)
    val mA = IcebergRead.Fixture.manifest(tgt, "mA.avro", Seq((1, fA, 0)))
    val mB = IcebergRead.Fixture.manifest(tgt, "mB.avro", Seq((1, fB, 0)))
    val l1 = IcebergRead.Fixture.manifestList(tgt, "snap-10.avro", Seq(mA))
    val l2 = IcebergRead.Fixture.manifestList(tgt, "snap-20.avro", Seq(mA, mB))
    IcebergRead.Fixture.metadataMulti(tgt, 1, 2, currentSnapshotId = 20L,
      snapshots = Seq((10L, l1), (20L, l2)),
      fields = Seq((1, "k", true, "long"), (2, "cents", true, "long")),
      refs = Map("main" -> ((20L, "branch")), "v1" -> ((10L, "tag"))))
    // branch HEAD ≡ current read — the spec's semantics, hard-gated
    require(IcebergRead.readRef(s, tgt, "main").count() ==
      IcebergRead.read(s, tgt).count(), "main must track the head")
    val refRows = IcebergMaintenance.refs(s, tgt)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    import s.implicits._
    refRows.map { case (name, tpe) =>
      val row = IcebergRead.readRef(s, tgt, name)
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .collect().head
      (name, tpe, row.getLong(0), row.getLong(1))
    }.toDF("ref_name", "ref_type", "n_rows", "sum_cents")
      .orderBy("ref_name")
  }

  /** EQUALITY-DELETE WRITE-BACK (r14 — r13 verdict #5, the Flink-CDC
    * producer shape): an exported table receives a content=2 publish
    * keyed on `k`, then a LATER data append re-adds some deleted keys
    * — the replay must show the older rows dead, the re-added rows
    * alive (strictly-older sequence ordering), and the delete-era
    * snapshot still serving its pinned view. */
  val qIcebergEqExport: QueryDef = QueryDef.sql(
    "q_iceberg_eq_export",
    """WITH su AS (
      |  SELECT s_suppkey AS k, CAST(ROUND(s_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM supplier
      |), survivors AS (
      |  SELECT k, cents FROM su WHERE NOT (k % 5 = 2)
      |  UNION ALL
      |  SELECT k, cents + 1 FROM su WHERE k % 10 = 2
      |)
      |SELECT COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  (SELECT COUNT(*) FROM su WHERE NOT (k % 5 = 2)) AS n_at_delete
      |FROM survivors""".stripMargin) { (s, d) =>
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_ieqx", "base", "tbl")
    val su = Tables(s, d, "supplier")
      .select(col("s_suppkey").as("k"),
        graft.Exact.units(col("s_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(su.coalesce(1), base) // v1
    IcebergExport.snapshot(s, base, tgt) // S1
    val sid = IcebergExport.appendEqualityDeletes(s, tgt,
      su.filter(col("k") % 5 === 2).select("k")) // S2: content=2
    TimeTravel.commitAppend( // v2: re-adds half the deleted keys, +1 cent
      su.filter(col("k") % 10 === 2)
        .withColumn("cents", col("cents") + 1).coalesce(1), base)
    IcebergExport.append(s, base, tgt) // S3: data at a HIGHER sequence
    val atDelete = IcebergRead.read(s, tgt, snapshotId = Some(sid)).count()
    val row = IcebergRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .collect().head
    import s.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getLong(2), atDelete))
      .toDF("n_rows", "sum_k", "sum_cents", "n_at_delete")
  }

  /** FOREIGN Iceberg append (r15 — r14 verdict #1, the asymmetric half
    * of `q_delta_append_foreign`): an identity-partitioned Iceberg
    * table built by the independent fixture path (non-positional field
    * ids 4/7/9, its own spec id 5, NO graft watermark) receives three
    * [[IcebergExport.appendForeign]] commits (one band each), then an
    * equality delete, then a re-append of half the deleted keys at +1
    * cent — the spec's strictly-older ordering must kill only rows
    * whose data sequence predates the delete. DuckDB computes the same
    * closed form from `supplier` directly. */
  val qIcebergAppendForeign: QueryDef = QueryDef.sql(
    "q_iceberg_append_foreign",
    """WITH su AS (
      |  SELECT 'b' || CAST(s_suppkey % 4 AS VARCHAR) AS band,
      |    s_suppkey AS k,
      |    CAST(ROUND(s_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM supplier
      |), survivors AS (
      |  SELECT band, k, cents FROM su WHERE NOT (k % 7 = 3)
      |  UNION ALL
      |  SELECT band, k, cents + 1 FROM su WHERE k % 14 = 3
      |)
      |SELECT band, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM survivors GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.IcebergRead.{EntryInfo, Fixture}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_iafor", "base", "tbl")
    val su = Tables(s, d, "supplier").select(
      concat(lit("b"), (col("s_suppkey") % 4).cast("string")).as("band"),
      col("s_suppkey").as("k"),
      graft.Exact.units(col("s_acctbal"), 2).as("cents"))
    // the FOREIGN fixture: field ids 4/7/9 (non-positional — every
    // manifest, bound, and equality reference must bind THESE),
    // identity spec id 5 on band, seeded with band b0's rows
    su.filter(col("band") === "b0").select("band", "k", "cents")
      .coalesce(1).write.mode("overwrite").parquet(base)
    val part = new java.io.File(base).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val f0 = new java.io.File(s"$tgt/data/f0.parquet")
    f0.getParentFile.mkdirs()
    java.nio.file.Files.copy(part.toPath, f0.toPath): Unit
    val fields = Seq((9, "band", false, "string"), (4, "k", true, "long"),
      (7, "cents", false, "long"))
    val m0 = Fixture.manifestV2(tgt, "m0.avro",
      Seq(EntryInfo(1, f0.getAbsolutePath, 0, 1L, Nil)))
    val ml = Fixture.manifestListFull(tgt, "snap-ext.avro", 77L,
      Seq((m0, 1L, 0)), specId = 5)
    Fixture.metadataMulti(tgt, 1, formatVersion = 2, currentSnapshotId = 77L,
      snapshots = Seq((77L, ml)), fields,
      extraJson = ""","last-sequence-number":1,"default-spec-id":5,""" +
        """"partition-specs":[{"spec-id":5,"fields":[{"name":"band",""" +
        """"transform":"identity","source-id":9,"field-id":1000}]}],""" +
        """"properties":{"owner":"external-team"}""")
    // three foreign appends (one band each, own OCC commit), one
    // equality delete, one post-delete re-append at +1 cent
    (1 to 3).foreach { b =>
      IcebergExport.appendForeign(s,
        su.filter(col("band") === s"b$b").select("band", "k", "cents"), tgt): Unit
    }
    IcebergExport.appendEqualityDeletes(s, tgt,
      su.filter(col("k") % 7 === 3).select("k")): Unit
    IcebergExport.appendForeign(s,
      su.filter(col("k") % 14 === 3)
        .withColumn("cents", col("cents") + 1)
        .select("band", "k", "cents"), tgt): Unit
    val got = IcebergRead.read(s, tgt)
    require(Option(IcebergRead.currentMetadata(s, tgt).get("properties"))
      .exists(_.get("owner").asText() == "external-team"),
      "foreign properties must survive every mutation-based commit")
    got.groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  val all: Seq[QueryDef] =
    Seq(qDeltaHistory, qDeltaVacuum, qIcebergExpire, qIcebergMeta, qIcebergRefs,
      qIcebergEqExport, qIcebergAppendForeign)
}
