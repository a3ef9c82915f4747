package graft.queries

import graft.pipeline.Ledger
import graft.{Json, QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** CDC inventory (SURVEY.md §2.4 J1, §2.10, §2.11-10), simulated over
  * `orders` so the DuckDB oracle can verify it: the "state" ledger is a
  * date-bounded snapshot, the "current" listing perturbs every 10th key
  * with a 30-day-later modification, and J1 must emit exactly the new +
  * updated rows.
  */
object CdcQueries {

  /** Fixture add-actions must carry the REAL byte length — the
    * protocol requires `add.size` to be the actual file size and the
    * reader plans parquet splits from it. */
  private def flen(dir: String, rel: String): Long =
    new java.io.File(s"$dir/$rel").length()

  private val Cutoff = "1998-01-01 00:00:00"

  /** J1: anti-join ∪ newer-timestamp semi-join. */
  val qCdcNewUpdated: QueryDef = QueryDef.sql(
    "q_cdc_new_updated",
    s"""WITH current AS (
       |  SELECT o_orderkey AS name,
       |    CASE WHEN o_orderkey % 10 = 0 THEN o_orderdate + INTERVAL 30 DAY
       |         ELSE o_orderdate END AS last_modified
       |  FROM orders
       |), state AS (
       |  SELECT o_orderkey AS name, o_orderdate AS last_modified
       |  FROM orders WHERE o_orderdate < TIMESTAMP '$Cutoff'
       |)
       |SELECT c.name AS name,
       |  epoch_us(c.last_modified) AS modified_us,
       |  CASE WHEN s.name IS NULL THEN 'new' ELSE 'updated' END AS change_type
       |FROM current c LEFT JOIN state s ON c.name = s.name
       |WHERE s.name IS NULL OR c.last_modified > s.last_modified
       |ORDER BY c.name""".stripMargin) { (s, d) =>
    val orders = Tables(s, d, "orders")
    val current = orders.select(
      col("o_orderkey").as("name"),
      when(col("o_orderkey") % 10 === 0, col("o_orderdate") + expr("INTERVAL 30 DAY"))
        .otherwise(col("o_orderdate")).cast("timestamp").as("last_modified"))
    val state = orders
      .filter(col("o_orderdate") < lit(Cutoff).cast("timestamp"))
      .select(col("o_orderkey").as("name"), col("o_orderdate").as("last_modified"))
    Ledger.newAndUpdated(current, state)
      .select(col("name"), unix_micros(col("last_modified")).as("modified_us"),
        col("change_type"))
      .orderBy("name")
  }

  /** S12 delete as anti-join rewrite: purge line items of finalized
    * orders, then summarize what survives. */
  val qCdcDelete: QueryDef = QueryDef.sql(
    "q_cdc_delete",
    """SELECT l_returnflag, COUNT(*) AS n_remaining,
      |  CAST(SUM(CAST(ROUND(l_quantity * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty
      |FROM lineitem
      |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val store = Tables(s, d, "lineitem")
    val keys = Tables(s, d, "orders")
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey").as("l_orderkey"))
    Ledger.deleteByKey(store, keys, "l_orderkey")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_remaining"),
        graft.Exact.toDouble(sum(graft.Exact.units(col("l_quantity"), 2)), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Watermark filter (P2): the reference's `modified_dt > load_dt`
    * predicate — pushed down to the parquet scan. */
  val qCdcWatermark: QueryDef = QueryDef.sql(
    "q_cdc_watermark",
    s"""SELECT o_orderpriority, COUNT(*) AS n
       |FROM orders
       |WHERE o_orderdate > TIMESTAMP '$Cutoff'
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    Tables(s, d, "orders")
      .filter(col("o_orderdate") > lit(Cutoff).cast("timestamp"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** S4/S9 — CSV snapshot sink + latin1 CSV scan, exercised as a
    * ROUNDTRIP (the reference's state-file pattern: write files_df.csv,
    * re-read it next run): `nation` is written to a latin1 CSV snapshot,
    * read back through the schema-declared CSV scan, and aggregated; the
    * oracle computes the same aggregate from the parquet directly, so
    * any encoding/quoting/type loss in the CSV path breaks the hash. */
  val qCsvRoundtrip: QueryDef = QueryDef.sql(
    "q_csv_roundtrip",
    """SELECT c_mktsegment,
      |  COUNT(*) AS n_customers,
      |  MIN(c_name) AS first_name,
      |  MAX(c_name) AS last_name,
      |  CAST(SUM(CAST(ROUND(c_acctbal * 100.0) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_bal
      |FROM customer
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val Seq(snapshotDir) = Fixtures.dirs(s, "graft_csv", "snapshot")
    graft.sources.CsvIo.writeLatin1(Tables(s, d, "customer"), snapshotDir)
    graft.sources.CsvIo.readLatin1(s, snapshotDir,
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, c_mktsegment STRING")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"),
        min(col("c_name")).as("first_name"),
        max(col("c_name")).as("last_name"),
        graft.Exact.toDouble(sum(graft.Exact.units(col("c_acctbal"), 2)), 2).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** JSONL ROUNDTRIP: `documents` is written to a JSON-lines snapshot,
    * read back through the schema-declared JSONL scan, and aggregated
    * with a content checksum (distinct sha256 of the RAW text); the
    * oracle computes the same aggregate from the parquet directly, so
    * any escaping/encoding/type loss in the JSONL path breaks the
    * hash. */
  val qJsonlRoundtrip: QueryDef = QueryDef.sql(
    "q_jsonl_roundtrip",
    """SELECT lang, source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |  COUNT(DISTINCT sha256(text)) AS n_distinct
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin) { (s, d) =>
    val Seq(snapshotDir) = Fixtures.dirs(s, "graft_jsonl", "snapshot")
    graft.sources.JsonIo.writeLines(Tables(s, d, "documents"), snapshotDir)
    graft.sources.JsonIo.readLines(s, snapshotDir,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        countDistinct(sha2(col("text"), 256)).as("n_distinct"))
      .orderBy("lang", "source")
  }

  /** TAR-SHARD (WebDataset) ROUNDTRIP: every document becomes a
    * two-entry sample (`<key>.txt` raw UTF-8 text + `<key>.json`
    * metadata sidecar) hash-routed into 8 tar shards, read back
    * through the one-task-per-shard tar parser, regrouped by key
    * (the WebDataset sample-reassembly contract), and aggregated with
    * the same content checksum as the JSONL face — so a lost entry,
    * a corrupted header, an encoding mutation, or a broken sidecar
    * parse all break the hash against the parquet source of truth. */
  val qTarRoundtrip: QueryDef = QueryDef.sql(
    "q_tar_roundtrip",
    """SELECT lang, source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |  COUNT(DISTINCT sha256(text)) AS n_distinct
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin) { (s, d) =>
    val Seq(shardDir) = Fixtures.dirs(s, "graft_tar", "shards")
    val entries = Tables(s, d, "documents").select(
      pmod(col("doc_id"), lit(8)).as("shard"),
      format_string("%06d", col("doc_id")).as("key"),
      col("text"),
      to_json(struct(col("lang"), col("source"), col("n_chars"))).as("meta"))
    val exploded = entries.select(col("shard"),
        explode(array(
          struct(concat(col("key"), lit(".txt")).as("name"),
            col("text").cast("binary").as("bytes")),
          struct(concat(col("key"), lit(".json")).as("name"),
            col("meta").cast("binary").as("bytes")))).as("e"))
      .select(col("shard"), col("e.name"), col("e.bytes"))
    graft.sources.TarShards.write(exploded, shardDir, "shard", "name", "bytes")
    val back = graft.sources.TarShards.read(s, shardDir)
      .select(
        substring_index(col("name"), ".", 1).as("key"),
        substring_index(col("name"), ".", -1).as("ext"),
        col("bytes").cast("string").as("payload"))
      .groupBy("key")
      .agg(
        max(when(col("ext") === "txt", col("payload"))).as("text"),
        max(when(col("ext") === "json", col("payload"))).as("meta"))
      .select(col("key").cast("long").as("doc_id"), col("text"),
        from_json(col("meta"), org.apache.spark.sql.types.StructType.fromDDL(
          "lang STRING, source STRING, n_chars BIGINT")).as("m"))
    back
      .groupBy(col("m.lang").as("lang"), col("m.source").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("m.n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        countDistinct(sha2(col("text"), 256)).as("n_distinct"))
      .orderBy("lang", "source")
  }

  /** ORC interchange roundtrip — the third columnar-format face beside
    * parquet (native) and the CSV/JSONL/tar text formats: orders
    * snapshot to ORC, read back THROUGH an ORC predicate + projection
    * (both push into the ORC reader the same way parquet's do — the
    * property PlanSpec pins), aggregate. The oracle runs the identical
    * filter over the parquet original, so any value mangling in the
    * ORC writer/reader path (timestamps, decimals-as-doubles, string
    * encodings) breaks the hash. */
  val qOrcRoundtrip: QueryDef = QueryDef.sql(
    "q_orc_roundtrip",
    """SELECT o_orderpriority,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(ROUND(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      |FROM orders
      |WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val Seq(dir) = Fixtures.dirs(s, "graft_orc", "orc")
    Tables(s, d, "orders").write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(graft.Exact.units(col("o_totalprice"), 2)).as("sum_cents"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy("o_orderpriority")
  }

  /** AVRO container roundtrip — the rows-as-records interchange format
    * beside parquet/ORC (columnar) and CSV/JSONL/tar (text/sample):
    * documents hash-route into 8 deterministic `.avro` shards (pinned
    * sync marker, fixed row order — byte-stable across runs), read back
    * one-task-per-shard under the declared schema contract, and
    * aggregated with the same content checksum as the JSONL face — so a
    * lost record, a union-null mishandling, a Utf8-vs-String or
    * ByteBuffer slip in the decoder all break the hash against the
    * parquet source of truth. */
  val qAvroRoundtrip: QueryDef = QueryDef.sql(
    "q_avro_roundtrip",
    """SELECT lang, source,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
      |  COUNT(DISTINCT sha256(text)) AS n_distinct
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin) { (s, d) =>
    val Seq(dir) = Fixtures.dirs(s, "graft_avro", "avro")
    graft.sources.AvroIo.write(
      Tables(s, d, "documents").withColumn("shard", pmod(col("doc_id"), lit(8))),
      dir, "shard", "doc_id")
    graft.sources.AvroIo.read(s, dir,
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"),
        countDistinct(sha2(col("text"), 256)).as("n_distinct"))
      .orderBy("lang", "source")
  }

  /** Delta Lake READ interop ([[graft.sources.DeltaRead]], r10 tier):
    * a real `_delta_log` directory — spec-written JSON commits over
    * partitioned parquet files, add/remove with last-writer-wins — is
    * replayed and queried IN PLACE. The fixture derives from `orders`
    * (one file per o_orderkey%3 band, partitioned by the band string);
    * commit 0 adds bands b0+b1, commit 1 removes b1 and adds b2, so a
    * replay that missed the tombstone, dropped an add, or failed to
    * inject the log-resident partition values breaks count, sum or
    * grouping. The oracle states the live row set in closed form.
    *
    * Scale: log replay is driver-side O(actions); the scan reads
    * exactly the live files — querying a lakehouse table in place with
    * no conversion pass. */
  val qDeltaRead: QueryDef = QueryDef.sql(
    "q_delta_read",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 3 AS VARCHAR) AS band,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o WHERE band <> 'b1'
      |GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_delta", "delta")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("v"),
      (col("o_orderkey") % 3).cast("int").as("b"))
    // one physical file per band, partition value carried by the LOG
    (0 to 2).foreach { b =>
      val tmp = s"${dir}_stage_$b"
      o.filter(col("b") === b).select("id", "v")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/band=b$b/f$b.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath)
    }
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("id", LongType), StructField("v", LongType),
      StructField("band", StringType))).json)
    val meta =
      s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaString,"partitionColumns":["band"],"configuration":{}}}"""
    def add(b: Int) =
      s"""{"add":{"path":"band=b$b/f$b.parquet","partitionValues":{"band":"b$b"},""" +
        s""""size":${flen(dir, s"band=b$b/f$b.parquet")},"modificationTime":$b,"dataChange":true}}"""
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        meta, add(0), add(1)).mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${1L}%020d.json"),
      Seq("""{"remove":{"path":"band=b1/f1.parquet","deletionTimestamp":9,"dataChange":true}}""",
        add(2)).mkString("", "\n", "\n"))
    graft.sources.DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_cents"))
      .orderBy("band")
  }

  /** Apache Iceberg READ interop ([[graft.sources.IcebergRead]], r10
    * tier — the lakehouse-format pair to [[qDeltaRead]]): a
    * spec-shaped table — metadata JSON chain, Avro manifest list, Avro
    * manifests — is replayed to the current snapshot's live files and
    * queried in place. The fixture derives from `orders` (one file per
    * o_orderkey%4 band); the current snapshot's manifest list carries
    * manifest A (band 0 ADDED + band 1 with DELETED status) and
    * manifest C (band 3 EXISTING) while band 2's manifest is OMITTED —
    * so both removal shapes the protocol allows must resolve, and a
    * replay that honored a deleted entry, read an unlisted manifest,
    * or dropped an existing-status file breaks the closed-form oracle.
    * Iceberg data files carry all columns, so no partition-value
    * injection: one schema-pinned scan of exactly the live files.
    *
    * Scale: metadata replay is driver-side O(manifest entries) — the
    * planning cost Iceberg itself pays. */
  val qIcebergRead: QueryDef = QueryDef.sql(
    "q_iceberg_read",
    """WITH o AS (
      |  SELECT o_orderkey % 4 AS band, o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT 'b' || CAST(band AS VARCHAR) AS band, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o WHERE band IN (0, 3)
      |GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.IcebergRead
    val Seq(dir) = Fixtures.dirs(s, "graft_iceberg", "iceberg")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("v"),
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"))
    val files = (0 to 3).map { b =>
      val tmp = s"${dir}_stage_$b"
      o.filter(col("band") === s"b$b").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/data/f$b.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.getAbsolutePath
    }
    val mA = IcebergRead.Fixture.manifest(dir, "mA.avro",
      Seq((1, files(0), 0), (2, files(1), 0))) // b0 added, b1 DELETED
    IcebergRead.Fixture.manifest(dir, "mB.avro", Seq((1, files(2), 0))) // omitted
    val mC = IcebergRead.Fixture.manifest(dir, "mC.avro", Seq((0, files(3), 0)))
    val ml = IcebergRead.Fixture.manifestList(dir, "snap-9.avro", Seq(mA, mC))
    IcebergRead.Fixture.metadata(dir, 2, formatVersion = 2, snapshotId = 9L,
      manifestList = ml, fields = Seq((1, "id", true, "long"),
        (2, "v", false, "long"), (3, "band", false, "string")))
    IcebergRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_cents"))
      .orderBy("band")
  }

  /** Zero-copy Delta EXPORT roundtrip ([[graft.sources.DeltaExport]],
    * r10 tier — the publish direction of the interop matrix): a
    * two-commit graft table derived from `customer` publishes as a
    * Delta table (log-only, absolute-path adds, no data moved), and
    * the INDEPENDENT Delta replay ([[graft.sources.DeltaRead]]) reads
    * it back for the aggregate — so a wrong schemaString, a dropped
    * add, or a path that didn't resolve breaks the closed-form oracle.
    * `zero_copy` pins that the target directory holds ONLY the log and
    * that a post-export graft commit does not shear the published
    * snapshot (version pinning).
    *
    * Scale: export is O(files) driver work — one manifest read and one
    * JSON write; publishing a 100 TB table moves zero data bytes. */
  val qDeltaExport: QueryDef = QueryDef.sql(
    "q_delta_export",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS zero_copy
      |FROM c""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dexp", "base", "delta")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), graft.Exact.units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitSeries(Seq( // v1, v2 staged in parallel (fresh table)
      c.filter(col("k") % 2 === 0), c.filter(col("k") % 2 === 1)), base)
    val nFiles = DeltaExport.snapshot(s, base, tgt)
    // a LATER graft commit must not shear the published snapshot
    TimeTravel.commitAppend(
      c.filter(col("k") === -1), base) // empty, but a new version
    val logOnly = new java.io.File(tgt).listFiles().map(_.getName).toSeq == Seq("_delta_log")
    DeltaRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("zero_copy", lit(nFiles > 0 && logOnly))
  }

  /** Zero-copy Iceberg EXPORT roundtrip ([[graft.sources.IcebergExport]],
    * r10 tier): the same publish story through the other lakehouse
    * protocol — metadata JSON + Avro manifest list/manifest with
    * absolute file URIs — read back by the independent
    * [[graft.sources.IcebergRead]] replay against the closed form.
    * `zero_copy` pins metadata-only publication (no `data/` under the
    * target). */
  val qIcebergExport: QueryDef = QueryDef.sql(
    "q_iceberg_export",
    """WITH o AS (
      |  SELECT o_orderkey AS id, CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS zero_copy
      |FROM o""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_iexp", "base", "iceberg")
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitSeries(Seq( // v1, v2 staged in parallel (fresh table)
      o.filter(col("id") % 3 =!= 0), o.filter(col("id") % 3 === 0)), base)
    val nFiles = IcebergExport.snapshot(s, base, tgt)
    val metaOnly = new java.io.File(tgt).listFiles().map(_.getName).toSeq == Seq("metadata")
    IcebergRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("zero_copy", lit(nFiles > 0 && metaOnly))
  }

  /** Delta DELETION-VECTOR read interop ([[graft.sources.DeltaDv]] +
    * [[graft.sources.DeltaRead]], r11 tier — closing the r10 verdict's
    * top ask): a reader-version-3 table whose single data file carries
    * an on-disk DV in the protocol's exact binary format (z85 uuid
    * file name, version byte, BE size/CRC framing, portable
    * RoaringBitmapArray bitmap) reads merge-on-read — the scan extends
    * with `_metadata.row_index` and anti-joins the decoded positions.
    * The file is written SORTED by id, so position p holds the p-th
    * smallest key and the oracle states the deleted set in closed form
    * over ROW_NUMBER. A wrong z85 group, endianness slip, off-by-one
    * in the bitmap keys, or a positions/row_index misalignment all
    * break count and sum.
    *
    * Scale: DV decode is driver-side O(deleted rows); the anti-join
    * side broadcasts — the standard MoR tax modern Delta tables pay
    * until OPTIMIZE. */
  val qDeltaReadDv: QueryDef = QueryDef.sql(
    "q_delta_read_dv",
    """WITH o AS (
      |  SELECT o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
      |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(id) AS BIGINT) AS sum_id
      |FROM o WHERE pos % 7 <> 3""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_ddv", "ddv")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    val n = o.count()
    // ONE file, globally sorted by id → row position p = p-th smallest key
    val tmp = s"${dir}_stage"
    o.repartition(1).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$dir/f0.parquet")
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    // protocol-format DV file: delete every position ≡ 3 (mod 7)
    val uuid = java.util.UUID.fromString("00000000-0000-4000-8000-0000000000dd")
    val dv = graft.sources.DeltaDv.writeDvFile(s, dir, uuid, 3L.until(n, 7L))
    val schemaString = Json.mapper.writeValueAsString(
      StructType(Seq(StructField("id", LongType), StructField("cents", LongType))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"dvfix","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":[],"configuration":{}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true,"deletionVector":{"storageType":"u","pathOrInlineDv":"${dv.pathOrInlineDv}","offset":${dv.offset.get},"sizeInBytes":${dv.sizeInBytes},"cardinality":${dv.cardinality}}}}""")
        .mkString("", "\n", "\n"))
    graft.sources.DeltaRead.read(s, dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        sum(col("id")).as("sum_id"))
  }

  /** Delta COLUMN-MAPPING read interop (r11, with [[qDeltaReadDv]] the
    * pair that makes modern production Delta readable): a
    * reader-version-2 table in columnMapping `name` mode — the files
    * and `add.partitionValues` keys carry immutable PHYSICAL names
    * (`col-1`/`col-2`/`col-3`), the logical schema lives in the
    * schemaString's per-field metadata — reads in logical shape with
    * log-resident partition values resolved through the physical key.
    * Commit 1 tombstones one band, so replay and mapping compose; the
    * oracle states the live rows in closed form. A reader that scanned
    * logical names (all-null columns), dropped the physical partition
    * key, or mis-aliased the projection breaks count/sum/grouping. */
  val qDeltaReadMapped: QueryDef = QueryDef.sql(
    "q_delta_read_mapped",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 5 AS VARCHAR) AS band,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o WHERE band <> 'b2'
      |GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_dcm", "dcm")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("col-1"), graft.Exact.units(col("o_totalprice"), 2).as("col-2"),
      (col("o_orderkey") % 5).cast("int").as("b"))
    // one PHYSICAL-named file per band; partition value rides the log
    (0 to 4).foreach { b =>
      val tmp = s"${dir}_stage_$b"
      o.filter(col("b") === b).select("col-1", "col-2")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/f$b.parquet")
      java.nio.file.Files.copy(part.toPath, dst.toPath)
    }
    def fmeta(phys: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("id", LongType, nullable = true, fmeta("col-1", 1)),
      StructField("cents", LongType, nullable = true, fmeta("col-2", 2)),
      StructField("band", StringType, nullable = true, fmeta("col-3", 3)))).json)
    val meta =
      s"""{"metaData":{"id":"cmfix","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaString,"partitionColumns":["band"],""" +
        """"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}"""
    def add(b: Int) =
      s"""{"add":{"path":"f$b.parquet","partitionValues":{"col-3":"b$b"},""" +
        s""""size":${flen(dir, s"f$b.parquet")},"modificationTime":$b,"dataChange":true}}"""
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""", meta) ++
        (0 to 4).map(add)).mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${1L}%020d.json"),
      """{"remove":{"path":"f2.parquet","deletionTimestamp":9,"dataChange":true}}""" + "\n")
    graft.sources.DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** Iceberg FORMAT-V2 POSITION-DELETE read interop
    * ([[graft.sources.IcebergRead]], r11 tier): a v2 snapshot carries a
    * content=1 delete manifest whose parquet lists (file_path, pos)
    * pairs; the read applies them merge-on-read against
    * `_metadata.row_index`. Band files are written sorted, so the
    * oracle states the deleted positions with a partitioned
    * ROW_NUMBER; a path-normalization miss (the delete names absolute
    * paths, Spark reports `file:`-scheme URIs), a pos off-by-one, or a
    * delete applied to the wrong file all break the closed form. */
  val qIcebergReadV2: QueryDef = QueryDef.sql(
    "q_iceberg_read_v2",
    """WITH o AS (
      |  SELECT o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
      |    o_orderkey % 2 AS band,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderkey % 2 ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o WHERE NOT (band = 0 AND pos % 5 = 2)""".stripMargin) { (s, d) =>
    import graft.sources.IcebergRead
    val Seq(dir) = Fixtures.dirs(s, "graft_ipd", "ipd")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"),
      (col("o_orderkey") % 2).as("band"))
    val files = (0 to 1).map { b =>
      val tmp = s"${dir}_stage_$b"
      o.filter(col("band") === b).drop("band")
        .repartition(1).sortWithinPartitions("id")
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/data/f$b.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.getAbsolutePath
    }
    val n0 = o.filter(col("band") === 0).count()
    import s.implicits._
    val delStage = s"${dir}_stage_del"
    2L.until(n0, 5L).map(p => (files(0), p)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(delStage)
    val delPart = new java.io.File(delStage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val delDst = new java.io.File(s"$dir/data/pd0.parquet")
    java.nio.file.Files.copy(delPart.toPath, delDst.toPath)
    val mData = IcebergRead.Fixture.manifest(dir, "mData.avro",
      Seq((1, files(0), 0), (1, files(1), 0)))
    val mDel = IcebergRead.Fixture.manifest(dir, "mDel.avro",
      Seq((1, delDst.getAbsolutePath, 1)))
    val ml = IcebergRead.Fixture.manifestList(dir, "snap-1.avro", Seq(mData, mDel))
    IcebergRead.Fixture.metadata(dir, 1, formatVersion = 2, snapshotId = 1L,
      manifestList = ml, fields = Seq((1, "id", true, "long"), (2, "cents", false, "long")))
    IcebergRead.read(s, dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
  }

  /** Delta CHANGE-DATA-FEED batch interop ([[graft.sources.DeltaRead.changes]],
    * r11 tier — the batch face of the `readChangeFeed` stream): a
    * commit that rewrote rows carries `cdc` actions; the change files'
    * rows (insert/delete/update_preimage/update_postimage in
    * `_change_type`) are served VERBATIM, the remove/add actions of
    * the same commit ignored — exactly Delta's CDF contract. The
    * oracle restates the change set in closed form; serving the adds
    * instead of the cdc files, dropping a change type, or mis-stamping
    * `_commit_version` all break the grouping. */
  val qDeltaCdf: QueryDef = QueryDef.sql(
    "q_delta_cdf",
    """WITH o AS (
      |  SELECT o_orderkey AS id, CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |), ch AS (
      |  SELECT 'update_preimage' AS change_type, id, cents FROM o WHERE id % 10 = 0
      |  UNION ALL
      |  SELECT 'update_postimage' AS change_type, id, cents + 1 AS cents FROM o WHERE id % 10 = 0
      |  UNION ALL
      |  SELECT 'delete' AS change_type, id, cents FROM o WHERE id % 10 = 5
      |)
      |SELECT change_type, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(MAX(commit_version) AS BIGINT) AS commit_version
      |FROM (SELECT ch.*, 1 AS commit_version FROM ch)
      |GROUP BY change_type ORDER BY change_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_dcdf", "dcdf")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    def stage(df: org.apache.spark.sql.DataFrame, rel: String): Unit = {
      val tmp = s"${dir}_stage_${rel.replace('/', '_')}"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$rel")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath)
    }
    stage(o, "f0.parquet")
    // the commit's change data: updates (pre+post) and deletes
    val pre = o.filter(col("id") % 10 === 0).withColumn("_change_type", lit("update_preimage"))
    val post = o.filter(col("id") % 10 === 0)
      .withColumn("cents", col("cents") + 1)
      .withColumn("_change_type", lit("update_postimage"))
    val del = o.filter(col("id") % 10 === 5).withColumn("_change_type", lit("delete"))
    stage(pre.unionByName(post).unionByName(del), "_change_data/cdc-0.parquet")
    stage(o.filter(col("id") % 10 =!= 5)
      .withColumn("cents", when(col("id") % 10 === 0, col("cents") + 1).otherwise(col("cents"))),
      "f1.parquet")
    val schemaString = Json.mapper.writeValueAsString(
      StructType(Seq(StructField("id", LongType), StructField("cents", LongType))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        s"""{"metaData":{"id":"cdffix","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":[],"configuration":{}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${1L}%020d.json"),
      Seq("""{"remove":{"path":"f0.parquet","deletionTimestamp":2,"dataChange":true}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":${flen(dir, "f1.parquet")},"modificationTime":2,"dataChange":true}}""",
        """{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":1,"dataChange":false}}""")
        .mkString("", "\n", "\n"))
    graft.sources.DeltaRead.changes(s, dir, 0L, 1L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        max(col("_commit_version")).as("commit_version"))
      .orderBy("change_type")
  }

  /** Delta WRITE-BACK append interop ([[graft.sources.DeltaExport.append]],
    * r11 tier): snapshot-export a two-version graft table, commit two
    * more appends, then `append` publishes them as NEW commits of the
    * SAME `_delta_log` — the external table follows the source without
    * re-export. The independent replay walks all commits for the
    * closed form; `zero_copy` pins log-only publication and that the
    * appended files landed (>0). */
  val qDeltaExportAppend: QueryDef = QueryDef.sql(
    "q_delta_export_append",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS zero_copy
      |FROM c""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dexpa", "base", "delta")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), graft.Exact.units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c.filter(col("k") % 3 === 0), base) // v1
    DeltaExport.snapshot(s, base, tgt)
    TimeTravel.commitAppend(c.filter(col("k") % 3 === 1), base) // v2
    TimeTravel.commitAppend(c.filter(col("k") % 3 === 2), base) // v3
    val nAppended = DeltaExport.append(s, base, tgt)
    val logOnly = new java.io.File(tgt).listFiles().map(_.getName).toSeq == Seq("_delta_log")
    DeltaRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("zero_copy", lit(nAppended > 0 && logOnly))
  }

  /** Iceberg WRITE-BACK append interop ([[graft.sources.IcebergExport.append]],
    * r11 tier): the same follow-the-source story through the other
    * protocol — a new SNAPSHOT whose manifest list reuses the prior
    * manifests by reference plus one new manifest, a new metadata
    * version, version-hint bumped; the spec-complete v2 chain
    * (record counts from footers, sequence numbers, field-id-tagged
    * Avro) read back by the independent replay. */
  val qIcebergExportAppend: QueryDef = QueryDef.sql(
    "q_iceberg_export_append",
    """WITH o AS (
      |  SELECT o_orderkey AS id, CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  true AS zero_copy
      |FROM o""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_iexpa", "base", "iceberg")
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitOverwrite(o.filter(col("id") % 3 =!= 0), base) // v1
    IcebergExport.snapshot(s, base, tgt)
    TimeTravel.commitAppend(o.filter(col("id") % 3 === 0), base) // v2
    val nAppended = IcebergExport.append(s, base, tgt)
    val metaOnly = new java.io.File(tgt).listFiles().map(_.getName).toSeq == Seq("metadata")
    IcebergRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .withColumn("zero_copy", lit(nAppended > 0 && metaOnly))
  }

  /** Delta V2-CHECKPOINT read interop (r12 tier — the checkpoint shape
    * Databricks-written tables now carry by default): `_last_checkpoint`
    * names a UUID-suffixed checkpoint whose top level holds only the
    * non-file actions plus `checkpointMetadata`/`sidecar`, with the
    * `add` actions in sidecar parquet files under `_delta_log/_sidecars/`
    * — and a post-checkpoint JSON commit composes on top. The table is
    * orders banded three ways: bands 0/1 live only in sidecars, band 2
    * only in the trailing commit, so dropping EITHER source of adds
    * breaks the per-band grouping the oracle states in closed form. */
  val qDeltaReadV2Ckpt: QueryDef = QueryDef.sql(
    "q_delta_read_v2ckpt",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 3 AS VARCHAR) AS band,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_dv2c", "dv2c")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 3).cast("string")).as("band"),
      graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    def stagePart(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val tmp = s"${dir}_stage_${new java.io.File(dest).getName}"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dest)
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath): Unit
    }
    (0 to 2).foreach(b => stagePart(o.filter(col("band") === s"b$b"), s"$dir/f$b.parquet"))
    import s.implicits._
    // one sidecar per pre-checkpoint band file
    (0 to 1).foreach { b =>
      stagePart(Seq(Some((s"f$b.parquet", Map.empty[String, String])))
        .toDF("addRaw")
        .selectExpr("named_struct('path', addRaw._1, 'partitionValues', addRaw._2) AS add"),
        s"$dir/_delta_log/_sidecars/sc-$b.parquet")
    }
    val schemaString = StructType(Seq(
      StructField("band", StringType), StructField("cents", LongType))).json
    val top = Seq(
      (Some(1L), None: Option[String], None: Option[Int],
        None: Option[(String, Seq[String])]),
      (None, Some("sc-0.parquet"), None, None),
      (None, Some("sc-1.parquet"), None, None),
      (None, None, Some(3), None),
      (None, None, None, Some((schemaString, Seq.empty[String]))))
      .toDF("cmRaw", "scRaw", "protoRaw", "metaRaw")
      .selectExpr(
        "named_struct('version', cmRaw) AS checkpointMetadata",
        "named_struct('path', scRaw) AS sidecar",
        "named_struct('minReaderVersion', protoRaw, 'readerFeatures', " +
          "CASE WHEN protoRaw IS NOT NULL THEN array('v2Checkpoint') END) AS protocol",
        "named_struct('schemaString', metaRaw._1, 'partitionColumns', metaRaw._2) AS metaData")
    stagePart(top, s"$dir/_delta_log/" + f"${1L}%020d" +
      ".checkpoint.5c97f82e-3b6a-4a9e-9f6d-2f4d37c90210.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_delta_log/_last_checkpoint"),
      """{"version":1,"size":5}""")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_delta_log/" + f"${2L}%020d" + ".json"),
      s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":${flen(dir, "f2.parquet")},"modificationTime":2,"dataChange":true}}""" + "\n")
    graft.sources.DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** Delta `id`-MODE column-mapping read interop (r12 tier, the
    * mapping mode [[qDeltaReadMapped]]'s name mode doesn't cover):
    * data columns resolve by PARQUET FIELD ID from each file's footer
    * — the three band files deliberately carry three DISJOINT sets of
    * arbitrary column names (w0/x0, w1/x1, w2/x2) under the same ids
    * 1/2, so any name- or physicalName-based resolution reads nulls
    * in two of the three bands and breaks the closed-form grouping.
    * The partition column still rides the log keyed by its
    * physicalName, and commit 1 tombstones band b1, so replay,
    * id-resolution, and partition injection all compose. */
  val qDeltaReadIdMap: QueryDef = QueryDef.sql(
    "q_delta_read_idmap",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 3 AS VARCHAR) AS band,
      |    o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows,
      |  CAST(SUM(id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o WHERE band <> 'b1'
      |GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_didm", "didm")
    new java.io.File(dir).mkdirs()
    def pqId(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"),
      (col("o_orderkey") % 3).cast("int").as("b"))
    // one file per band, each under its OWN arbitrary column names but
    // the same parquet field ids — the id-mode resolution evidence
    (0 to 2).foreach { b =>
      val tmp = s"${dir}_stage_$b"
      o.filter(col("b") === b)
        .select(col("id").as(s"w$b", pqId(1)), col("cents").as(s"x$b", pqId(2)))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(s"$dir/f$b.parquet").toPath): Unit
    }
    def fmeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("id", LongType, nullable = true, fmeta(1, "col-1")),
      StructField("cents", LongType, nullable = true, fmeta(2, "col-2")),
      StructField("band", StringType, nullable = true, fmeta(3, "col-3")))).json)
    val meta =
      s"""{"metaData":{"id":"idmfix","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":$schemaString,"partitionColumns":["band"],""" +
        """"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"}}}"""
    def add(b: Int) =
      s"""{"add":{"path":"f$b.parquet","partitionValues":{"col-3":"b$b"},""" +
        s""""size":${flen(dir, s"f$b.parquet")},"modificationTime":$b,"dataChange":true}}"""
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      (Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""", meta) ++
        (0 to 2).map(add)).mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${1L}%020d.json"),
      """{"remove":{"path":"f1.parquet","deletionTimestamp":9,"dataChange":true}}""" + "\n")
    graft.sources.DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** Iceberg EQUALITY-DELETE read interop (r12 tier — the MoR shape
    * Flink CDC writers emit), mixed with a position delete in the same
    * snapshot: band-0 data commits at sequence 1, an equality delete on
    * field `id` (every multiple of 7) at sequence 2, band-1 data at
    * sequence 3, and a position delete over the band-1 file. The
    * equality delete lists ALL multiples of 7, so a reader that
    * ignores sequence ordering also kills band-1 multiples (committed
    * AFTER the delete) and breaks the closed form; a reader that drops
    * equality deletes keeps band-0 multiples. The oracle restates both
    * rules exactly. */
  val qIcebergReadEq: QueryDef = QueryDef.sql(
    "q_iceberg_read_eq",
    """WITH o AS (
      |  SELECT o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
      |    o_orderkey % 2 AS band,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderkey % 2 ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(id) AS BIGINT) AS sum_id
      |FROM o WHERE NOT (band = 0 AND id % 7 = 0)
      |  AND NOT (band = 1 AND pos % 5 = 2)""".stripMargin) { (s, d) =>
    import graft.sources.IcebergRead
    import graft.sources.IcebergRead.EntryInfo
    val Seq(dir) = Fixtures.dirs(s, "graft_ieq", "ieq")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"),
      (col("o_orderkey") % 2).as("band"))
    def stageOne(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = s"${dir}_stage_$name"
      df.write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/data/$name")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.getAbsolutePath
    }
    val files = (0 to 1).map { b =>
      stageOne(o.filter(col("band") === b).drop("band")
        .repartition(1).sortWithinPartitions("id"), s"f$b.parquet")
    }
    // equality delete (seq 2): EVERY id ≡ 0 (mod 7), both bands' —
    // sequence ordering must confine it to the seq-1 band-0 file
    val eqDel = stageOne(o.filter(col("id") % 7 === 0).select("id").coalesce(1), "eq0.parquet")
    // position delete over the band-1 file: positions ≡ 2 (mod 5)
    val n1 = o.filter(col("band") === 1).count()
    import s.implicits._
    val posDel = stageOne(
      2L.until(n1, 5L).map(p => (files(1), p)).toDF("file_path", "pos").coalesce(1),
      "pd0.parquet")
    val mData = IcebergRead.Fixture.manifestV2(dir, "mData.avro", Seq(
      EntryInfo(1, files(0), 0, 1L, Nil), EntryInfo(1, files(1), 0, 3L, Nil)))
    val mDel = IcebergRead.Fixture.manifestV2(dir, "mDel.avro", Seq(
      EntryInfo(1, eqDel, 2, 2L, Seq(1)), EntryInfo(1, posDel, 1, 4L, Nil)))
    val ml = IcebergRead.Fixture.manifestList(dir, "snap-1.avro", Seq(mData, mDel))
    IcebergRead.Fixture.metadata(dir, 1, formatVersion = 2, snapshotId = 1L,
      manifestList = ml, fields = Seq((1, "id", true, "long"), (2, "cents", false, "long")))
    IcebergRead.read(s, dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        sum(col("id")).as("sum_id"))
  }

  /** Delta ROW-LEVEL write-back roundtrip (r12 tier — closing the r11
    * verdict's export gap): a graft table publishes as Delta, then a
    * later window holding BOTH an append and a merge-on-read DELETE
    * publishes through [[graft.sources.DeltaExport.append]] — the
    * delete lands as real protocol-format DELETION VECTORS (affected
    * adds re-added with a z85/RoaringBitmap DV under an in-log
    * protocol upgrade), and the INDEPENDENT [[graft.sources.DeltaRead]]
    * replay must see the post-delete row set. The delete predicate
    * crosses the exported files AND the newly-appended file, so a DV
    * attached to the wrong side breaks the closed form. */
  val qDeltaExportRowLevel: QueryDef = QueryDef.sql(
    "q_delta_export_rowlevel",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents
      |  FROM customer
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM c WHERE k % 5 <> 2""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dxrl", "base", "delta")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), graft.Exact.units(col("c_acctbal"), 2).as("cents"))
    TimeTravel.commitOverwrite(c.filter(col("k") % 2 === 0), base) // v1
    DeltaExport.snapshot(s, base, tgt)
    TimeTravel.commitAppend(c.filter(col("k") % 2 === 1), base) // v2 Append
    TimeTravel.deleteMoR(s, base, col("k") % 5 === 2) // v3 RowLevel, both eras
    DeltaExport.append(s, base, tgt)
    DeltaRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        sum(col("k")).as("sum_k"))
  }

  /** Iceberg ROW-LEVEL write-back roundtrip (r12 tier, the other
    * lakehouse direction of [[qDeltaExportRowLevel]]): the same
    * append+delete window publishes through
    * [[graft.sources.IcebergExport.append]] as a POSITION-DELETE file
    * + content=1 delete manifest, and the independent
    * [[graft.sources.IcebergRead]] merge-on-read replay restates the
    * post-delete rows against the closed-form oracle. */
  val qIcebergExportRowLevel: QueryDef = QueryDef.sql(
    "q_iceberg_export_rowlevel",
    """WITH o AS (
      |  SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM o WHERE k % 5 <> 2""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_ixrl", "base", "iceberg")
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey").as("k"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitOverwrite(o.filter(col("k") % 2 === 0), base) // v1
    IcebergExport.snapshot(s, base, tgt)
    TimeTravel.commitAppend(o.filter(col("k") % 2 === 1), base) // v2 Append
    TimeTravel.deleteMoR(s, base, col("k") % 5 === 2) // v3 RowLevel, both eras
    IcebergExport.append(s, base, tgt)
    IcebergRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        sum(col("k")).as("sum_k"))
  }

  /** Iceberg FORMAT-VERSION-3 DV write-back roundtrip (r13 — the
    * write half of the puffin tier): the first export carries a
    * pending merge-on-read delete as a puffin DELETION VECTOR, a
    * later window appends new rows AND deletes across BOTH eras —
    * the already-vectored files must get ONE superseding cumulative
    * vector each (the v3 at-most-one-DV rule), the new file its
    * first. The INDEPENDENT [[graft.sources.IcebergRead]] replay must
    * see the post-delete row set; a reader/writer pair that unions
    * stale vectors or drops the supersede double-deletes or
    * resurrects rows and breaks the closed form. */
  val qIcebergExportV3Dv: QueryDef = QueryDef.sql(
    "q_iceberg_export_v3dv",
    """WITH o AS (
      |  SELECT o_orderkey AS k, CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM o WHERE NOT (k % 2 = 0 AND k % 7 = 3) AND k % 5 <> 2""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_ixdv", "base", "iceberg")
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey").as("k"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitOverwrite(o.filter(col("k") % 2 === 0), base) // v1
    TimeTravel.deleteMoR(s, base, col("k") % 7 === 3) // v2: pending at export
    IcebergExport.snapshot(s, base, tgt, formatVersion = 3)
    TimeTravel.commitAppend(o.filter(col("k") % 2 === 1), base) // v3 Append
    TimeTravel.deleteMoR(s, base, col("k") % 5 === 2) // v4: both eras → supersede
    IcebergExport.append(s, base, tgt)
    IcebergRead.read(s, tgt)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        sum(col("k")).as("sum_k"))
  }

  /** Executed-plan file count of `df`'s (single) data scan — the
    * metadata-skipping evidence bit ([[graft.sources.FileSkipping]])
    * the pruning queries pin into their hashed result. Walks AQE
    * wrappers; `df` must already be executed. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansIn)
    }
    scansIn(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).min
  }

  /** Delta METADATA FILE SKIPPING roundtrip (r13): a three-commit graft
    * table publishes as Delta — every add carries footer-derived
    * `stats` JSON — and the independent replay's pushed band filter
    * must plan EXACTLY ONE of the three files from those bounds. The
    * files-read evidence bit rides the hashed result (the q_tt_prune
    * stance), so a reader that scans everything breaks the oracle even
    * though the row-side filter would mask it. */
  val qDeltaReadSkipping: QueryDef = QueryDef.sql(
    "q_delta_read_skipping",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents,
      |    NTILE(3) OVER (ORDER BY c_custkey) AS band
      |  FROM customer
      |)
      |SELECT COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  1 AS files_read
      |FROM c WHERE band = 2""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dskip", "base", "delta")
    val c = Tables(s, d, "customer").select(
      col("c_custkey").as("k"), graft.Exact.units(col("c_acctbal"), 2).as("cents"))
      .withColumn("band", ntile(3).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))))
    // one commit per contiguous k band → per-file bounds are disjoint
    val cuts = (1 to 3).map(b =>
      b -> c.filter(col("band") === b).agg(min("k"), max("k")).head())
    TimeTravel.commitSeries((1 to 3).map(b => // fresh table: parallel staging
      c.filter(col("band") === b).drop("band").coalesce(1)), base)
    DeltaExport.snapshot(s, base, tgt)
    val (lo, hi) = (cuts(1)._2.getLong(0), cuts(1)._2.getLong(1))
    val band2 = DeltaRead.read(s, tgt).filter(col("k") >= lo && col("k") <= hi)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
    val row = band2.collect().head
    import s.implicits._
    Seq((row.getLong(0), row.getLong(1), scannedFiles(band2).toInt))
      .toDF("n_rows", "sum_cents", "files_read")
  }

  /** Iceberg METADATA FILE SKIPPING roundtrip (r13, the pair to
    * [[qDeltaReadSkipping]]): the publish writes manifest
    * `lower_bounds`/`upper_bounds` from the parquet footers, and the
    * replay's pushed filter must plan exactly one of the three files
    * through the single-value-serialized bounds. */
  val qIcebergReadSkipping: QueryDef = QueryDef.sql(
    "q_iceberg_read_skipping",
    """WITH c AS (
      |  SELECT c_custkey AS k, CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS cents,
      |    NTILE(3) OVER (ORDER BY c_custkey) AS band
      |  FROM customer
      |)
      |SELECT COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  1 AS files_read
      |FROM c WHERE band = 2""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_iskip", "base", "iceberg")
    val c = Tables(s, d, "customer").select(
      col("c_custkey").as("k"), graft.Exact.units(col("c_acctbal"), 2).as("cents"))
      .withColumn("band", ntile(3).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("k"))))
    val cuts = (1 to 3).map(b =>
      b -> c.filter(col("band") === b).agg(min("k"), max("k")).head())
    TimeTravel.commitSeries((1 to 3).map(b => // fresh table: parallel staging
      c.filter(col("band") === b).drop("band").coalesce(1)), base)
    IcebergExport.snapshot(s, base, tgt)
    val (lo, hi) = (cuts(1)._2.getLong(0), cuts(1)._2.getLong(1))
    val band2 = IcebergRead.read(s, tgt).filter(col("k") >= lo && col("k") <= hi)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
    val row = band2.collect().head
    import s.implicits._
    Seq((row.getLong(0), row.getLong(1), scannedFiles(band2).toInt))
      .toDF("n_rows", "sum_cents", "files_read")
  }

  /** Delta `timestampNtz` READER FEATURE end to end (r14 — the most
    * common remaining decline on real tables): an NTZ-bearing graft
    * table publishes as Delta under minReaderVersion 3 with the
    * `timestampNtz` feature named, and the independent replay must
    * honor the feature, serve TimestampNTZType values exactly, AND
    * plan file skipping from the ISO-local NTZ stats bounds — the
    * files-read evidence bit rides the hashed result. The oracle
    * reads `events.ts` raw (naive micros), which IS the NTZ wall
    * clock under the pinned UTC session. */
  val qDeltaReadNtz: QueryDef = QueryDef.sql(
    "q_delta_read_ntz",
    // the NTZ column derives from a UNIQUE deterministic row number
    // (raw `ts` has duplicates at scale — a tie at the band boundary
    // would make band 1's file unprunable and break the files_read=1
    // pin nondeterministically)
    """WITH e AS (
      |  SELECT make_timestamp(1700000000000000 +
      |      1000000 * ROW_NUMBER() OVER (ORDER BY ts, event_id)) AS tsu,
      |    CAST(ROUND(value * 100.0) AS BIGINT) AS cents
      |  FROM events
      |), eb AS (
      |  SELECT tsu, cents, NTILE(3) OVER (ORDER BY tsu) AS band FROM e
      |), b AS (
      |  SELECT MIN(tsu) AS lo, MAX(tsu) AS hi FROM eb WHERE band = 2
      |)
      |SELECT COUNT(*) AS n_rows, CAST(SUM(eb.cents) AS BIGINT) AS sum_cents,
      |  CAST(MIN(epoch_us(eb.tsu)) AS BIGINT) AS min_us,
      |  CAST(MAX(epoch_us(eb.tsu)) AS BIGINT) AS max_us,
      |  1 AS files_read
      |FROM eb, b WHERE eb.tsu BETWEEN b.lo AND b.hi""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dntz", "base", "delta")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("event_id"))
    val e = Tables(s, d, "events")
      .select(col("ts"), col("event_id"),
        graft.Exact.units(col("value"), 2).as("cents"))
      .withColumn("__rn", row_number().over(w))
      .select(expr(
        "CAST(timestamp_micros(1700000000000000 + 1000000 * " +
          "CAST(__rn AS BIGINT)) AS TIMESTAMP_NTZ)").as("ts_ntz"),
        col("cents"))
      .withColumn("band", ntile(3).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("ts_ntz"))))
    TimeTravel.commitSeries((1 to 3).map(b => // fresh table: parallel staging
      e.filter(col("band") === b).drop("band").coalesce(1)), base)
    DeltaExport.snapshot(s, base, tgt)
    // the published protocol must NAME the feature (hard gate, not
    // just a working read)
    val v0 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgt/_delta_log/00000000000000000000.json"))
    require(v0.contains("\"timestampNtz\""),
      s"export must declare the timestampNtz feature: $v0")
    val cut = e.filter(col("band") === 2)
      .agg(min("ts_ntz"), max("ts_ntz")).head()
    val (lo, hi) = (cut.getAs[java.time.LocalDateTime](0),
      cut.getAs[java.time.LocalDateTime](1))
    val got = DeltaRead.read(s, tgt)
    require(got.schema("ts_ntz").dataType ==
      org.apache.spark.sql.types.TimestampNTZType,
      "the replay must serve TimestampNTZType")
    val band2 = got.filter(col("ts_ntz") >= lit(lo) && col("ts_ntz") <= lit(hi))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        min(unix_micros(col("ts_ntz").cast("timestamp"))).as("min_us"),
        max(unix_micros(col("ts_ntz").cast("timestamp"))).as("max_us"))
    val row = band2.collect().head
    import s.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      scannedFiles(band2).toInt))
      .toDF("n_rows", "sum_cents", "min_us", "max_us", "files_read")
  }

  /** FOREIGN Delta append (r14 — r13 verdict #2): a partitioned Delta
    * table built by the independent fixture path (NOT a graft export —
    * no graft watermark anywhere) receives three
    * [[graft.sources.DeltaExport.appendForeign]] commits, one per
    * band, and the replay must serve the union with log-borne
    * partition values — initial + appended rows grouping to the same
    * closed form DuckDB computes from `orders` directly. */
  val qDeltaAppendForeign: QueryDef = QueryDef.sql(
    "q_delta_append_foreign",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 4 AS VARCHAR) AS band,
      |    o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_dfor", "dfor")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"),
      col("o_orderkey").as("k"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    // the FOREIGN fixture: schema (k, cents, band), partitioned by
    // band, seeded with band b0's rows — hand-written log, no graft
    // export involved
    val tmp = s"${dir}_stage"
    o.filter(col("band") === "b0").select("k", "cents")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$dir/f0.parquet").toPath): Unit
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("k", LongType), StructField("cents", LongType),
      StructField("band", StringType))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":{"id":"foreignfix","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":["band"],"configuration":{}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{"band":"b0"},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    // three foreign appends, one band each — each its own OCC commit
    (1 to 3).foreach { b =>
      DeltaExport.appendForeign(s,
        o.filter(col("band") === s"b$b").select("k", "cents", "band"), dir): Unit
    }
    DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** FOREIGN Delta DELETE (r15 — the symmetric half of
    * [[qDeltaAppendForeign]]): a CDF-enabled partitioned Delta table
    * built by the independent fixture path and filled with
    * `appendForeign` receives one
    * [[graft.sources.DeltaExport.deleteForeign]] copy-on-write commit —
    * one band vanishes entirely (pure removes), another loses half its
    * rows (survivor rewrite) — and BOTH faces must agree with the
    * closed form DuckDB computes from `orders`: the table replay
    * serves exactly the survivors, and the change feed serves exactly
    * the deleted rows. The result fuses both (survivor aggregates per
    * band + the global CDC delete counts), so a wrong answer on either
    * face breaks the hash. */
  val qDeltaDeleteForeign: QueryDef = QueryDef.sql(
    "q_delta_delete_foreign",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 4 AS VARCHAR) AS band,
      |    o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |),
      |dead AS (
      |  SELECT * FROM o
      |  WHERE band = 'b1' OR (band = 'b2' AND k % 10 < 5)
      |),
      |live AS (
      |  SELECT * FROM o
      |  WHERE NOT (band = 'b1' OR (band = 'b2' AND k % 10 < 5))
      |)
      |SELECT band, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  (SELECT COUNT(*) FROM dead) AS n_deleted,
      |  (SELECT CAST(SUM(k) AS BIGINT) FROM dead) AS sum_k_deleted
      |FROM live GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_dfdel", "dfdel")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"),
      col("o_orderkey").as("k"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    // the FOREIGN fixture: CDF-enabled, partitioned by band, seeded
    // with band b0 by a hand-written log — no graft export anywhere
    val tmp = s"${dir}_stage"
    o.filter(col("band") === "b0").select("k", "cents")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$dir/f0.parquet").toPath): Unit
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("k", LongType), StructField("cents", LongType),
      StructField("band", StringType))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        s"""{"metaData":{"id":"foreigndel","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":["band"],"configuration":{"delta.enableChangeDataFeed":"true"}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{"band":"b0"},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    (1 to 3).foreach { b =>
      DeltaExport.appendForeign(s,
        o.filter(col("band") === s"b$b").select("k", "cents", "band"), dir): Unit
    }
    // ONE copy-on-write delete: all of b1 (pure removes) + half of b2
    // (survivor rewrite); b0/b3 files must stay untouched
    val vDel = DeltaExport.deleteForeign(s, dir,
      col("band") === "b1" || (col("band") === "b2" && col("k") % 10 < 5))
    // face 1 — the replay serves the survivors; face 2 — the change
    // feed serves exactly the deleted rows
    val cdc = DeltaRead.changes(s, dir, vDel - 1, vDel)
      .filter(col("_change_type") === "delete")
      .agg(count(lit(1)).as("n_deleted"), sum(col("k")).as("sum_k_deleted"))
      .collect().head
    DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("n_deleted", lit(cdc.getLong(0)))
      .withColumn("sum_k_deleted", lit(cdc.getLong(1)))
      .orderBy("band")
  }

  /** FOREIGN Delta MERGE-ON-READ DELETE (r15 — the O(matched) face of
    * [[qDeltaDeleteForeign]]): a deletionVectors-speaking foreign
    * table takes two successive `deleteForeignMoR` commits — the
    * second folds onto the first's vectors (a Delta DV is cumulative
    * per file) — and the replay must serve exactly the doubly-
    * surviving rows. The builder REQUIRES every add of both commits to
    * carry a DV (no silent fallback to a rewrite), so the hash only
    * passes through the true MoR path. */
  val qDeltaMorForeign: QueryDef = QueryDef.sql(
    "q_delta_mor_foreign",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 4 AS VARCHAR) AS band,
      |    o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |),
      |live AS (
      |  SELECT * FROM o WHERE NOT (k % 10 < 2) AND NOT (k % 7 = 3)
      |)
      |SELECT band, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM live GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_dfmor", "dfmor")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"),
      col("o_orderkey").as("k"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    val tmp = s"${dir}_stage"
    o.filter(col("band") === "b0").select("k", "cents")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$dir/f0.parquet").toPath): Unit
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("k", LongType), StructField("cents", LongType),
      StructField("band", StringType))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"foreignmor","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":["band"],"configuration":{}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{"band":"b0"},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    (1 to 3).foreach { b =>
      DeltaExport.appendForeign(s,
        o.filter(col("band") === s"b$b").select("k", "cents", "band"), dir): Unit
    }
    val v1 = DeltaExport.deleteForeignMoR(s, dir, col("k") % 10 < 2)
    val v2 = DeltaExport.deleteForeignMoR(s, dir, col("k") % 7 === 3)
    // every add of both MoR commits must carry a vector — the gate
    // against a silent fallback to a copy-on-write rewrite
    Seq(v1, v2).foreach { v =>
      val body = java.nio.file.Files.readString(
        java.nio.file.Paths.get(f"$dir/_delta_log/$v%020d.json"))
      body.linesIterator.filter(_.contains("\"add\":")).foreach(l =>
        require(l.contains("deletionVector"),
          s"MoR commit $v re-added a file without a vector"))
    }
    DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** FOREIGN Delta UPDATE (r15 — the copy-on-write SET face of
    * [[qDeltaDeleteForeign]]): the same CDF-enabled foreign fixture
    * receives one `updateForeign` commit doubling band b2's cents.
    * Three faces fuse into the hash: the replay's per-band aggregates
    * (b2 must show doubled cents, every other band untouched), and
    * the change feed's preimage/postimage sums — wrong values on any
    * face break it. */
  val qDeltaUpdateForeign: QueryDef = QueryDef.sql(
    "q_delta_update_foreign",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 4 AS VARCHAR) AS band,
      |    o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |),
      |upd AS (
      |  SELECT band, k,
      |    CASE WHEN band = 'b2' THEN cents * 2 ELSE cents END AS cents
      |  FROM o
      |),
      |m AS (SELECT * FROM o WHERE band = 'b2')
      |SELECT band, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  (SELECT CAST(SUM(cents) AS BIGINT) FROM m) AS sum_pre,
      |  (SELECT CAST(SUM(cents) * 2 AS BIGINT) FROM m) AS sum_post
      |FROM upd GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_dfupd", "dfupd")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"),
      col("o_orderkey").as("k"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    val tmp = s"${dir}_stage"
    o.filter(col("band") === "b0").select("k", "cents")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$dir/f0.parquet").toPath): Unit
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("k", LongType), StructField("cents", LongType),
      StructField("band", StringType))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        s"""{"metaData":{"id":"foreignupd","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":["band"],"configuration":{"delta.enableChangeDataFeed":"true"}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{"band":"b0"},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    (1 to 3).foreach { b =>
      DeltaExport.appendForeign(s,
        o.filter(col("band") === s"b$b").select("k", "cents", "band"), dir): Unit
    }
    val vUpd = DeltaExport.updateForeign(s, dir,
      col("band") === "b2", Map("cents" -> col("cents") * 2L))
    val ch = DeltaRead.changes(s, dir, vUpd - 1, vUpd)
    val pre = ch.filter(col("_change_type") === "update_preimage")
      .agg(sum(col("cents"))).collect().head.getLong(0)
    val post = ch.filter(col("_change_type") === "update_postimage")
      .agg(sum(col("cents"))).collect().head.getLong(0)
    DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("sum_pre", lit(pre))
      .withColumn("sum_post", lit(post))
      .orderBy("band")
  }

  /** Delta EXPORT of a COLUMN-MAPPED snapshot (r14 — r13 verdict #3):
    * a graft table renamed mid-history (files before the rename carry
    * the old physical name; appends after it keep writing it) exports
    * as reader-v2 NAME-MODE metadata, and the independent replay must
    * resolve both eras through the mapping to the logical schema. */
  val qDeltaExportMapped: QueryDef = QueryDef.sql(
    "q_delta_export_mapped",
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS amount,
      |    o_orderkey % 4 AS g
      |  FROM orders
      |)
      |SELECT g, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(amount) AS BIGINT) AS sum_amount
      |FROM o GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dxcm", "base", "delta")
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("k"),
      graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitOverwrite(
      o.filter(col("k") % 2 === 0).coalesce(1), base) // v1: physical name "cents"
    TimeTravel.renameColumn(s, base, "cents", "amount") // v2: logical rename
    TimeTravel.commitAppend( // v3: post-rename append, physical name kept
      o.filter(col("k") % 2 === 1).withColumnRenamed("cents", "amount")
        .coalesce(1), base)
    DeltaExport.snapshot(s, base, tgt)
    val got = DeltaRead.read(s, tgt)
    require(got.columns.toSeq == Seq("k", "amount"),
      s"mapped export must serve logical names, got ${got.columns.toSeq}")
    got.withColumn("g", col("k") % 4)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("amount")).as("sum_amount"))
      .orderBy("g")
  }

  /** WIDENED-era Delta export (r15 — r14 verdict #3): a graft table
    * whose `cnt` column widened int→bigint mid-history (old files keep
    * the narrow parquet type; the post-widen append carries values past
    * Int range, so a reader that drops either era — or reads the narrow
    * files wrong — breaks the sum) exports under the `typeWidening`
    * feature with the spec's per-field type-change history, and the
    * independent replay promotes the narrow files under the wide
    * declared schema. */
  val qDeltaExportWidened: QueryDef = QueryDef.sql(
    "q_delta_export_widened",
    """WITH o AS (
      |  SELECT o_orderkey AS k, CAST(o_orderkey % 1000 AS BIGINT) AS cnt
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderkey, o_orderkey + 3000000000
      |  FROM orders WHERE o_orderkey % 2 = 1
      |)
      |SELECT k % 4 AS g, COUNT(*) AS n_rows, CAST(SUM(cnt) AS BIGINT) AS sum_cnt
      |FROM o GROUP BY g ORDER BY g""".stripMargin) { (s, d) =>
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_dxw", "base", "delta")
    val o = Tables(s, d, "orders").select(col("o_orderkey").as("k"))
    TimeTravel.commitOverwrite( // v1: the NARROW era — cnt is INT
      o.filter(col("k") % 2 === 0)
        .withColumn("cnt", (col("k") % 1000).cast("int")).coalesce(1), base)
    TimeTravel.widenColumn(s, base, "cnt", "bigint") // v2: metadata-only
    TimeTravel.commitAppend( // v3: wide values past Int range
      o.filter(col("k") % 2 === 1)
        .withColumn("cnt", col("k") + 3000000000L).coalesce(1), base)
    DeltaExport.snapshot(s, base, tgt)
    val got = DeltaRead.read(s, tgt)
    require(got.schema("cnt").dataType ==
      org.apache.spark.sql.types.LongType,
      s"widened export must declare the WIDE type, got ${got.schema("cnt")}")
    val v0 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgt/_delta_log/00000000000000000000.json"))
    require(v0.contains("\"typeWidening\"") && v0.contains("delta.typeChanges"),
      "widened export must publish the feature + type-change history")
    got.withColumn("g", col("k") % 4)
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cnt")).as("sum_cnt"))
      .orderBy("g")
  }

  /** VARIANT reads on both formats (r14 — r13 verdict #6): a parquet
    * file carrying a Spark VariantType column serves through a Delta
    * log requiring the `variantType` feature AND an Iceberg v3
    * `variant` field; the query groups by a STRING extracted from the
    * variant and sums a BIGINT extracted from it, so wrong binary
    * decoding breaks both the keys and the measures. The two reads
    * must agree before anything is returned. */
  val qVariantRead: QueryDef = QueryDef.sql(
    "q_variant_read",
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT 'r' || CAST(k % 7 AS VARCHAR) AS tag, COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_a
      |FROM o GROUP BY tag ORDER BY tag""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, StructField, StructType, VariantType}
    val Seq(dir) = Fixtures.dirs(s, "graft_var", "var")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(col("o_orderkey").as("k"),
      graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    val tmp = s"${dir}_stage"
    o.select(col("k"), parse_json(concat(
        lit("""{"a":"""), col("cents"),
        lit(""","b":"r"""), col("k") % 7, lit("\"}"))).as("var"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val ddir = s"$dir/delta"; new java.io.File(ddir).mkdirs()
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$ddir/f0.parquet").toPath): Unit
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("k", LongType), StructField("var", VariantType))).json)
    new java.io.File(s"$ddir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$ddir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["variantType"],"writerFeatures":["variantType"]}}""",
        s"""{"metaData":{"id":"varq","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":[],"configuration":{}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${flen(ddir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    val idir = s"$dir/iceberg"
    val dataF = new java.io.File(s"$ddir/f0.parquet").getAbsolutePath
    val m1 = graft.sources.IcebergRead.Fixture.manifest(idir, "m1.avro",
      Seq((1, dataF, 0)))
    val l1 = graft.sources.IcebergRead.Fixture.manifestList(idir, "snap-1.avro",
      Seq(m1))
    graft.sources.IcebergRead.Fixture.metadataMulti(idir, 1, 3,
      currentSnapshotId = 1L, snapshots = Seq((1L, l1)),
      fields = Seq((1, "k", true, "long"), (2, "var", false, "variant")))
    def shaped(df: org.apache.spark.sql.DataFrame) = df.selectExpr(
      "variant_get(var, '$.b', 'string') AS tag",
      "CAST(variant_get(var, '$.a', 'bigint') AS BIGINT) AS a")
    val dg = shaped(graft.sources.DeltaRead.read(s, ddir))
    val ig = shaped(graft.sources.IcebergRead.read(s, idir))
    require(dg.exceptAll(ig).isEmpty && ig.exceptAll(dg).isEmpty,
      "the Delta and Iceberg variant reads must agree")
    dg.groupBy(col("tag"))
      .agg(count(lit(1)).as("n_rows"), sum(col("a")).as("sum_a"))
      .orderBy("tag")
  }

  /** Delta NAME-MODE column mapping over NESTED complex columns (r13
    * — the common Databricks shape the r12 reader declined): the data
    * file carries PHYSICAL names at every nesting level (`col-s` =
    * struct of `p-i`/`p-c`), the logical schema maps them through
    * per-field physicalName metadata inside the struct, and the read
    * must serve the logical nested names with values intact — a
    * top-level-only rewrite would read nested nulls and break the
    * closed-form grouping. */
  val qDeltaReadNestedCm: QueryDef = QueryDef.sql(
    "q_delta_read_nested_cm",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 4 AS VARCHAR) AS band,
      |    o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows,
      |  CAST(SUM(id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_dncm", "dncm")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"),
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    val tmp = s"${dir}_stage"
    o.select(col("band").as("col-0"),
      struct(col("id").as("p-i"), col("cents").as("p-c")).as("col-s"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$dir/f0.parquet").toPath): Unit
    def pn(phys: String) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys).build()
    val inner = StructType(Seq(
      StructField("id", LongType, nullable = true, pn("p-i")),
      StructField("cents", LongType, nullable = true, pn("p-c"))))
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("band", StringType, nullable = true, pn("col-0")),
      StructField("s", inner, nullable = true, pn("col-s")))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"ncmfix","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"4"}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    graft.sources.DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("s.id")).as("sum_id"),
        sum(col("s.cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** Delta ID-MODE column mapping over NESTED complex columns (r13 —
    * the last id-mode decline closed): the data file carries ARBITRARY
    * names at every nesting level with parquet field ids, the logical
    * schema maps each (nested) field through `delta.columnMapping.id`,
    * and the read binds by id through the engine-native field-id
    * matcher — a name- or top-level-only resolution would serve nested
    * nulls and break the closed-form grouping. */
  val qDeltaReadIdMapNested: QueryDef = QueryDef.sql(
    "q_delta_read_idmap_nested",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 4 AS VARCHAR) AS band,
      |    o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows,
      |  CAST(SUM(id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_didn", "didn")
    new java.io.File(dir).mkdirs()
    def idm(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"),
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    // the staged file's names (zz*) are ARBITRARY; only the ids matter
    val tmp = s"${dir}_stage"
    o.select(col("band").as("zz0", idm(1)),
      struct(col("id").as("zz_i", idm(3)), col("cents").as("zz_c", idm(4)))
        .as("zz_s", idm(2)))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(s"$dir/f0.parquet").toPath): Unit
    def cm(id: Long) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", s"col-$id").build()
    val inner = StructType(Seq(
      StructField("id", LongType, nullable = true, cm(3)),
      StructField("cents", LongType, nullable = true, cm(4))))
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("band", StringType, nullable = true, cm(1)),
      StructField("s", inner, nullable = true, cm(2)))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"idnfix","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"4"}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    graft.sources.DeltaRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("s.id")).as("sum_id"),
        sum(col("s.cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** Delta CHANGE-DATA-FEED under `id`-mode column mapping (r13 — the
    * combination the r12 reader declined): the change file carries its
    * own arbitrary column names (`yy_*`) under the table's parquet
    * field ids plus the un-mapped `_change_type`, so the CDF batch
    * must resolve data columns by footer field id exactly like the
    * snapshot path. */
  val qDeltaCdfIdMap: QueryDef = QueryDef.sql(
    "q_delta_cdf_idmap",
    """WITH o AS (
      |  SELECT o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT 'delete' AS change_type, COUNT(*) AS n_rows,
      |  CAST(SUM(id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o WHERE id % 10 = 5""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    val Seq(dir) = Fixtures.dirs(s, "graft_cdfidm", "cdfidm")
    new java.io.File(dir).mkdirs()
    def pqId(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    def stage(df: org.apache.spark.sql.DataFrame, rel: String): Unit = {
      val tmp = s"${dir}_stage_${rel.replace('/', '_')}"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$rel")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath): Unit
    }
    // v0 snapshot file under one set of arbitrary names
    stage(o.select(col("id").as("zz_a", pqId(1)), col("cents").as("zz_b", pqId(2))),
      "f0.parquet")
    // v1 change file under a DIFFERENT set, same ids, plus _change_type
    stage(o.filter(col("id") % 10 === 5)
      .select(col("id").as("yy_a", pqId(1)), col("cents").as("yy_b", pqId(2)),
        lit("delete").as("_change_type")),
      "_change_data/cdc-0.parquet")
    stage(o.filter(col("id") % 10 =!= 5)
      .select(col("id").as("yy_a", pqId(1)), col("cents").as("yy_b", pqId(2))),
      "f1.parquet")
    def fmeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val schemaString = Json.mapper.writeValueAsString(StructType(Seq(
      StructField("id", LongType, nullable = true, fmeta(1, "col-1")),
      StructField("cents", LongType, nullable = true, fmeta(2, "col-2")))).json)
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${0L}%020d.json"),
      Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
        s"""{"metaData":{"id":"cdfidm","format":{"provider":"parquet","options":{}},"schemaString":$schemaString,"partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}}}""",
        s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":${flen(dir, "f0.parquet")},"modificationTime":1,"dataChange":true}}""")
        .mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/${1L}%020d.json"),
      Seq("""{"remove":{"path":"f0.parquet","deletionTimestamp":2,"dataChange":true}}""",
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":${flen(dir, "f1.parquet")},"modificationTime":2,"dataChange":true}}""",
        """{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":1,"dataChange":false}}""")
        .mkString("", "\n", "\n"))
    graft.sources.DeltaRead.changes(s, dir, 0L, 1L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
  }

  /** Iceberg FORMAT-VERSION-3 read (r13): a v3 table that uses no v3
    * feature reads exactly like v2 — the spec keeps v2 structures
    * valid — while puffin DVs / row lineage / field defaults decline
    * by name (SourcesSpec pins the declines; this query pins the
    * plain-v3 read against the closed-form oracle). */
  val qIcebergReadV3: QueryDef = QueryDef.sql(
    "q_iceberg_read_v3",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 4 AS VARCHAR) AS band,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows, CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.IcebergRead
    val Seq(dir) = Fixtures.dirs(s, "graft_icev3", "icev3")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"),
      graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    val files = (0 to 3).map { b =>
      val tmp = s"${dir}_stage_$b"
      o.filter(col("band") === s"b$b").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/data/f$b.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.getAbsolutePath
    }
    val m = IcebergRead.Fixture.manifestV2(dir, "m.avro",
      files.map(f => IcebergRead.EntryInfo(1, f, 0, 1L, Nil)))
    val ml = IcebergRead.Fixture.manifestList(dir, "snap-1.avro", Seq(m))
    IcebergRead.Fixture.metadata(dir, 1, formatVersion = 3, snapshotId = 1L,
      manifestList = ml, fields = Seq((1, "band", false, "string"),
        (2, "cents", false, "long")))
    IcebergRead.read(s, dir)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** Iceberg FORMAT-VERSION-3 merge-on-read with PUFFIN DELETION
    * VECTORS (r13): band-0 data commits at sequence 1, band-1 at
    * sequence 3, one puffin sidecar carries a DV per data file
    * (band-0 positions ≡ 2 mod 7, band-1 positions ≡ 1 mod 5 —
    * [[graft.sources.Puffin]] speaks the spec's D1 D3 39 64 blob
    * framing), and an equality delete at sequence 2 (every id ≡ 0
    * mod 11) composes on top — sequence ordering must confine it to
    * the band-0 file. A reader that drops DVs keeps the vectored rows;
    * one that misorders the equality delete also kills band-1
    * multiples. The oracle restates all three rules in closed form. */
  val qIcebergReadV3Dv: QueryDef = QueryDef.sql(
    "q_iceberg_read_v3dv",
    """WITH o AS (
      |  SELECT o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
      |    o_orderkey % 2 AS band,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderkey % 2 ORDER BY o_orderkey) - 1 AS pos
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents,
      |  CAST(SUM(id) AS BIGINT) AS sum_id
      |FROM o WHERE NOT (band = 0 AND pos % 7 = 2)
      |  AND NOT (band = 1 AND pos % 5 = 1)
      |  AND NOT (band = 0 AND id % 11 = 0)""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergRead, Puffin}
    import graft.sources.IcebergRead.EntryInfo
    val Seq(dir) = Fixtures.dirs(s, "graft_iv3dv", "iv3dv")
    new java.io.File(dir).mkdirs()
    val o = Tables(s, d, "orders").select(
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"),
      (col("o_orderkey") % 2).as("band"))
    def stageOne(df: org.apache.spark.sql.DataFrame, name: String): String = {
      val tmp = s"${dir}_stage_$name"
      df.write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/data/$name")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.getAbsolutePath
    }
    val files = (0 to 1).map { b =>
      stageOne(o.filter(col("band") === b).drop("band")
        .repartition(1).sortWithinPartitions("id"), s"f$b.parquet")
    }
    val counts = (0 to 1).map(b => o.filter(col("band") === b).count())
    // one puffin sidecar, one DV blob per data file
    val refs = Puffin.writeDvFile(s, s"$dir/data/dv.puffin", Seq(
      (files(0), 2L.until(counts(0), 7L)),
      (files(1), 1L.until(counts(1), 5L))), snapshotId = 1L, sequenceNumber = 4L)
    // equality delete (seq 2): EVERY id ≡ 0 (mod 11), both bands' —
    // sequence ordering must confine it to the seq-1 band-0 file
    val eqDel = stageOne(o.filter(col("id") % 11 === 0).select("id").coalesce(1),
      "eq0.parquet")
    val mData = IcebergRead.Fixture.manifestV2(dir, "mData.avro", Seq(
      EntryInfo(1, files(0), 0, 1L, Nil), EntryInfo(1, files(1), 0, 3L, Nil)))
    val mDel = IcebergRead.Fixture.manifestV2(dir, "mDel.avro", Seq(
      EntryInfo(1, eqDel, 2, 2L, Seq(1)),
      EntryInfo(1, s"$dir/data/dv.puffin", 1, 4L, Nil,
        Some((files(0), refs(0).offset, refs(0).length))),
      EntryInfo(1, s"$dir/data/dv.puffin", 1, 4L, Nil,
        Some((files(1), refs(1).offset, refs(1).length)))))
    val ml = IcebergRead.Fixture.manifestList(dir, "snap-1.avro", Seq(mData, mDel))
    IcebergRead.Fixture.metadata(dir, 1, formatVersion = 3, snapshotId = 1L,
      manifestList = ml, fields = Seq((1, "id", true, "long"), (2, "cents", false, "long")))
    IcebergRead.read(s, dir)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"),
        sum(col("id")).as("sum_id"))
  }

  /** Identity-PARTITIONED Iceberg export (r13): the publish declares
    * partition columns, each data file's tuple derives from its parquet
    * column statistics (files must be partition-pure — the
    * one-commit-per-partition source shape guarantees it), and the
    * metadata carries a real identity spec external engines prune by.
    * The independent [[graft.sources.IcebergRead]] replay closes the
    * loop against the closed-form oracle. */
  val qIcebergExportPart: QueryDef = QueryDef.sql(
    "q_iceberg_export_part",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 3 AS VARCHAR) AS band,
      |    o_orderkey AS id,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT band, COUNT(*) AS n_rows,
      |  CAST(SUM(id) AS BIGINT) AS sum_id,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM o GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(src, tgt) = Fixtures.dirs(s, "graft_iexpp", "src", "tgt")
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 3).cast("string")).as("band"),
      col("o_orderkey").as("id"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    // one commit per band → partition-pure files; fresh table →
    // parallel staging
    TimeTravel.commitSeries((0 to 2).map(b =>
      o.filter(col("band") === s"b$b")), src)
    IcebergExport.snapshot(s, src, tgt, partitionBy = Seq("band"))
    IcebergRead.read(s, tgt)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("id")).as("sum_id"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** days(ts)-partitioned Iceberg export (r15 — r14 verdict #4): the
    * common Iceberg time layout. Three day-pure commits publish under
    * the spec's `day` transform (per-file epoch-day tuples derived
    * from footer stats), and the replay's one-day band must plan
    * exactly ONE of the three files — the `files_read` evidence breaks
    * the hash if the published layout stops pruning by date. */
  val qIcebergExportDays: QueryDef = QueryDef.sql(
    "q_iceberg_export_days",
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents,
      |    o_orderkey % 3 AS day_idx
      |  FROM orders
      |)
      |SELECT COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents, 1 AS files_read
      |FROM o WHERE day_idx = 1""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(src, tgt) = Fixtures.dirs(s, "graft_iexpd", "src", "tgt")
    // NTZ carries INT64 micros with real footer stats (the day-purity
    // source); day = 2024-03-01 + (k % 3), hours vary within each day
    val o = Tables(s, d, "orders").select(col("o_orderkey").as("k"),
        graft.Exact.units(col("o_totalprice"), 2).as("cents"),
        (col("o_orderkey") % 3).as("day_idx"))
      .withColumn("ts", expr("timestamp_ntz'2024-03-01 00:00:00' + " +
        "make_interval(0,0,0,cast(day_idx as int),cast(k % 24 as int),0,0)"))
      .drop("day_idx")
    TimeTravel.commitSeries(Seq( // fresh table: parallel staging
      o.filter(expr("ts < timestamp_ntz'2024-03-02'")).coalesce(1),
      o.filter(expr("ts >= timestamp_ntz'2024-03-02' and ts < timestamp_ntz'2024-03-03'"))
        .coalesce(1),
      o.filter(expr("ts >= timestamp_ntz'2024-03-03'")).coalesce(1)), src)
    IcebergExport.snapshot(s, src, tgt, partitionBy = Seq("days(ts)"))
    val metaTxt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tgt/metadata/v1.metadata.json"))
    require(metaTxt.contains("\"transform\":\"day\""),
      "the published spec must carry the day transform")
    val band = IcebergRead.read(s, tgt)
      .filter(expr("ts >= timestamp_ntz'2024-03-02' and ts < timestamp_ntz'2024-03-03'"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
    val row = band.collect().head
    import s.implicits._
    Seq((row.getLong(0), row.getLong(1), row.getLong(2), scannedFiles(band).toInt))
      .toDF("n_rows", "sum_k", "sum_cents", "files_read")
  }

  /** bucket(4, k)-partitioned Iceberg export + FOREIGN append (r15):
    * the common Flink/Trino hash layout. Half of `orders` seeds the
    * export through four bucket-pure commits (pre-partitioned with the
    * spec's pinned murmur3 via
    * [[graft.functions.IcebergPartitionFns.icebergBucket]]); the other
    * half arrives through ONE `appendForeign` whose staging pass must
    * split the interleaved rows by transform itself. The replay must
    * serve the union, and the `n_buckets` evidence counts the DISTINCT
    * `k_bucket` tuples across every published manifest — if the
    * exporter wrote wrong or collapsed bucket values, the count (and
    * the hash) breaks. */
  val qIcebergExportBucket: QueryDef = QueryDef.sql(
    "q_iceberg_export_bucket",
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |)
      |SELECT k % 8 AS band, COUNT(*) AS n_rows,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents, 4 AS n_buckets,
      |  1 AS files_pruned
      |FROM o GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.functions.IcebergPartitionFns.icebergBucket
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(src, tgt) = Fixtures.dirs(s, "graft_iexpb", "src", "tgt")
    val o = Tables(s, d, "orders").select(col("o_orderkey").as("k"),
      graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    val seeded = o.filter(col("k") % 2 === 0)
      .withColumn("__b", icebergBucket(4, col("k")))
    TimeTravel.commitSeries((0 to 3).map(b => // fresh table: parallel staging
      seeded.filter(col("__b") === b).drop("__b").coalesce(1)), src)
    IcebergExport.snapshot(s, src, tgt, partitionBy = Seq("bucket(4, k)"))
    // the foreign half is NOT pre-partitioned — the staging pass splits
    IcebergExport.appendForeign(s, o.filter(col("k") % 2 === 1), tgt)
    val metaTxt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tgt/metadata/v2.metadata.json"))
    require(metaTxt.contains("\"transform\":\"bucket[4]\""),
      "the published spec must carry the bucket transform")
    // evidence: distinct k_bucket tuples across EVERY manifest
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    val tuples = new java.io.File(s"$tgt/metadata").listFiles()
      .filter(f => (f.getName.startsWith("m-") || f.getName.startsWith("mf-")) &&
        f.getName.endsWith(".avro"))
      .flatMap { mf =>
        val rdr = DataFileReader.openReader(mf,
          new GenericDatumReader[GenericRecord]())
        try {
          val b = Seq.newBuilder[Int]
          while (rdr.hasNext) {
            val df = rdr.next().get("data_file").asInstanceOf[GenericRecord]
            b += df.get("partition").asInstanceOf[GenericRecord]
              .get("k_bucket").asInstanceOf[Number].intValue()
          }
          b.result()
        } finally rdr.close()
      }.toSet
    // transform-aware pruning evidence (r15): a point lookup must plan
    // strictly fewer files than the unfiltered read — bucket tuples
    // are the only thing that can prune a hash layout
    val full = IcebergRead.read(s, tgt).agg(count(lit(1)))
    full.collect(): Unit
    val probe = IcebergRead.read(s, tgt).filter(col("k") === 1L)
      .agg(count(lit(1)))
    probe.collect(): Unit
    val pruned = if (scannedFiles(probe) < scannedFiles(full)) 1 else 0
    IcebergRead.read(s, tgt)
      .groupBy((col("k") % 8).as("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("n_buckets", lit(tuples.size))
      .withColumn("files_pruned", lit(pruned))
      .orderBy("band")
  }

  /** FOREIGN Iceberg MERGE-ON-READ DELETE (r15 — the positional
    * sibling of `q_iceberg_eq_export`): a v2 table seeded by export +
    * foreign append receives one predicate-based
    * [[graft.sources.IcebergExport.deleteForeign]] — matched rows'
    * (file, position) coordinates publish as a position-delete file,
    * data files untouched — then a LATER foreign append lands rows
    * that MATCH the same predicate and must survive (position deletes
    * bind to specific files, never to values). The replay's aggregate
    * over survivors ∪ late arrivals must hit DuckDB's closed form. */
  val qIcebergDelForeign: QueryDef = QueryDef.sql(
    "q_iceberg_del_foreign",
    """WITH o AS (
      |  SELECT o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |),
      |live AS (SELECT k, cents FROM o WHERE NOT (k % 10 < 3)),
      |late AS (SELECT -k AS k, cents FROM o WHERE k % 10 < 3),
      |u AS (SELECT * FROM live UNION ALL SELECT * FROM late)
      |SELECT k % 7 AS band, COUNT(*) AS n_rows,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents
      |FROM u GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(src, tgt) = Fixtures.dirs(s, "graft_ifdel", "src", "tgt")
    val o = Tables(s, d, "orders").select(col("o_orderkey").as("k"),
      graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitOverwrite(o.filter(col("k") % 2 === 0).coalesce(2), src)
    IcebergExport.snapshot(s, src, tgt)
    IcebergExport.appendForeign(s, o.filter(col("k") % 2 === 1), tgt)
    IcebergExport.deleteForeign(s, tgt, col("k") % 10 < 3)
    // the late arrivals: every one MATCHES the delete predicate
    // ((-k) % 10 keeps the dividend sign in both engines) yet survives
    IcebergExport.appendForeign(s,
      o.filter(col("k") % 10 < 3).select((-col("k")).as("k"), col("cents")), tgt)
    IcebergRead.read(s, tgt)
      .groupBy((col("k") % 7).as("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .orderBy("band")
  }

  /** FOREIGN Iceberg UPDATE (r15 — completes the foreign DML matrix:
    * both formats now append, delete, and update): one merge-on-read
    * `overwrite` snapshot tombstones band b2's rows by position AND
    * re-stages them with doubled cents — the builder requires exactly
    * ONE new metadata version for the whole update, so a non-atomic
    * delete-then-append implementation cannot pass. */
  val qIcebergUpdForeign: QueryDef = QueryDef.sql(
    "q_iceberg_upd_foreign",
    """WITH o AS (
      |  SELECT 'b' || CAST(o_orderkey % 4 AS VARCHAR) AS band,
      |    o_orderkey AS k,
      |    CAST(ROUND(o_totalprice * 100.0) AS BIGINT) AS cents
      |  FROM orders
      |),
      |upd AS (
      |  SELECT band, k,
      |    CASE WHEN band = 'b2' THEN cents * 2 ELSE cents END AS cents
      |  FROM o
      |)
      |SELECT band, COUNT(*) AS n_rows, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(SUM(cents) AS BIGINT) AS sum_cents, 1 AS n_new_versions
      |FROM upd GROUP BY band ORDER BY band""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(src, tgt) = Fixtures.dirs(s, "graft_ifupd", "src", "tgt")
    val o = Tables(s, d, "orders").select(
      concat(lit("b"), (col("o_orderkey") % 4).cast("string")).as("band"),
      col("o_orderkey").as("k"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    TimeTravel.commitSeries((0 to 3).map(b => // fresh table: parallel staging
      o.filter(col("band") === s"b$b").coalesce(1)), src)
    IcebergExport.snapshot(s, src, tgt, partitionBy = Seq("band"))
    def metaVersions(): Int = new java.io.File(s"$tgt/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json"))
    val before = metaVersions()
    IcebergExport.updateForeign(s, tgt, col("band") === "b2",
      Map("cents" -> (col("cents") * 2L)))
    val newVersions = metaVersions() - before
    IcebergRead.read(s, tgt)
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_rows"), sum(col("k")).as("sum_k"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("n_new_versions", lit(newVersions))
      .orderBy("band")
  }

  /** v3 ROW LINEAGE surfaced (r15 — r14 verdict #5): an export +
    * append + MoR-delete history over `orders`, read back with the
    * `_row_id` / `_last_updated_sequence_number` metadata columns.
    * Ids are the spec's first-row-id + position, so with each commit
    * written in key order DuckDB reproduces them as per-commit row
    * numbers; the delete must drop rows WITHOUT renumbering — any
    * id drift breaks sum_rid. */
  val qIcebergRowLineage: QueryDef = QueryDef.sql(
    "q_iceberg_row_lineage",
    """WITH a AS (
      |  SELECT o_orderkey AS k,
      |    ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 0
      |), b AS (
      |  SELECT o_orderkey AS k,
      |    (SELECT COUNT(*) FROM a) +
      |      ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      |  FROM orders WHERE o_orderkey % 2 = 1
      |), u AS (
      |  SELECT k, rid, 1 AS last_seq FROM a
      |  UNION ALL SELECT k, rid, 2 FROM b
      |)
      |SELECT last_seq, COUNT(*) AS n_rows, CAST(SUM(rid) AS BIGINT) AS sum_rid,
      |  CAST(SUM(k) AS BIGINT) AS sum_k
      |FROM u WHERE NOT k % 7 = 3
      |GROUP BY last_seq ORDER BY last_seq""".stripMargin) { (s, d) =>
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    val Seq(src, tgt) = Fixtures.dirs(s, "graft_irl", "src", "tgt")
    val o = Tables(s, d, "orders").select(col("o_orderkey").as("k"))
    TimeTravel.commitOverwrite( // v1: even keys, one file in key order
      o.filter(col("k") % 2 === 0).coalesce(1).sortWithinPartitions("k"), src)
    IcebergExport.snapshot(s, src, tgt, formatVersion = 3) // seq 1, ids 0..
    TimeTravel.commitAppend( // v2: odd keys continue the id space
      o.filter(col("k") % 2 === 1).coalesce(1).sortWithinPartitions("k"), src)
    IcebergExport.append(s, src, tgt) // seq 2
    TimeTravel.deleteMoR(s, src, col("k") % 7 === 3)
    IcebergExport.append(s, src, tgt) // seq 3: DVs — ids must NOT move
    IcebergRead.read(s, tgt, withLineage = true)
      .groupBy(col("_last_updated_sequence_number").cast("int").as("last_seq"))
      .agg(count(lit(1)).as("n_rows"), sum(col("_row_id")).as("sum_rid"),
        sum(col("k")).as("sum_k"))
      .orderBy("last_seq")
  }

  val all: Seq[QueryDef] = Seq(qCdcNewUpdated, qCdcDelete, qCdcWatermark, qCsvRoundtrip,
    qJsonlRoundtrip, qTarRoundtrip, qOrcRoundtrip, qAvroRoundtrip, qDeltaRead,
    qIcebergRead, qDeltaExport, qIcebergExport, qDeltaReadDv, qDeltaReadMapped, qIcebergReadV2,
    qDeltaCdf, qDeltaExportAppend, qIcebergExportAppend, qDeltaReadV2Ckpt, qDeltaReadIdMap,
    qIcebergReadEq, qDeltaExportRowLevel, qIcebergExportRowLevel,
    qDeltaReadNestedCm, qDeltaReadIdMapNested, qDeltaCdfIdMap, qIcebergReadV3, qIcebergExportPart,
    qIcebergReadV3Dv, qIcebergExportV3Dv, qDeltaReadSkipping, qIcebergReadSkipping, qDeltaReadNtz, qDeltaAppendForeign, qDeltaDeleteForeign, qDeltaMorForeign, qDeltaUpdateForeign, qDeltaExportMapped, qDeltaExportWidened, qIcebergExportDays, qIcebergExportBucket, qIcebergDelForeign, qIcebergUpdForeign, qIcebergRowLineage, qVariantRead)
}
