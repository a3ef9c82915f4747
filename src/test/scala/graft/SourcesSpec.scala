package graft

import java.nio.file.Files

import graft.sources.{CsvIo, JsonIo}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Adversarial roundtrips for the text-format source/sink pairs: the
  * oracle queries (q_csv_roundtrip, q_jsonl_roundtrip) hash-check the
  * paths on the well-behaved testdata tables; these specs push the
  * strings the testdata doesn't contain — embedded newlines, quotes,
  * backslashes, control chars, unicode up to the supplementary plane,
  * empties and nulls — through write→read and require value identity.
  */
class SourcesSpec extends SparkSpec {

  private val nasty: Seq[String] = Seq(
    "plain",
    "", // empty string (distinct from null)
    "line\nbreak", "crlf\r\nline", "tab\tsep",
    "\"quoted\" and 'single'",
    "back\\slash and \\n literal",
    "comma,semicolon;pipe|",
    "json {\"k\": [1, 2]} braces",
    "unicode: éàß 日本語 Ж ε",
    "emoji: 😀🚀",
    "ctrl:\u0001\u0007\u001f.",
    " leading and trailing  ",
    "null" // the literal word, not a null
  )

  private def roundtripRows: Seq[Row] =
    nasty.zipWithIndex.map { case (s, i) => Row(i.toLong, s) } :+ Row(99L, null)

  private val schemaDdl = "id BIGINT, payload STRING"

  test("Tables guarantees a stable normalized schema for every table") {
    // The driver regenerated /root/testdata between rounds 5 and 6,
    // flipping events.ts from TIMESTAMP(NANOS) to un-adjusted
    // timestamp[us] and silently breaking 17 event-time queries. This
    // contract test makes the next drift loud: for each table, pin the
    // column names and the types downstream queries actually rely on.
    // Date-like columns are pinned to the CLASS of types every query
    // handles (date / timestamp / timestamp_ntz all compare correctly
    // against date-string literals); events.ts is pinned EXACTLY,
    // because Tables normalizes it and `unix_micros`/`window` require
    // TimestampType.
    def dateLike(t: DataType): Boolean = t match {
      case DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    val fixed: Map[String, Map[String, DataType]] = Map(
      "region"   -> Map("r_regionkey" -> IntegerType, "r_name" -> StringType),
      "nation"   -> Map("n_nationkey" -> IntegerType, "n_name" -> StringType,
                        "n_regionkey" -> IntegerType),
      "customer" -> Map("c_custkey" -> LongType, "c_name" -> StringType,
                        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
                        "c_mktsegment" -> StringType),
      "supplier" -> Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType),
      "part"     -> Map("p_partkey" -> LongType, "p_name" -> StringType,
                        "p_retailprice" -> DoubleType),
      "orders"   -> Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
                        "o_totalprice" -> DoubleType, "o_orderstatus" -> StringType,
                        "o_orderpriority" -> StringType),
      "lineitem" -> Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
                        "l_suppkey" -> LongType, "l_quantity" -> DoubleType,
                        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
                        "l_tax" -> DoubleType, "l_returnflag" -> StringType,
                        "l_linestatus" -> StringType),
      "events"   -> Map("event_id" -> LongType, "ts" -> TimestampType,
                        "user_id" -> LongType, "event_type" -> StringType,
                        "value" -> DoubleType, "props" -> StringType),
      "documents" -> Map("doc_id" -> LongType, "text" -> StringType,
                        "lang" -> StringType, "source" -> StringType,
                        "n_chars" -> LongType),
      "embeddings" -> Map("vec_id" -> LongType,
                        "embedding" -> ArrayType(FloatType, containsNull = true),
                        "label" -> IntegerType))
    val dateCols = Map(
      "orders" -> Seq("o_orderdate"), "lineitem" -> Seq("l_shipdate"))
    for (t <- Tables.all) {
      val schema = Tables(spark, sf, t).schema
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      for ((c, want) <- fixed(t)) {
        assert(byName.contains(c), s"$t.$c missing; has ${schema.fieldNames.mkString(",")}")
        assert(byName(c) == want, s"$t.$c is ${byName(c)}, contract says $want")
      }
      for (c <- dateCols.getOrElse(t, Nil)) {
        assert(byName.contains(c), s"$t.$c missing")
        assert(dateLike(byName(c)), s"$t.$c is ${byName(c)}, not a date-like type")
      }
    }
  }

  test("JSONL sink/scan round-trips adversarial strings and nulls") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(roundtripRows, 2), StructType.fromDDL(schemaDdl))
    val dir = Files.createTempDirectory("jsonl_rt").toFile.getAbsolutePath
    JsonIo.writeLines(df, dir)
    val back = JsonIo.readLines(spark, dir, schemaDdl)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(back.size == roundtripRows.size)
    for (Row(id: Long, s) <- roundtripRows)
      assert(back(id) == Option(s), s"payload $id mutated through JSONL")
  }

  test("gzip-compressed JSONL round-trips identically to plain (reader sniffs .gz)") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(roundtripRows, 2), StructType.fromDDL(schemaDdl))
    val dir = Files.createTempDirectory("jsonl_gz").toFile.getAbsolutePath
    JsonIo.writeLines(df, dir, compression = Some("gzip"))
    val parts = new java.io.File(dir).listFiles().map(_.getName)
    assert(parts.exists(_.endsWith(".json.gz")), s"expected gzip parts, got ${parts.toSeq}")
    val back = JsonIo.readLines(spark, dir, schemaDdl)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(back.size == roundtripRows.size)
    for (Row(id: Long, s) <- roundtripRows)
      assert(back(id) == Option(s), s"payload $id mutated through gzip JSONL")
  }

  test("tar shards round-trip binary payloads at every block-boundary size") {
    import graft.sources.TarShards
    // sizes straddling the 512-byte tar block: 0, 1, 511, 512, 513, 1024
    // — padding arithmetic off-by-ones live exactly here; payloads are
    // raw bytes including NULs and high bits
    val payloads = Seq(0, 1, 511, 512, 513, 1024).zipWithIndex.map { case (n, i) =>
      (f"sample$i%02d.bin", Array.tabulate[Byte](n)(j => ((j * 31 + i) % 256).toByte))
    } :+ ("unicodé_名前.txt", "päyload\u0000with NUL".getBytes("UTF-8"))
    val tar = TarShards.writeTar(payloads.iterator)
    assert(tar.length % 512 == 0, "tar streams are whole blocks")
    val back = TarShards.parseTar(tar)
    assert(back.map(_._1) == payloads.map(_._1), "names and ORDER survive")
    for (((n, want), (_, got)) <- payloads.zip(back))
      assert(java.util.Arrays.equals(want, got), s"$n bytes mutated")
    // determinism: same entries → byte-identical archive (fixed
    // mtime/mode/uid — shards are diffable across runs)
    assert(java.util.Arrays.equals(tar, TarShards.writeTar(payloads.iterator)))
    // corruption is LOUD: flip a data-adjacent header byte
    val corrupt = tar.clone(); corrupt(124) = '9'
    intercept[IllegalArgumentException](TarShards.parseTar(corrupt))
    // ustar name limit enforced, not silently truncated
    intercept[IllegalArgumentException](
      TarShards.writeTar(Iterator(("x" * 101, Array.empty[Byte]))))
  }

  test("tar shard write/read distributes by shard and reassembles samples") {
    import graft.sources.TarShards
    val dir = Files.createTempDirectory("tar_shards").toFile.getAbsolutePath + "/shards"
    val rows = (0 until 40).map { i =>
      Row(i % 4, f"doc$i%03d.txt", s"text of $i".getBytes("UTF-8"))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3),
      StructType.fromDDL("shard INT, name STRING, bytes BINARY"))
    TarShards.write(df, dir, "shard", "name", "bytes")
    // Hadoop's checksummed local FS adds .crc sidecars; the shard
    // contract is about the .tar files (read() filters the same way)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.endsWith(".tar")).sorted
    assert(files.toSeq == Seq("shard-00000.tar", "shard-00001.tar",
      "shard-00002.tar", "shard-00003.tar"))
    val back = TarShards.read(spark, dir)
    assert(back.count() == 40)
    val got = back.collect()
      .map(r => r.getString(1) -> new String(r.getAs[Array[Byte]]("bytes"), "UTF-8")).toMap
    assert(got("doc007.txt") == "text of 7")
    // every entry landed in the shard its row named
    val misrouted = back.filter(
      substring(col("shard_file"), 7, 5).cast("int") =!=
        substring_index(substring_index(col("name"), ".", 1), "doc", -1).cast("int") % 4)
    assert(misrouted.count() == 0)
    // overwrite is idempotent: same rows → same bytes on disk
    val before = files.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f)))
    TarShards.write(df, dir, "shard", "name", "bytes")
    val after = files.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(dir, f)))
    for ((b, a) <- before.zip(after)) assert(java.util.Arrays.equals(b, a))
  }

  test("CSV sink/scan round-trips quoting-hostile latin1 strings") {
    // latin1 path: stay in the charset, but hit every quoting branch
    val csvNasty = nasty.filterNot(s => s.exists(_ > 'ÿ'))
    val rows = csvNasty.zipWithIndex.map { case (s, i) => Row(i.toLong, s) }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType.fromDDL(schemaDdl))
    val dir = Files.createTempDirectory("csv_rt").toFile.getAbsolutePath
    CsvIo.writeLatin1(df, dir)
    // multiLine: embedded newlines are RFC-4180-quoted by the writer and
    // only parse back under the per-file (non-splittable) reader mode
    val back = CsvIo.readLatin1(spark, dir, schemaDdl, multiLine = true)
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(back.size == rows.size)
    for (Row(id: Long, s) <- rows) {
      // CSV cannot represent empty-vs-null; both read back as null
      val expect = if (s == "") None else Option(s)
      assert(back(id) == expect, s"payload $id mutated through CSV")
    }
  }

  test("zone-map range scan skips files and still returns the exact row set") {
    import graft.sources.ZoneMaps
    val base = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), graft.Exact.units(col("o_totalprice"), 2).as("cents"))
      .withColumn("zone", floor(col("cents").cast("double") / 2000000.0).cast("long"))
    val dir = Files.createTempDirectory("zonemap").toFile.getAbsolutePath
    ZoneMaps.write(base, dir, "zone", Seq("cents", "o_orderkey"))

    // manifest: one file per zone (the clustered-write contract), stats
    // rows cover every row written
    val m = ZoneMaps.manifest(spark, dir).collect()
    val nZones = base.select("zone").distinct().count()
    assert(m.length == nZones, s"expected one file per zone ($nZones), got ${m.length}")
    assert(m.map(_.getAs[Long]("n_rows")).sum == base.count())

    val (lo, hi) = (5000000L, 9999999L)
    val (pruned, stats) = ZoneMaps.readRange(spark, dir, "cents", lo, hi)

    // pruning is real I/O avoidance: the scan's file list is exactly the
    // manifest-selected overlap set, strictly smaller than the table
    assert(stats.filesRead < stats.filesTotal)
    val selected = m.filter(r =>
        r.getAs[Long]("min_cents") <= hi && r.getAs[Long]("max_cents") >= lo)
      .map(_.getAs[String]("file")).toSet
    assert(stats.filesRead == selected.size.toLong)
    val scanned = pruned.inputFiles.toSet
    assert(scanned.subsetOf(selected), "pruned scan read a file the manifest excluded")

    // exactness: pruned scan ≡ full-scan filter, row for row
    val expect = base.filter(col("cents") >= lo && col("cents") <= hi)
      .select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    val got = pruned.select("o_orderkey").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == expect)

    // empty-overlap predicate: zero files read, zero rows, no crash
    val (empty, eStats) = ZoneMaps.readRange(spark, dir, "cents", Long.MaxValue - 10, Long.MaxValue)
    assert(eStats.filesRead == 0L && empty.count() == 0L)
  }
  test("graft-table DSv2: version-pinned reads, SQL face, DV snapshots apply in-plan") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ttdsv2").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite((1L to 10L).map(i => (i, s"r$i")).toDF("id", "payload"), dir)
    TimeTravel.commitAppend((11L to 15L).map(i => (i, s"r$i")).toDF("id", "payload"), dir)

    def viaFormat(v: Option[Long]) = {
      val r = spark.read.format("graft-table")
      v.fold(r)(x => r.option("version", x.toString)).load(dir)
    }
    assert(viaFormat(None).count() == 15)
    assert(viaFormat(Some(1L)).count() == 10)
    // scan ≡ the library read, row for row
    assert(viaFormat(Some(2L)).select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      TimeTravel.read(spark, dir, Some(2L)).select("id").collect().map(_.getLong(0)).sorted.toSeq)
    // pushdown reaches the delegated parquet scan
    val plan = viaFormat(None).filter(col("id") > 12L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), plan)

    // SQL face
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW tt_v1 USING `graft-table` " +
      s"OPTIONS (path '$dir', version '1')")
    assert(spark.sql("SELECT COUNT(*) FROM tt_v1").head.getLong(0) == 10L)

    // a snapshot with pending deletion vectors: the injected DvApply
    // rule applies the tombstone anti-join in-plan, so the DSv2 scan ≡
    // the library's merge-on-read path — and VERSION AS OF SQL works
    TimeTravel.deleteMoR(spark, dir, col("id") <= 5L)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(viaFormat(None)) == (6L to 15L),
      "DSv2 scan of a DV snapshot must apply the tombstones")
    assert(ids(viaFormat(None)) == ids(TimeTravel.read(spark, dir, None)),
      "DSv2 DV read ≡ TimeTravel.read")
    // SQL face over the DV snapshot, with a filter on top (the rewrite
    // must compose under parent operators)
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW tt_live USING `graft-table` " +
      s"OPTIONS (path '$dir')")
    assert(spark.sql("SELECT COUNT(*) FROM tt_live WHERE id <= 8").head.getLong(0) == 3L)
    // plan shape: the rewritten read is the MoR plan you'd want — user
    // filter pushed into the data-side parquet scan, tombstones applied
    // by a BROADCAST anti-join (DV side is O(deleted rows))
    val dvPlan = viaFormat(None).filter(col("id") > 7L)
      .queryExecution.executedPlan.toString
    assert(dvPlan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,7)]"), dvPlan)
    assert(dvPlan.contains("BroadcastHashJoin") && dvPlan.contains("LeftAnti"), dvPlan)
    // the pre-delete snapshot is still scannable and still complete
    assert(viaFormat(Some(2L)).count() == 15)

    // WITHOUT the rule (excludedRules), the scan must fail loudly — a
    // pass-through file scan silently returning tombstoned rows is the
    // one unacceptable outcome
    spark.conf.set("spark.sql.optimizer.excludedRules", "graft.plans.DvApply")
    try {
      val e = intercept[Exception] { viaFormat(None).count() }
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse("")).mkString(" "))
      assert(rootMsg(e).contains("deletion vectors"), s"got: $e")
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  test("graft-table DSv2: count/min/max answered from parquet footers, never past a DV") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ttaggpush").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite((1L to 1000L).map(i => (i, i * 3)).toDF("id", "v"), dir)
    TimeTravel.commitAppend((1001L to 1500L).map(i => (i, i * 3)).toDF("id", "v"), dir)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try {
      def snap = spark.read.format("graft-table").load(dir)
      def stats(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
      // the delegated ParquetScanBuilder's SupportsPushDownAggregates
      // flows through the time-travel face: the whole aggregate answers
      // from footer statistics, zero data pages read
      val pushed = stats(snap)
      val p = pushed.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation: [COUNT(*), MIN(v), MAX(v)]"),
        s"footer-stats pushdown must reach the snapshot scan:\n$p")
      assert(pushed.head == Row(1500L, 3L, 4500L))

      // a DV-bearing snapshot CANNOT be answered from footers (the
      // stats predate the tombstones): DvApply's anti-join rewrite
      // structurally precludes the pushdown, and the counts are the
      // post-delete truth
      TimeTravel.deleteMoR(spark, dir, col("id") > 1400L)
      val afterDelete = stats(spark.read.format("graft-table").load(dir))
      val p2 = afterDelete.queryExecution.executedPlan.toString
      assert(!p2.contains("PushedAggregation: [COUNT"),
        s"a DV snapshot must not serve pre-delete footer stats:\n$p2")
      assert(afterDelete.head == Row(1400L, 3L, 4200L))
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushdown")
  }

  test("avro shards round-trip adversarial strings, nulls, binary; byte-stable") {
    import graft.sources.AvroIo
    val dir = Files.createTempDirectory("avro_io").toFile.getAbsolutePath + "/shards"
    val rows = nasty.zipWithIndex.map { case (s, i) =>
      Row(i.toLong, s, Array.tabulate[Byte](i * 7)(j => ((j * 31 + i) % 256).toByte),
        i % 4, i.toDouble / 3.0, i % 2 == 0)
    } ++ Seq(Row(90L, null, null, 0, 0.0, false)) // nulls survive the union
    val schema = StructType.fromDDL(
      "id BIGINT, payload STRING, blob BINARY, shard INT, score DOUBLE, flag BOOLEAN")
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 4), schema)
    AvroIo.write(df, dir, "shard", "id")
    val back = AvroIo.read(spark, dir,
      "id BIGINT, payload STRING, blob BINARY, score DOUBLE, flag BOOLEAN")
    val got = back.collect().map(r => (r.getLong(0), r)).sortBy(_._1)
    val want = rows.map(r => (r.getLong(0), r)).sortBy(_._1)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq, "ids survive")
    for (((id, w), (_, g)) <- want.zip(got)) {
      assert(g.getAs[String]("payload") == w.getString(1), s"id=$id payload mutated")
      val wb = w.getAs[Array[Byte]](2); val gb = g.getAs[Array[Byte]]("blob")
      assert((wb == null && gb == null) || java.util.Arrays.equals(wb, gb),
        s"id=$id blob mutated")
      assert(g.getAs[Double]("score") == w.getDouble(4), s"id=$id score mutated")
      assert(g.getAs[Boolean]("flag") == w.getBoolean(5), s"id=$id flag mutated")
    }
    // determinism: a second write of the same rows yields byte-identical
    // shard files (pinned sync marker + fixed row order + pinned codec)
    def bytesOf(d: String): Map[String, Seq[Byte]] = {
      val base = new java.io.File(d)
      base.listFiles().filter(_.getName.endsWith(".avro")).map(f =>
        f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap
    }
    val first = bytesOf(dir)
    assert(first.nonEmpty && first.keySet.forall(_.startsWith("part-")))
    AvroIo.write(df, dir, "shard", "id")
    assert(bytesOf(dir) == first, "avro shards are byte-stable across runs")
    // unsupported column types fail LOUDLY at write, not at read — and a
    // rejected write must NOT destroy an existing good export at the same
    // destination (validation happens before any delete)
    intercept[IllegalArgumentException] {
      AvroIo.write(df.withColumn("arr", array(lit(1))), dir, "shard", "id")
    }
    assert(bytesOf(dir) == first, "rejected write left the prior export intact")
    // STRING is a contract on read too: a DDL that mislabels a non-string
    // field as STRING fails loudly instead of silently stringifying
    val e = intercept[org.apache.spark.SparkException] {
      AvroIo.read(spark, dir, "id STRING, payload STRING, blob BINARY, score DOUBLE, flag BOOLEAN")
        .collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" ")
    assert(chain.contains("declared STRING column id"), s"got: $chain")
  }

  // ---- SQL DML faces over the versioned table (SqlDml + GraftCatalog)

  private def withGraftCatalog[A](body: => A): A = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    body
  }

  private def seedTable(tag: String): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"dml_$tag").toFile.getAbsolutePath + "/t"
    val rows = (1L to 100L).map(i => (i, s"name_$i", i * 10)).toDF("k", "nm", "bal")
    graft.sources.TimeTravel.commitOverwrite(rows, dir)
    dir
  }

  test("SQL DELETE ≡ deleteMoR: tombstones via the statement, files untouched") {
    import graft.sources.TimeTravel
    val dirSql = seedTable("delsql")
    val dirLib = seedTable("dellib")
    withGraftCatalog {
      val v = spark.sql(s"DELETE FROM graft.`$dirSql` WHERE k % 3 = 0")
        .collect().head.getLong(0)
      assert(v == 2L, "DELETE must commit version 2")
    }
    TimeTravel.deleteMoR(spark, dirLib, col("k") % 3 === 0)
    val got = TimeTravel.read(spark, dirSql).orderBy("k").collect().toSeq
    val want = TimeTravel.read(spark, dirLib).orderBy("k").collect().toSeq
    assert(got == want && got.size == 67)
    // MoR: the original data directory is still the only data dir
    assert(TimeTravel.read(spark, dirSql, Some(1L)).count() == 100,
      "pre-delete snapshot must stay readable")
  }

  test("SQL UPDATE: tombstone + updated copies publish atomically; old snapshot intact") {
    import graft.sources.TimeTravel
    val dir = seedTable("upd")
    withGraftCatalog {
      spark.sql(s"UPDATE graft.`$dir` SET bal = bal + 5, nm = upper(nm) WHERE k <= 10")
    }
    val after = TimeTravel.read(spark, dir)
    assert(after.count() == 100, "row count preserved")
    val touched = after.filter(col("k") <= 10).orderBy("k").collect()
    assert(touched.forall(r => r.getLong(2) == r.getLong(0) * 10 + 5))
    assert(touched.forall(r => r.getString(1) == s"NAME_${r.getLong(0)}"))
    val untouched = after.filter(col("k") > 10).orderBy("k").collect()
    assert(untouched.forall(r => r.getLong(2) == r.getLong(0) * 10))
    assert(TimeTravel.read(spark, dir, Some(1L)).filter(col("k") <= 10)
      .collect().forall(r => r.getString(1).startsWith("name_")),
      "pre-update snapshot must stay readable")
    // a no-match UPDATE must not commit a version
    val vBefore = TimeTravel.versions(spark, dir).max
    withGraftCatalog { spark.sql(s"UPDATE graft.`$dir` SET bal = 0 WHERE k > 1000") }
    assert(TimeTravel.versions(spark, dir).max == vBefore)
  }

  test("SQL MERGE ≡ TimeTravel.merge on the canonical upsert") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dirSql = seedTable("mrgsql")
    val dirLib = seedTable("mrglib")
    // source: updates for half the keys, plus brand-new keys
    val src = ((50L to 120L).map(i => (i, s"new_$i", i * 100))).toDF("k", "nm", "bal")
    src.createOrReplaceTempView("dml_merge_src")
    withGraftCatalog {
      spark.sql(
        s"""MERGE INTO graft.`$dirSql` t USING dml_merge_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET k = s.k, nm = s.nm, bal = s.bal
           |WHEN NOT MATCHED THEN INSERT (k, nm, bal) VALUES (s.k, s.nm, s.bal)
           |""".stripMargin).collect()
    }
    TimeTravel.merge(spark, dirLib, src, "k")
    val got = TimeTravel.read(spark, dirSql).orderBy("k").collect().toSeq
    val want = TimeTravel.read(spark, dirLib).orderBy("k").collect().toSeq
    assert(got == want && got.size == 120)
    assert(got.count(_.getString(1).startsWith("new_")) == 71)
  }

  test("SQL MERGE declines non-canonical shapes loudly") {
    val dir = seedTable("mrgbad")
    import spark.implicits._
    Seq((1L, "x", 1L)).toDF("k", "nm", "bal").createOrReplaceTempView("dml_bad_src")
    withGraftCatalog {
      // divergent UPDATE vs INSERT rows
      val e1 = intercept[Exception](spark.sql(
        s"""MERGE INTO graft.`$dir` t USING dml_bad_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET k = s.k, nm = s.nm, bal = 0
           |WHEN NOT MATCHED THEN INSERT (k, nm, bal) VALUES (s.k, s.nm, s.bal)
           |""".stripMargin))
      assert(e1.getMessage.contains("disagree"), e1.getMessage)
      // non-equality ON
      val e2 = intercept[Exception](spark.sql(
        s"""MERGE INTO graft.`$dir` t USING dml_bad_src s ON t.k < s.k
           |WHEN MATCHED THEN UPDATE SET k = s.k, nm = s.nm, bal = s.bal
           |WHEN NOT MATCHED THEN INSERT (k, nm, bal) VALUES (s.k, s.nm, s.bal)
           |""".stripMargin))
      assert(e2.getMessage.contains("equality ON"), e2.getMessage)
    }
  }

  test("SQL MERGE declines a key column not bound to the ON source attribute") {
    val dir = seedTable("mrgkey")
    import spark.implicits._
    Seq((1L, 2L, "x", 1L)).toDF("k", "j", "nm", "bal")
      .createOrReplaceTempView("dml_key_src")
    withGraftCatalog {
      // 'SET k = s.j' passes the upd≡ins check but would silently match
      // on s.j instead of the ON clause's s.k — must fail loudly
      val e = intercept[Exception](spark.sql(
        s"""MERGE INTO graft.`$dir` t USING dml_key_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET k = s.j, nm = s.nm, bal = s.bal
           |WHEN NOT MATCHED THEN INSERT (k, nm, bal) VALUES (s.j, s.nm, s.bal)
           |""".stripMargin))
      assert(e.getMessage.contains("key column"), e.getMessage)
    }
  }

  test("SQL MERGE fails loudly on duplicate source keys instead of inserting both") {
    val dir = seedTable("mrgdup")
    import spark.implicits._
    Seq((7L, "a", 1L), (7L, "b", 2L), (300L, "c", 3L))
      .toDF("k", "nm", "bal").createOrReplaceTempView("dml_dup_src")
    withGraftCatalog {
      val e = intercept[Exception](spark.sql(
        s"""MERGE INTO graft.`$dir` t USING dml_dup_src s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET k = s.k, nm = s.nm, bal = s.bal
           |WHEN NOT MATCHED THEN INSERT (k, nm, bal) VALUES (s.k, s.nm, s.bal)
           |""".stripMargin).collect())
      assert(e.getMessage.contains("duplicate keys"), e.getMessage)
      // nothing committed: the table is still at its seed version
      assert(graft.sources.TimeTravel.versions(spark, dir) == Seq(1L))
    }
  }

  test("replaceWhere: scoped SQL overwrite ≡ library form, untouched files byte-identical") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dirSql = seedTable("rwsql")
    val dirLib = seedTable("rwlib")
    val repl = (1L to 10L).map(i => (i, s"fresh_$i", i * 1000)).toDF("k", "nm", "bal")
    repl.createOrReplaceTempView("dml_rw_src")
    // fingerprint the seed data files before the scoped overwrite
    val Array(seedDir) = new java.io.File(s"$dirSql/data").listFiles()
      .filter(_.getName.startsWith("v00001-")).map(_.getPath)
    val seedFiles = spark.read.parquet(seedDir)
      .inputFiles.sorted.toSeq
    val seedBytes = seedFiles.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(f))))
    withGraftCatalog {
      val v = spark.sql(
        s"INSERT INTO graft.`$dirSql` REPLACE WHERE k <= 10 SELECT * FROM dml_rw_src")
        .collect().head.getLong(0)
      assert(v == 2L)
    }
    TimeTravel.replaceWhere(spark, dirLib, col("k") <= 10, repl)
    val got = TimeTravel.read(spark, dirSql).orderBy("k").collect().toSeq
    val want = TimeTravel.read(spark, dirLib).orderBy("k").collect().toSeq
    assert(got == want && got.size == 100)
    assert(got.take(10).forall(_.getString(1).startsWith("fresh_")))
    assert(got.drop(10).forall(_.getString(1).startsWith("name_")))
    // untouched partitions are untouched BYTES: seed files unchanged
    val afterBytes = seedFiles.map(f =>
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(new java.net.URI(f))))
    assert(seedBytes.zip(afterBytes).forall { case (a, b) => a.sameElements(b) })
    // pre-replace snapshot stays readable
    assert(TimeTravel.read(spark, dirSql, Some(1L))
      .filter(col("k") <= 10).collect().forall(_.getString(1).startsWith("name_")))
    // rows outside the predicate fail the commit up front
    val e = intercept[IllegalArgumentException] {
      TimeTravel.replaceWhere(spark, dirLib, col("k") <= 10,
        Seq((99L, "smuggled", 0L)).toDF("k", "nm", "bal"))
    }
    assert(e.getMessage.contains("satisfy the replace condition"))
  }

  // ---- Delta Lake read interop (public _delta_log protocol fixtures)

  private def writeDeltaCommit(dir: String, v: Long, lines: Seq[String]): Unit = {
    val log = new java.io.File(s"$dir/_delta_log")
    log.mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(f"$dir/_delta_log/$v%020d.json"),
      lines.map(sizedAction(dir, _)).mkString("\n") + "\n")
  }

  /** The protocol requires `add.size` to be the ACTUAL byte length and
    * the reader plans splits from it — rewrite the fixture sites'
    * placeholder sizes to the real length of the referenced file. */
  private def sizedAction(dir: String, line: String): String =
    """"path":"([^"]+)"""".r.findFirstMatchIn(line) match {
      case Some(m) if line.contains("\"size\":") =>
        val rel = try new java.net.URI(m.group(1)).getPath match {
          case null => m.group(1)
          case p => p
        } catch { case _: Exception => m.group(1) }
        val f = if (new java.io.File(rel).isAbsolute) new java.io.File(rel)
        else new java.io.File(s"$dir/$rel")
        if (f.isFile)
          line.replaceFirst(""""size":\d+""", s""""size":${f.length}""")
        else line
      case _ => line
    }

  private def metaAction(partitioned: Boolean): String = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val fields = Seq(StructField("id", LongType), StructField("v", LongType)) ++
      (if (partitioned) Seq(StructField("p", StringType)) else Nil)
    val esc = StructType(fields).json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    val parts = if (partitioned) """["p"]""" else "[]"
    s"""{"metaData":{"id":"fixture","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":"$esc","partitionColumns":$parts,"configuration":{}}}"""
  }

  private def writeDeltaPart(dir: String, rel: String, rows: Seq[(Long, Long)]): Unit = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("dpart").toFile.getAbsolutePath
    rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$dir/$rel")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.copy(part.toPath, dst.toPath)
  }

  test("delta read: JSON log replay applies add/remove last-writer-wins") {
    import graft.sources.DeltaRead
    val dir = Files.createTempDirectory("delta_fix").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i * 2)))
    writeDeltaPart(dir, "f2.parquet", (11L to 20L).map(i => (i, i * 2)))
    writeDeltaPart(dir, "f3.parquet", (21L to 30L).map(i => (i, i * 2)))
    writeDeltaCommit(dir, 0,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaAction(partitioned = false),
        """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
        """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeDeltaCommit(dir, 1,
      Seq("""{"remove":{"path":"f2.parquet","deletionTimestamp":2,"dataChange":true}}""",
        """{"add":{"path":"f3.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""",
        """{"commitInfo":{"operation":"WRITE"}}"""))
    val got = DeltaRead.read(spark, dir)
    import spark.implicits._
    assert(got.select("id").as[Long].collect().toSet ==
      ((1L to 10L) ++ (21L to 30L)).toSet,
      "live set = adds minus removes, f2 tombstoned")
  }

  test("delta read: partition values inject from the log as typed columns") {
    import graft.sources.DeltaRead
    val dir = Files.createTempDirectory("delta_part").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "p=a/f1.parquet", (1L to 5L).map(i => (i, i)))
    writeDeltaPart(dir, "p=b/f2.parquet", (6L to 9L).map(i => (i, i)))
    writeDeltaCommit(dir, 0,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaAction(partitioned = true),
        """{"add":{"path":"p=a/f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":1,"dataChange":true}}""",
        """{"add":{"path":"p=b/f2.parquet","partitionValues":{"p":"b"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    import spark.implicits._
    assert(got.columns.toSeq == Seq("id", "v", "p"))
    assert(got.filter(col("p") === "a").select("id").as[Long].collect().toSet
      == (1L to 5L).toSet)
    assert(got.filter(col("p") === "b").count() == 4)
    // the r12 scale rework: the whole snapshot is ONE scan node (not a
    // union of per-partition-tuple scans), and a partition filter
    // prunes FILES at planning time via the log-backed FileIndex
    val filtered = DeltaRead.read(spark, dir).filter(col("p") === "a")
    val scans = filtered.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"one FileSourceScanExec for the snapshot, got:\n${filtered.queryExecution.executedPlan}")
    filtered.collect()
    assert(scans.head.metrics("numFiles").value == 1,
      s"partition filter must prune to the one matching file, " +
        s"scanned ${scans.head.metrics("numFiles").value}")
  }

  test("delta read: add.stats bounds skip files on pushed data filters") {
    import graft.sources.DeltaRead
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_stats").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i)))
    writeDeltaPart(dir, "f2.parquet", (11L to 20L).map(i => (i, i)))
    writeDeltaPart(dir, "f3.parquet", (21L to 30L).map(i => (i, i)))
    def statsStr(lo: Long, hi: Long) =
      (s"""{\\"numRecords\\":10,\\"minValues\\":{\\"id\\":$lo,\\"v\\":$lo},""" +
        s"""\\"maxValues\\":{\\"id\\":$hi,\\"v\\":$hi},""" +
        s"""\\"nullCount\\":{\\"id\\":0,\\"v\\":0}}""")
    def add(name: String, stats: Option[String]) =
      s"""{"add":{"path":"$name","partitionValues":{},"size":1,""" +
        s""""modificationTime":1,"dataChange":true""" +
        stats.map(s => s""","stats":"$s"""").getOrElse("") + "}}"
    writeDeltaCommit(dir, 0,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaAction(partitioned = false),
        add("f1.parquet", Some(statsStr(1, 10))),
        add("f2.parquet", Some(statsStr(11, 20))),
        add("f3.parquet", None))) // statless: must ALWAYS read
    def scanned(f: org.apache.spark.sql.DataFrame): Long = {
      val scans = f.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      f.collect()
      scans.head.metrics("numFiles").value
    }
    // id = 15 can only live in f2's [11,20] — f1 prunes, statless f3 reads
    val eq = DeltaRead.read(spark, dir).filter(col("id") === 15L)
    assert(scanned(eq) == 2, "stats must prune f1; statless f3 always reads")
    assert(eq.select("id").as[Long].collect().toSeq == Seq(15L))
    // range: id > 20 prunes f1 AND f2
    val gt = DeltaRead.read(spark, dir).filter(col("id") > 20L)
    assert(scanned(gt) == 1, "strict bound must prune both statted files")
    assert(gt.count() == 10)
    // boundary: id >= 20 keeps f2 (max == 20)
    assert(scanned(DeltaRead.read(spark, dir).filter(col("id") >= 20L)) == 2)
    // a filter on a column with no usable bounds keeps everything
    assert(scanned(DeltaRead.read(spark, dir)
      .filter(col("id") % 7 === 0)) == 3, "unsupported shapes never prune")
    // correctness: the full set survives the skipping machinery
    assert(DeltaRead.read(spark, dir).count() == 30)
  }

  test("delta export: published adds carry footer stats and the replay skips files") {
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("dexp_stats_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("dexp_stats_tgt").toFile.getAbsolutePath + "/d"
    TimeTravel.commitOverwrite(
      (1L to 10L).map(i => (i, s"n$i")).toDF("k", "nm").coalesce(1), src)
    TimeTravel.commitAppend(
      (11L to 20L).map(i => (i, s"n$i")).toDF("k", "nm").coalesce(1), src)
    TimeTravel.commitAppend(
      (21L to 30L).map(i => (i, s"n$i")).toDF("k", "nm").coalesce(1), src)
    assert(DeltaExport.snapshot(spark, src, tgt) == 3)
    // the published log carries real stats JSON per add
    val log = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgt/_delta_log/" + f"${0L}%020d" + ".json"))
    assert(log.contains("\\\"numRecords\\\":10") &&
      log.contains("\\\"minValues\\\"") && log.contains("\\\"maxValues\\\""),
      s"adds must embed footer stats:\n$log")
    // the independent replay prunes on the pushed filter
    def scanned(f: org.apache.spark.sql.DataFrame): Long = {
      val scans = f.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      f.collect()
      scans.head.metrics("numFiles").value
    }
    val hit = DeltaRead.read(spark, tgt).filter(col("k") === 25L)
    assert(scanned(hit) == 1, "k=25 lives in one file's [21,30] bounds")
    assert(hit.select("nm").as[String].head() == "n25")
    // string bounds prune too
    assert(scanned(DeltaRead.read(spark, tgt)
      .filter(col("nm") === "n15")) < 3, "string bounds must prune")
    assert(DeltaRead.read(spark, tgt).count() == 30)
  }

  test("delta and iceberg exports of a LEGACY-rebased table keep the boundary date row") {
    import graft.sources.{DeltaExport, DeltaRead, IcebergExport, IcebergRead, TimeTravel}
    // dates before 1582 written under Spark's LEGACY calendar rebase: the
    // footer holds hybrid-Julian days, five days off the dates read back,
    // so footer bounds would have the readers skip the file
    val src = Files.createTempDirectory("legacy_src").toFile.getAbsolutePath + "/t"
    withConf("spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY") {
      TimeTravel.commitOverwrite(spark.range(0, 10).select(col("id").as("k"),
        date_add(lit("1000-01-01").cast("date"), col("id").cast("int")).as("d"))
        .coalesce(1), src)
    }
    val delta = Files.createTempDirectory("legacy_delta").toFile.getAbsolutePath + "/d"
    val ice = Files.createTempDirectory("legacy_ice").toFile.getAbsolutePath + "/i"
    assert(DeltaExport.snapshot(spark, src, delta) == 1)
    assert(IcebergExport.snapshot(spark, src, ice) == 1)
    for ((fmt, df) <- Seq("delta" -> DeltaRead.read(spark, delta),
        "iceberg" -> IcebergRead.read(spark, ice))) {
      assert(df.filter(col("d") === lit("1000-01-01").cast("date")).count() == 1, fmt)
      assert(df.filter(col("d") === lit("1000-01-10").cast("date")).count() == 1, fmt)
      assert(df.count() == 10, fmt)
    }
  }

  test("interop timestamp time travel: latest-at-or-before with monotonic and ICT rules") {
    import graft.sources.{DeltaRead, IcebergRead}
    import spark.implicits._
    // ---- Delta: commit-file modification times, canonicalized monotonic
    val dir = Files.createTempDirectory("delta_ts").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i)))
    writeDeltaPart(dir, "f2.parquet", (11L to 20L).map(i => (i, i)))
    writeDeltaPart(dir, "f3.parquet", (21L to 30L).map(i => (i, i)))
    def add(name: String) =
      s"""{"add":{"path":"$name","partitionValues":{},"size":1,""" +
        """"modificationTime":1,"dataChange":true}}"""
    writeDeltaCommit(dir, 0,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaAction(partitioned = false), add("f1.parquet")))
    writeDeltaCommit(dir, 1, Seq(add("f2.parquet")))
    // v2 carries an IN-COMMIT timestamp (first action), overriding mtime
    writeDeltaCommit(dir, 2,
      Seq("""{"commitInfo":{"inCommitTimestamp":5000}}""", add("f3.parquet")))
    def cj(v: Long) = new java.io.File(s"$dir/_delta_log/" + f"$v%020d" + ".json")
    assert(cj(0).setLastModified(2000))
    assert(cj(1).setLastModified(1000)) // REGRESSED mtime → canonicalizes to 2000
    assert(cj(2).setLastModified(9999999)) // ignored: ICT wins
    assert(intercept[IllegalArgumentException](
      DeltaRead.versionAtTimestamp(spark, dir, 1999)).getMessage
      .contains("predates"), "pre-first-commit timestamps are unresolvable")
    assert(DeltaRead.versionAtTimestamp(spark, dir, 2000) == 1,
      "v1's regressed mtime canonicalizes up to v0's 2000 — both qualify, latest wins")
    assert(DeltaRead.versionAtTimestamp(spark, dir, 4999) == 1)
    assert(DeltaRead.versionAtTimestamp(spark, dir, 5000) == 2, "ICT wins over mtime")
    assert(DeltaRead.readAsOfTimestamp(spark, dir, 4999).count() == 20)
    assert(DeltaRead.readAsOfTimestamp(spark, dir, 5000).count() == 30)
    // ---- Iceberg: the metadata snapshot-log
    val idir = Files.createTempDirectory("iceberg_ts").toFile.getAbsolutePath + "/t"
    val fields = Seq((1, "id", true, "long"), (2, "v", false, "long"),
      (3, "band", false, "string"))
    val if1 = writeIcebergPart(idir, "f1.parquet", (1L to 10L).map(i => (i, i, "a")))
    val if2 = writeIcebergPart(idir, "f2.parquet", (11L to 15L).map(i => (i, i, "b")))
    val m1 = icebergManifest(idir, "m1.avro", Seq((1, if1, 0)))
    val m2 = icebergManifest(idir, "m2.avro", Seq((1, if2, 0)))
    val ml1 = icebergManifestList(idir, "snap-1.avro", Seq(m1))
    val ml2 = icebergManifestList(idir, "snap-2.avro", Seq(m1, m2))
    IcebergRead.Fixture.metadataMulti(idir, 1, 2, 200L,
      Seq((100L, ml1), (200L, ml2)), fields,
      timestamps = Map(100L -> 1000L, 200L -> 2000L))
    assert(IcebergRead.snapshotAtTimestamp(spark, idir, 1500L) == 100L)
    assert(IcebergRead.snapshotAtTimestamp(spark, idir, 2000L) == 200L)
    assert(IcebergRead.readAsOfTimestamp(spark, idir, 1500L).count() == 10)
    assert(IcebergRead.readAsOfTimestamp(spark, idir, 9999L).count() == 15)
    val e = intercept[IllegalArgumentException](
      IcebergRead.snapshotAtTimestamp(spark, idir, 999L))
    assert(e.getMessage.contains("predates"), e.getMessage)
  }

  test("delta read: stats null counts, Or-composition, and cast shapes gate skipping") {
    import graft.sources.DeltaRead
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val dir = Files.createTempDirectory("delta_nullstats").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    val schema = StructType(Seq(StructField("id", LongType, nullable = true),
      StructField("v", LongType, nullable = false)))
    def writeRows(rel: String, rows: Seq[Row]): Unit = {
      val tmp = Files.createTempDirectory("dn_stage").toFile.getAbsolutePath
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(s"$dir/$rel").toPath): Unit
    }
    writeRows("f1.parquet",
      (1L to 10L).map(i => Row(java.lang.Long.valueOf(i), java.lang.Long.valueOf(i))))
    writeRows("f2.parquet",
      (1L to 5L).map(i => Row(null, java.lang.Long.valueOf(i * 100))))
    val s1 = """{\"numRecords\":10,\"minValues\":{\"id\":1},""" +
      """\"maxValues\":{\"id\":10},\"nullCount\":{\"id\":0}}"""
    val s2 = """{\"numRecords\":5,\"minValues\":{},\"maxValues\":{},""" +
      """\"nullCount\":{\"id\":5}}"""
    def add(name: String, stats: String) =
      s"""{"add":{"path":"$name","partitionValues":{},"size":1,""" +
        s""""modificationTime":1,"dataChange":true,"stats":"$stats"}}"""
    writeDeltaCommit(dir, 0,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaAction(partitioned = false),
        add("f1.parquet", s1), add("f2.parquet", s2)))
    def scanned(f: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val scans = f.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      val n = f.collect().length.toLong // same execution as the metric
      (scans.head.metrics("numFiles").value, n)
    }
    // IsNull: the zero-null-count file prunes
    assert(scanned(DeltaRead.read(spark, dir).filter(col("id").isNull)) == (1L, 5L))
    // IsNotNull: the all-null file prunes (nullCount == numRecords)
    assert(scanned(DeltaRead.read(spark, dir).filter(col("id").isNotNull)) == (1L, 10L))
    // an equality Or: f1 kept (5 in bounds); f2 kept CONSERVATIVELY —
    // its min/max are absent and no not-null constraint pushes through
    // a disjunction, so the boundless file reads
    assert(scanned(DeltaRead.read(spark, dir)
      .filter(col("id") === 5L || col("id") === 15L)) == (2L, 1L))
    // an unsupported shape (abs) never prunes by bounds: f1 is kept and
    // scanned even though no |id| = 55 row can exist in [1,10] — the
    // conservative contract; f2 still prunes via the inferred not-null
    assert(scanned(DeltaRead.read(spark, dir)
      .filter(abs(col("id")) === 55L)) == (1L, 0L))
    // out-of-range equality prunes f1 by bounds; f2 prunes via not-null
    assert(scanned(DeltaRead.read(spark, dir).filter(col("id") === 15L)) == (0L, 0L))
  }

  test("delta read: checkpoint replay + later commits, and loud feature declines") {
    import graft.sources.DeltaRead
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_cp").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i)))
    writeDeltaPart(dir, "f2.parquet", (11L to 15L).map(i => (i, i)))
    // classic single-part checkpoint at v1: live adds + metaData + protocol
    val schemaString = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))).json
    val cp = Seq(
      (Some(("f1.parquet", Map.empty[String, String])), None: Option[Int],
        None: Option[(String, Seq[String])]),
      (None, Some(1), None),
      (None, None, Some((schemaString, Seq.empty[String]))))
      .toDF("addRaw", "protoRaw", "metaRaw")
      .selectExpr(
        "named_struct('path', addRaw._1, 'partitionValues', addRaw._2) AS add",
        "named_struct('minReaderVersion', protoRaw) AS protocol",
        "named_struct('schemaString', metaRaw._1, 'partitionColumns', metaRaw._2) AS metaData")
    cp.coalesce(1).write.mode("overwrite")
      .parquet(Files.createTempDirectory("cpout").toFile.getAbsolutePath)
    // rewrite as the exact checkpoint file name
    val tmp = Files.createTempDirectory("cpstage").toFile.getAbsolutePath
    cp.coalesce(1).write.mode("overwrite").parquet(tmp)
    val partFile = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    new java.io.File(s"$dir/_delta_log").mkdirs()
    java.nio.file.Files.copy(partFile.toPath,
      java.nio.file.Paths.get(s"$dir/_delta_log/" + f"${1L}%020d" + ".checkpoint.parquet"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_delta_log/_last_checkpoint"),
      """{"version":1,"size":3}""")
    // a post-checkpoint JSON commit adds f2
    writeDeltaCommit(dir, 2,
      Seq("""{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":3,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.select("id").as[Long].collect().toSet == (1L to 15L).toSet,
      "checkpoint state + post-checkpoint commit compose")

    // declines: a FUTURE reader version this replay can't honor
    val dir2 = Files.createTempDirectory("delta_decl").toFile.getAbsolutePath + "/t"
    new java.io.File(dir2).mkdirs()
    writeDeltaPart(dir2, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dir2, 0,
      Seq("""{"protocol":{"minReaderVersion":4,"minWriterVersion":8}}""",
        metaAction(partitioned = false),
        """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e1 = intercept[UnsupportedOperationException](DeltaRead.read(spark, dir2))
    assert(e1.getMessage.contains("minReaderVersion"), e1.getMessage)
    // reader version 3 gates on FEATURES: deletionVectors/columnMapping/
    // v2Checkpoint/timestampNtz/variantType are served (timestampNtz
    // since r14), anything beyond declines by name
    val dir3 = Files.createTempDirectory("delta_feat").toFile.getAbsolutePath + "/t"
    new java.io.File(dir3).mkdirs()
    writeDeltaPart(dir3, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dir3, 0,
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","timestampNtz"]}}""",
        metaAction(partitioned = false),
        """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaRead.read(spark, dir3).count() == 1,
      "deletionVectors+timestampNtz protocols read since r14")
    val dir4 = Files.createTempDirectory("delta_feat2").toFile.getAbsolutePath + "/t"
    new java.io.File(dir4).mkdirs()
    writeDeltaPart(dir4, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dir4, 0,
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","unknownFutureFeature"]}}""",
        metaAction(partitioned = false),
        """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e2 = intercept[UnsupportedOperationException](DeltaRead.read(spark, dir4))
    assert(e2.getMessage.contains("unknownFutureFeature"), e2.getMessage)
  }

  test("delta read: V2 checkpoints — UUID-named top level, sidecar file actions, json variant") {
    import graft.sources.DeltaRead
    import spark.implicits._
    val schemaString = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))).json
    def stage(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val tmp = Files.createTempDirectory("cpv2").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      new java.io.File(dest).getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dest))
    }
    def sidecarDf(addPaths: Seq[String]) =
      addPaths.map(p => Some((p, Map.empty[String, String])))
        .toDF("addRaw")
        .selectExpr("named_struct('path', addRaw._1, 'partitionValues', addRaw._2) AS add")

    // ---- parquet top-level: checkpointMetadata + sidecar + non-file actions
    val dir = Files.createTempDirectory("delta_v2cp").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i)))
    writeDeltaPart(dir, "f2.parquet", (11L to 15L).map(i => (i, i)))
    writeDeltaPart(dir, "f3.parquet", (16L to 20L).map(i => (i, i)))
    stage(sidecarDf(Seq("f1.parquet")), s"$dir/_delta_log/_sidecars/sc-aa.parquet")
    stage(sidecarDf(Seq("f2.parquet")), s"$dir/_delta_log/_sidecars/sc-bb.parquet")
    val top = Seq(
      (Some(1L), None: Option[String], None: Option[Int],
        None: Option[(String, Seq[String])]),
      (None, Some("sc-aa.parquet"), None, None),
      (None, Some("sc-bb.parquet"), None, None),
      (None, None, Some(3), None),
      (None, None, None, Some((schemaString, Seq.empty[String]))))
      .toDF("cmRaw", "scRaw", "protoRaw", "metaRaw")
      .selectExpr(
        "named_struct('version', cmRaw) AS checkpointMetadata",
        "named_struct('path', scRaw) AS sidecar",
        "named_struct('minReaderVersion', protoRaw, 'readerFeatures', " +
          "CASE WHEN protoRaw IS NOT NULL THEN array('v2Checkpoint') END) AS protocol",
        "named_struct('schemaString', metaRaw._1, 'partitionColumns', metaRaw._2) AS metaData")
    stage(top, s"$dir/_delta_log/" + f"${1L}%020d" +
      ".checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_delta_log/_last_checkpoint"),
      """{"version":1,"size":5}""")
    // a post-checkpoint JSON commit composes on top, as with classic
    writeDeltaCommit(dir, 2,
      Seq("""{"add":{"path":"f3.parquet","partitionValues":{},"size":1,"modificationTime":3,"dataChange":true}}"""))
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet
      == (1L to 20L).toSet,
      "sidecar adds + post-checkpoint commit must compose")

    // ---- json top-level variant of the same table shape
    val dirJ = Files.createTempDirectory("delta_v2cpj").toFile.getAbsolutePath + "/t"
    new java.io.File(dirJ).mkdirs()
    writeDeltaPart(dirJ, "f1.parquet", (1L to 6L).map(i => (i, i)))
    stage(sidecarDf(Seq("f1.parquet")), s"$dirJ/_delta_log/_sidecars/sc-cc.parquet")
    val esc = schemaString.replace("\\", "\\\\").replace("\"", "\\\"")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dirJ/_delta_log/" + f"${0L}%020d" +
        ".checkpoint.58d99c89-7f00-4722-87b1-3b02575f1b54.json"),
      Seq("""{"checkpointMetadata":{"version":0}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["v2Checkpoint"]}}""",
        s"""{"metaData":{"id":"v2j","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{}}}""",
        """{"sidecar":{"path":"sc-cc.parquet","sizeInBytes":1,"modificationTime":1}}""")
        .mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dirJ/_delta_log/_last_checkpoint"),
      """{"version":0,"size":4}""")
    assert(DeltaRead.read(spark, dirJ).select("id").as[Long].collect().toSet
      == (1L to 6L).toSet, "json-format v2 checkpoint must replay")

    // ---- a misnamed checkpoint (declared version ≠ file version) dies loudly
    val dirX = Files.createTempDirectory("delta_v2cpx").toFile.getAbsolutePath + "/t"
    new java.io.File(dirX).mkdirs()
    writeDeltaPart(dirX, "f1.parquet", Seq((1L, 1L)))
    new java.io.File(s"$dirX/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dirX/_delta_log/" + f"${3L}%020d" +
        ".checkpoint.9a31bd34-9b29-4b0e-8b97-0a1e1f9d8a77.json"),
      """{"checkpointMetadata":{"version":2}}""" + "\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dirX/_delta_log/_last_checkpoint"),
      """{"version":3,"size":1}""")
    val eX = intercept[IllegalStateException](DeltaRead.read(spark, dirX))
    assert(eX.getMessage.contains("checkpointMetadata.version"), eX.getMessage)
  }

  test("delta read: V2 checkpoint sidecar adds carry deletion vectors") {
    import graft.sources.{DeltaDv, DeltaRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_v2dv").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    // one file globally sorted 1..10 → position p holds id p+1
    val tmp = Files.createTempDirectory("v2dv_stage").toFile.getAbsolutePath
    (1L to 10L).map(i => (i, i)).toDF("id", "v").repartition(1)
      .sortWithinPartitions("id").write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/f1.parquet"))
    val uuid = java.util.UUID.fromString("00000000-0000-4000-8000-0000000000ee")
    val dv = DeltaDv.writeDvFile(spark, dir, uuid, Seq(1L, 3L)) // kills ids 2, 4
    def stage(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val t2 = Files.createTempDirectory("v2dv_cp").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(t2)
      val p = new java.io.File(t2).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      new java.io.File(dest).getParentFile.mkdirs()
      java.nio.file.Files.copy(p.toPath, java.nio.file.Paths.get(dest))
      ()
    }
    stage(Seq((("f1.parquet", Map.empty[String, String]),
      (dv.storageType, dv.pathOrInlineDv, dv.offset.get, dv.sizeInBytes, dv.cardinality)))
      .toDF("addRaw", "dvRaw")
      .selectExpr("named_struct('path', addRaw._1, 'partitionValues', addRaw._2, " +
        "'deletionVector', named_struct('storageType', dvRaw._1, " +
        "'pathOrInlineDv', dvRaw._2, 'offset', dvRaw._3, 'sizeInBytes', dvRaw._4, " +
        "'cardinality', dvRaw._5)) AS add"),
      s"$dir/_delta_log/_sidecars/sc-dv.parquet")
    val schemaString = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))).json
    val top = Seq(
      (Some(0L), None: Option[String], None: Option[Int],
        None: Option[(String, Seq[String])]),
      (None, Some("sc-dv.parquet"), None, None),
      (None, None, Some(3), None),
      (None, None, None, Some((schemaString, Seq.empty[String]))))
      .toDF("cmRaw", "scRaw", "protoRaw", "metaRaw")
      .selectExpr(
        "named_struct('version', cmRaw) AS checkpointMetadata",
        "named_struct('path', scRaw) AS sidecar",
        "named_struct('minReaderVersion', protoRaw, 'readerFeatures', " +
          "CASE WHEN protoRaw IS NOT NULL THEN array('v2Checkpoint', 'deletionVectors') END) AS protocol",
        "named_struct('schemaString', metaRaw._1, 'partitionColumns', metaRaw._2) AS metaData")
    stage(top, s"$dir/_delta_log/" + f"${0L}%020d" +
      ".checkpoint.6f1e2d3c-4b5a-4978-8c6d-5e4f3a2b1c0d.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_delta_log/_last_checkpoint"),
      """{"version":0,"size":4}""")
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet
      == (1L to 10L).toSet -- Set(2L, 4L),
      "a DV descriptor riding a sidecar add must apply merge-on-read")
  }

  test("delta read: id-mode column mapping resolves by parquet field id, not name") {
    import graft.sources.DeltaRead
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_idm").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def idMeta(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    // two files, same field ids 1/2, DIFFERENT arbitrary column names —
    // a name- or physicalName-based reader cannot resolve both
    def stage(names: (String, String), rows: Seq[(Long, Long)], dest: String): Unit = {
      val df = rows.toDF("a", "b").select(
        col("a").as(names._1, idMeta(1)), col("b").as(names._2, idMeta(2)))
      val tmp = Files.createTempDirectory("idm_stage").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/$dest"))
      ()
    }
    stage(("zz_a", "zz_b"), (1L to 8L).map(i => (i, i * 10)), "fA.parquet")
    stage(("yy_a", "yy_b"), (9L to 16L).map(i => (i, i * 10)), "fB.parquet")
    def fmeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    // a third mapped column no file carries: id-mode schema evolution →
    // it must read as null, never bind to a wrong name
    val esc = StructType(Seq(
      StructField("id", LongType, nullable = true, fmeta(1, "col-1")),
      StructField("cents", LongType, nullable = true, fmeta(2, "col-2")),
      StructField("later", LongType, nullable = true, fmeta(3, "col-3")))).json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"idmfix","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"}}}""",
      """{"add":{"path":"fA.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"fB.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "cents", "later"))
    val rows = got.collect()
    assert(rows.map(_.getLong(0)).toSet == (1L to 16L).toSet,
      "both files must resolve by field id despite disjoint column names")
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 10))
    assert(rows.forall(_.isNullAt(2)), "an id absent from every footer reads null")
    // a field WITHOUT an id in id mode dies loudly (silent name
    // fallback is the mis-read the mode exists to prevent)
    val escBad = StructType(Seq(
      StructField("id", LongType, nullable = true, fmeta(1, "col-1")),
      StructField("noid", LongType))).json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    val dir2 = Files.createTempDirectory("delta_idm2").toFile.getAbsolutePath + "/t"
    new java.io.File(dir2).mkdirs()
    writeDeltaPart(dir2, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dir2, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"idmbad","format":{"provider":"parquet","options":{}},"schemaString":"$escBad","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e = intercept[IllegalStateException](DeltaRead.read(spark, dir2))
    assert(e.getMessage.contains("delta.columnMapping.id"), e.getMessage)
  }

  test("delta DV codec: z85 and RoaringBitmapArray round-trip the protocol format") {
    import graft.sources.DeltaDv
    // z85 reference vector from the ZeroMQ spec: "HelloWorld" encodes
    // the 8 bytes 86 4F D2 6F B5 59 F7 5B
    val hw = Array(0x86, 0x4f, 0xd2, 0x6f, 0xb5, 0x59, 0xf7, 0x5b).map(_.toByte)
    assert(DeltaDv.z85Encode(hw) == "HelloWorld")
    assert(DeltaDv.z85Decode("HelloWorld").toSeq == hw.toSeq)
    // bitmap positions spanning multiple 32-bit keys round-trip sorted
    val ps = Seq(0L, 1L, 7L, 100000L, (1L << 32) + 3L, (5L << 32) + 123456L)
    assert(DeltaDv.deserialize(DeltaDv.serialize(ps)).toSeq == ps.sorted)
    assert(DeltaDv.deserialize(DeltaDv.serialize(Nil)).isEmpty)
  }

  test("delta read: deletion vectors apply merge-on-read (file, inline, CRC gate)") {
    import graft.sources.{DeltaDv, DeltaRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_dvr").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    // f1 rows at positions 0..9 hold ids 1..10 (single sorted part file)
    writeDeltaPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i * 2)))
    writeDeltaPart(dir, "f2.parquet", (11L to 15L).map(i => (i, i * 2)))
    // on-file DV for f1 deleting positions 0, 3, 9 → ids 1, 4, 10
    val uuid = java.util.UUID.fromString("12345678-1234-5678-1234-567812345678")
    val d = DeltaDv.writeDvFile(spark, dir, uuid, Seq(0L, 3L, 9L))
    val dvJson =
      s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
        s""""offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    // inline DV for f2 deleting position 1 → id 12
    val inline = DeltaDv.serialize(Seq(1L))
    val inlineJson =
      s"""{"storageType":"i","pathOrInlineDv":"${DeltaDv.z85Encode(inline)}",""" +
        s""""sizeInBytes":${inline.length},"cardinality":1}"""
    writeDeltaCommit(dir, 0,
      Seq("""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
        metaAction(partitioned = false),
        s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$dvJson}}""",
        s"""{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$inlineJson}}"""))
    val got = DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet
    assert(got == ((1L to 15L).toSet -- Set(1L, 4L, 10L, 12L)),
      s"DV'd positions must vanish from the scan, got $got")
    // 'p' storage: the same file addressed by ABSOLUTE path decodes
    // to the same positions
    val pDesc = graft.sources.DeltaDv.Descriptor("p",
      s"$dir/deletion_vector_$uuid.bin", d.offset, d.sizeInBytes, d.cardinality)
    assert(graft.sources.DeltaDv.positions(spark, dir, pDesc).toSeq ==
      Seq(0L, 3L, 9L))
    // corrupt the DV body → the CRC gate must fire, not a silent misread
    val dvFile = new java.io.File(s"$dir/deletion_vector_$uuid.bin")
    val bytes = java.nio.file.Files.readAllBytes(dvFile.toPath)
    bytes(7) = (bytes(7) ^ 0x55).toByte
    java.nio.file.Files.write(dvFile.toPath, bytes)
    val e = intercept[Exception](DeltaRead.read(spark, dir).collect())
    // two loud layers can fire first: our CRC-32 gate, or Hadoop's own
    // .crc sidecar on the local filesystem — either way never a misread
    assert(e.getMessage != null && (e.getMessage.contains("CRC") ||
      e.getMessage.contains("magic") || e.getMessage.contains("Checksum")),
      e.getMessage)
  }

  test("delta read: percent-encoded paths decode (spaces in partition dirs)") {
    import graft.sources.DeltaRead
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_enc").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "p=a b/f1.parquet", (1L to 5L).map(i => (i, i)))
    writeDeltaCommit(dir, 0,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaAction(partitioned = true),
        """{"add":{"path":"p=a%20b/f1.parquet","partitionValues":{"p":"a b"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.filter(col("p") === "a b").select("id").as[Long].collect().toSet
      == (1L to 5L).toSet, "encoded add.path must resolve to the on-disk file")
  }

  test("delta read: column mapping (name mode) — physical files, logical schema, mapped partitions") {
    import graft.sources.{DeltaDv, DeltaRead}
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_cm").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def meta(physName: String, id: Int) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", physName)
      .putLong("delta.columnMapping.id", id.toLong).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-aaa", 1)),
      StructField("v", LongType, nullable = true, meta("col-bbb", 2)),
      StructField("p", StringType, nullable = true, meta("col-ppp", 3))))
    val esc = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    // data files carry the PHYSICAL names
    def part(rel: String, rows: Seq[(Long, Long)]): Unit = {
      val tmp = Files.createTempDirectory("cmpart").toFile.getAbsolutePath
      rows.toDF("col-aaa", "col-bbb").coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$rel")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(f.toPath, dst.toPath)
    }
    part("f1.parquet", (1L to 10L).map(i => (i, i * 2)))
    part("f2.parquet", (11L to 15L).map(i => (i, i * 2)))
    val metaAct =
      s"""{"metaData":{"id":"cm","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$esc","partitionColumns":["p"],""" +
        """"configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"3"}}}"""
    // DV on f1 (positions 0 and 2 → ids 1, 3) proves mapping×DV compose
    val uuid = java.util.UUID.fromString("00000000-0000-4000-8000-0000000000cm".replace("cm", "c1"))
    val d = DeltaDv.writeDvFile(spark, dir, uuid, Seq(0L, 2L))
    val dvJson =
      s"""{"storageType":"u","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset.get},""" +
        s""""sizeInBytes":${d.sizeInBytes},"cardinality":2}"""
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping","deletionVectors"]}}""",
      metaAct,
      // partitionValues keyed by the PHYSICAL partition-column name
      s"""{"add":{"path":"f1.parquet","partitionValues":{"col-ppp":"x"},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$dvJson}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{"col-ppp":"y"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "v", "p"), "logical names served")
    assert(got.select("id").as[Long].collect().toSet ==
      ((1L to 15L).toSet -- Set(1L, 3L)), "mapping × DV compose")
    assert(got.filter(col("p") === "x").count() == 8 &&
      got.filter(col("p") === "y").count() == 5,
      "partition values resolve through the physical key")
    // minReaderVersion 2 (legacy column-mapping gate) also serves
    val dir2 = Files.createTempDirectory("delta_cm2").toFile.getAbsolutePath + "/t"
    new java.io.File(dir2).mkdirs()
    val logical2 = StructType(Seq(
      StructField("id", LongType, nullable = true, meta("col-aaa", 1)),
      StructField("v", LongType, nullable = true, meta("col-bbb", 2))))
    val esc2 = logical2.json.replace("\\", "\\\\").replace("\"", "\\\"")
    val tmp2 = Files.createTempDirectory("cmpart2").toFile.getAbsolutePath
    Seq((1L, 2L), (2L, 4L)).toDF("col-aaa", "col-bbb")
      .coalesce(1).write.mode("overwrite").parquet(tmp2)
    val pf2 = new java.io.File(tmp2).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(pf2.toPath, java.nio.file.Paths.get(s"$dir2/f1.parquet"))
    writeDeltaCommit(dir2, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm2","format":{"provider":"parquet","options":{}},"schemaString":"$esc2","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    assert(DeltaRead.read(spark, dir2).select("v").as[Long].collect().toSet
      == Set(2L, 4L))
    // id mode over files WITHOUT parquet field ids dies loudly — the
    // footer can't be id-resolved and all-null would be a silent misread
    val dir3 = Files.createTempDirectory("delta_cm3").toFile.getAbsolutePath + "/t"
    new java.io.File(dir3).mkdirs()
    java.nio.file.Files.copy(pf2.toPath, java.nio.file.Paths.get(s"$dir3/f1.parquet"))
    writeDeltaCommit(dir3, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cm3","format":{"provider":"parquet","options":{}},"schemaString":"$esc2","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e = intercept[IllegalStateException](DeltaRead.read(spark, dir3))
    assert(e.getMessage.contains("no parquet field ids"), e.getMessage)
  }

  test("delta read: name-mode mapping serves NESTED complex columns (struct, array<struct>)") {
    // the common Databricks shape (r12 'what's missing' #1): nested
    // struct fields carry their own physicalName metadata; the scan
    // pins the physical nested shape and casts back to the logical
    // type, restoring nested names by position
    import graft.sources.DeltaRead
    import org.apache.spark.sql.types.{ArrayType, LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_cmn").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def pn(phys: String) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys).build()
    val innerS = StructType(Seq(
      StructField("a", LongType, nullable = true, pn("p-a")),
      StructField("b", LongType, nullable = true, pn("p-b"))))
    val innerE = StructType(Seq(
      StructField("x", LongType, nullable = true, pn("p-x"))))
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, pn("col-0")),
      StructField("s", innerS, nullable = true, pn("col-s")),
      StructField("arr", ArrayType(innerE), nullable = true, pn("col-arr"))))
    val esc = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    // the data file carries the PHYSICAL names at every nesting level
    val tmp = Files.createTempDirectory("cmn_stage").toFile.getAbsolutePath
    (1L to 5L).toDF("i").select(
      col("i").as("col-0"),
      struct(col("i").as("p-a"), (col("i") * 2).as("p-b")).as("col-s"),
      array(struct((col("i") * 3).as("p-x"))).as("col-arr"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val pf = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(pf.toPath, java.nio.file.Paths.get(s"$dir/f1.parquet"))
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cmn","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "s", "arr"))
    assert(got.schema("s").dataType.asInstanceOf[StructType].fieldNames.toSeq
      == Seq("a", "b"), "nested struct fields serve LOGICAL names")
    assert(got.schema("arr").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType].fieldNames.toSeq == Seq("x"),
      "array element struct fields serve LOGICAL names")
    val rows = got.selectExpr("id", "s.a", "s.b", "arr[0].x")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rows == (1L to 5L).map(i => (i, i, i * 2, i * 3)).toSet,
      s"nested values must resolve through the physical names: $rows")
    // id mode + nested complex now SERVES (r13, engine-native field-id
    // match) — but a schema whose nested fields carry no
    // delta.columnMapping.id is still loud: this fixture's schema has
    // physicalName metadata only, so id mode over it cannot resolve
    val dirId = Files.createTempDirectory("delta_cmn_id").toFile.getAbsolutePath + "/t"
    new java.io.File(dirId).mkdirs()
    java.nio.file.Files.copy(pf.toPath, java.nio.file.Paths.get(s"$dirId/f1.parquet"))
    writeDeltaCommit(dirId, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cmnid","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e2 = intercept[IllegalStateException](DeltaRead.read(spark, dirId))
    assert(e2.getMessage.contains("delta.columnMapping.id"), e2.getMessage)
  }

  test("delta read: id-mode mapping serves NESTED complex columns by field id") {
    // the last id-mode decline closed (r13): nested struct fields
    // resolve by parquet field id through the engine-native matcher —
    // two files with DISJOINT arbitrary names at every nesting level
    // must both bind by id, and a mapped column absent from a footer
    // reads null (schema evolution)
    import graft.sources.DeltaRead
    import org.apache.spark.sql.types.{ArrayType, LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_idmn").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def idm(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    // stage one data file with the given arbitrary names, ids fixed:
    // top: 1=id, 2=s(struct{3=a,4=b}), 5=arr(array<struct{6=x}>)
    def stage(n: Map[Int, String], rows: Seq[Long], dest: String): Unit = {
      val writeSchema = StructType(Seq(
        StructField(n(1), LongType, nullable = true, idm(1)),
        StructField(n(2), StructType(Seq(
          StructField(n(3), LongType, nullable = true, idm(3)),
          StructField(n(4), LongType, nullable = true, idm(4)))),
          nullable = true, idm(2)),
        StructField(n(5), ArrayType(StructType(Seq(
          StructField(n(6), LongType, nullable = true, idm(6))))),
          nullable = true, idm(5))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(i =>
          org.apache.spark.sql.Row(i, org.apache.spark.sql.Row(i, i * 2),
            Seq(org.apache.spark.sql.Row(i * 3))))),
        writeSchema)
      val tmp = Files.createTempDirectory("idmn_stage").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/$dest"))
      ()
    }
    stage(Map(1 -> "zz1", 2 -> "zz2", 3 -> "zz3", 4 -> "zz4", 5 -> "zz5", 6 -> "zz6"),
      1L to 4L, "fA.parquet")
    stage(Map(1 -> "q1", 2 -> "q2", 3 -> "q3", 4 -> "q4", 5 -> "q5", 6 -> "q6"),
      5L to 8L, "fB.parquet")
    def cm(id: Long) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", s"col-$id").build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, cm(1)),
      StructField("s", StructType(Seq(
        StructField("a", LongType, nullable = true, cm(3)),
        StructField("b", LongType, nullable = true, cm(4)))),
        nullable = true, cm(2)),
      StructField("arr", ArrayType(StructType(Seq(
        StructField("x", LongType, nullable = true, cm(6))))),
        nullable = true, cm(5)),
      // id absent from every footer: schema evolution → nulls
      StructField("later", LongType, nullable = true, cm(9))))
    val esc = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"idmn","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"9"}}}""",
      """{"add":{"path":"fA.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"fB.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "s", "arr", "later"))
    assert(got.schema("s").dataType.asInstanceOf[StructType].fieldNames.toSeq
      == Seq("a", "b"))
    val rows = got.selectExpr("id", "s.a", "s.b", "arr[0].x")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(rows == (1L to 8L).map(i => (i, i, i * 2, i * 3)).toSet,
      s"nested values must bind by field id across disjoint names: $rows")
    assert(got.select("later").collect().forall(_.isNullAt(0)),
      "an id absent from every footer reads null")
    // the id-mode scan must not flip the CALLER's session to id-binding
    // (r13 ADVICE): the conf rides a session clone the relation
    // captures, and a later plain parquet read whose schema carries
    // parquet.field.id metadata keeps NAME semantics here
    assert(!spark.conf.get("spark.sql.parquet.fieldId.read.enabled").toBoolean,
      "an id-mode read must not mutate the shared session")
    val misleading = StructType(Seq(
      StructField("zz1", LongType, nullable = true, idm(4))))
    assert(spark.read.schema(misleading).parquet(s"$dir/fA.parquet")
      .as[Long].collect().toSet == (1L to 4L).toSet,
      "a plain read binds zz1 by NAME (ids 4 would serve i*2)")
  }

  test("delta read: nested id-mode + deletion vectors — MoR anti-join rides the field-id scan") {
    import graft.sources.{DeltaDv, DeltaRead}
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_idmn_dv").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def idm(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    val writeSchema = StructType(Seq(
      StructField("w1", LongType, nullable = true, idm(1)),
      StructField("w2", StructType(Seq(
        StructField("w3", LongType, nullable = true, idm(3)))),
        nullable = true, idm(2))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize((1L to 10L).map(i =>
        org.apache.spark.sql.Row(i, org.apache.spark.sql.Row(i * 7)))),
      writeSchema)
    val tmp = Files.createTempDirectory("idmn_dv_stage").toFile.getAbsolutePath
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/f1.parquet"))
    // tombstone row positions 1 and 4 (ids 2 and 5 in write order)
    val d = DeltaDv.writeDvFile(spark, dir,
      java.util.UUID.nameUUIDFromBytes("idmn-dv".getBytes), Seq(1L, 4L))
    def cm(id: Long) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", s"col-$id").build()
    val esc = StructType(Seq(
      StructField("id", LongType, nullable = true, cm(1)),
      StructField("s", StructType(Seq(
        StructField("x", LongType, nullable = true, cm(3)))),
        nullable = true, cm(2)))).json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    val dvJson = s""","deletionVector":{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}","offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors","columnMapping"],"writerFeatures":["deletionVectors","columnMapping"]}}""",
      s"""{"metaData":{"id":"idmndv","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"3"}}}""",
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true$dvJson}}"""))
    val got = DeltaRead.read(spark, dir).selectExpr("id", "s.x")
      .as[(Long, Long)].collect().toSet
    val expect = (1L to 10L).filterNot(i => i == 2 || i == 5)
      .map(i => (i, i * 7)).toSet
    assert(got == expect,
      s"DV positions must subtract from the field-id scan: $got")
  }

  test("delta read: PARTITIONED nested id-mode table — log values injected, pruning intact") {
    import graft.sources.DeltaRead
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_idmn_pt").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def idm(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    // two partition values, one data file each; partition col `band`
    // lives in the LOG only (physical key col-10), data is nested
    def stage(names: (String, String, String), rows: Seq[Long], dest: String): Unit = {
      val ws = StructType(Seq(
        StructField(names._1, LongType, nullable = true, idm(1)),
        StructField(names._2, StructType(Seq(
          StructField(names._3, LongType, nullable = true, idm(3)))),
          nullable = true, idm(2))))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(i =>
          org.apache.spark.sql.Row(i, org.apache.spark.sql.Row(i * 5)))), ws)
      val tmp = Files.createTempDirectory("idmn_pt_st").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(s"$dir/$dest"))
      ()
    }
    stage(("n1", "n2", "n3"), 1L to 6L, "fA.parquet")
    stage(("m1", "m2", "m3"), 7L to 12L, "fB.parquet")
    def cm(id: Long) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", s"col-$id").build()
    val esc = StructType(Seq(
      StructField("id", LongType, nullable = true, cm(1)),
      StructField("s", StructType(Seq(
        StructField("x", LongType, nullable = true, cm(3)))),
        nullable = true, cm(2)),
      StructField("band", StringType, nullable = true, cm(10)))).json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"idmnpt","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":["band"],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"10"}}}""",
      """{"add":{"path":"fA.parquet","partitionValues":{"col-10":"east"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"fB.parquet","partitionValues":{"col-10":"west"},"size":1,"modificationTime":2,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "s", "band"))
    // log-borne partition values serve under the LOGICAL name
    val all = got.selectExpr("id", "s.x", "band")
      .as[(Long, Long, String)].collect().toSet
    val expect = (1L to 6L).map(i => (i, i * 5, "east")).toSet ++
      (7L to 12L).map(i => (i, i * 5, "west")).toSet
    assert(all == expect, s"partitioned nested-id read diverged: $all")
    // a partition filter PRUNES: only one file becomes a scan task
    // (metrics are read from the SAME executed DataFrame)
    val west = got.filter(col("band") === "west")
    assert(west.collect().map(_.getLong(0)).toSet == (7L to 12L).toSet)
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansIn)
    }
    val scanned = scansIn(west.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value)
    assert(scanned.nonEmpty && scanned.min == 1,
      s"partition pruning must plan exactly one file, got $scanned")
  }

  test("delta read: seeded randomized nested id-mode sweep vs in-memory model") {
    // random nested shapes, random per-file arbitrary names, random id
    // assignments — every file must bind by id alone; absent ids read
    // null (schema evolution), never a wrong column
    import graft.sources.DeltaRead
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    val rnd = new scala.util.Random(131)
    (1 to 5).foreach { iter =>
      val dir = Files.createTempDirectory(s"idmn_sw$iter").toFile.getAbsolutePath + "/t"
      new java.io.File(dir).mkdirs()
      // logical shape: flat long `a`(id 1), struct `s`(id 2) of two
      // longs (ids 3,4), and in some iterations an evolved id 9 no
      // file carries
      val withLater = rnd.nextBoolean()
      def idm(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
      val nFiles = 2 + rnd.nextInt(2)
      var model = Set.empty[(Long, Long, Long)]
      (0 until nFiles).foreach { fi =>
        def nm() = "c" + rnd.alphanumeric.filter(_.isLetter).take(6).mkString
        val lo = iter * 1000L + fi * 100L
        val rows = (lo until lo + 5 + rnd.nextInt(10)).toSeq
        model ++= rows.map(i => (i, i + 1, i * 2))
        val ws = StructType(Seq(
          StructField(nm(), LongType, nullable = true, idm(1)),
          StructField(nm(), StructType(Seq(
            StructField(nm(), LongType, nullable = true, idm(3)),
            StructField(nm(), LongType, nullable = true, idm(4)))),
            nullable = true, idm(2))))
        val df = spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(i =>
            org.apache.spark.sql.Row(i, org.apache.spark.sql.Row(i + 1, i * 2)))),
          ws)
        val tmp = Files.createTempDirectory(s"idmn_sw_st$iter$fi").toFile.getAbsolutePath
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        java.nio.file.Files.copy(part.toPath,
          java.nio.file.Paths.get(s"$dir/f$fi.parquet"))
        ()
      }
      def cm(id: Long) = new MetadataBuilder()
        .putLong("delta.columnMapping.id", id)
        .putString("delta.columnMapping.physicalName", s"col-$id").build()
      val fields = Seq(
        StructField("a", LongType, nullable = true, cm(1)),
        StructField("s", StructType(Seq(
          StructField("p", LongType, nullable = true, cm(3)),
          StructField("q", LongType, nullable = true, cm(4)))),
          nullable = true, cm(2))) ++
        (if (withLater) Seq(StructField("later", LongType, nullable = true, cm(9)))
         else Nil)
      val esc = StructType(fields).json
        .replace("\\", "\\\\").replace("\"", "\\\"")
      writeDeltaCommit(dir, 0,
        Seq("""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
          s"""{"metaData":{"id":"sw$iter","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"9"}}}""") ++
          (0 until nFiles).map(fi =>
            s"""{"add":{"path":"f$fi.parquet","partitionValues":{},"size":1,"modificationTime":$fi,"dataChange":true}}"""))
      val got = DeltaRead.read(spark, dir)
      val triples = got.selectExpr("a", "s.p", "s.q")
        .as[(Long, Long, Long)].collect().toSet
      assert(triples == model, s"iter $iter diverged from the model")
      if (withLater)
        assert(got.select("later").collect().forall(_.isNullAt(0)), s"iter $iter")
    }
  }

  test("SQL CALL procedures: iceberg orphan and metadata sweeps") {
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("callorph_src").toFile.getAbsolutePath
    val itgt = Files.createTempDirectory("callorph").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite(
      (1L to 20L).map(i => (i, i)).toDF("k", "v").coalesce(1), base)
    IcebergExport.snapshot(spark, base, itgt)
    TimeTravel.commitAppend(
      (21L to 25L).map(i => (i, i)).toDF("k", "v").coalesce(1), base)
    IcebergExport.append(spark, base, itgt)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$itgt/metadata/m-stray.avro"), "junk")
    withGraftCatalog {
      val dry = spark.sql(s"CALL graft.iceberg_remove_orphans('$itgt', true)")
        .collect().map(_.getString(0)).toSeq
      assert(dry == Seq("m-stray.avro"))
      assert(new java.io.File(s"$itgt/metadata/m-stray.avro").exists())
      assert(spark.sql(s"CALL graft.iceberg_remove_orphans('$itgt', false)")
        .collect().map(_.getString(0)).toSeq == dry)
      assert(!new java.io.File(s"$itgt/metadata/m-stray.avro").exists())
      assert(spark.sql(s"CALL graft.iceberg_cleanup_metadata('$itgt', 1)")
        .collect().map(_.getString(0)).toSeq == Seq("v1.metadata.json"))
      assert(IcebergRead.read(spark, itgt).count() == 25)
    }
  }

  test("delta changes: CDF under id-mode mapping resolves change files by field id") {
    import graft.sources.DeltaRead
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_cdfid").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def idMeta(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    def fmeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val esc = StructType(Seq(
      StructField("id", LongType, nullable = true, fmeta(1, "col-1")),
      StructField("cents", LongType, nullable = true, fmeta(2, "col-2")))).json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    def stage(df: org.apache.spark.sql.DataFrame, rel: String): Unit = {
      val tmp = Files.createTempDirectory("cdfid_stage").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/$rel")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(f.toPath, dst.toPath): Unit
    }
    // v0 snapshot file: arbitrary names zz_a/zz_b under ids 1/2
    stage((1L to 4L).toDF("i").select(
      col("i").as("zz_a", idMeta(1)), (col("i") * 10).as("zz_b", idMeta(2))),
      "f0.parquet")
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"cdfid","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // v1: a cdc commit whose change file uses DIFFERENT arbitrary names
    // (yy_*) under the same ids, plus the un-mapped _change_type column
    stage(Seq((1L, 10L, "delete"), (5L, 50L, "insert")).toDF("a", "b", "ct")
      .select(col("a").as("yy_a", idMeta(1)), col("b").as("yy_b", idMeta(2)),
        col("ct").as("_change_type")),
      "_change_data/cdc-0.parquet")
    stage(Seq((5L, 50L)).toDF("a", "b").select(
      col("a").as("yy_a", idMeta(1)), col("b").as("yy_b", idMeta(2))),
      "f1.parquet")
    writeDeltaCommit(dir, 1, Seq(
      """{"remove":{"path":"f0.parquet","deletionTimestamp":2,"dataChange":true}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""",
      """{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":1,"dataChange":false}}"""))
    val got = DeltaRead.changes(spark, dir, 0L, 1L)
      .select("id", "cents", "_change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got == Set((1L, 10L, "delete", 1L), (5L, 50L, "insert", 1L)),
      s"change files must resolve data columns by field id: $got")
  }

  test("delta changes: CDF batch face serves cdc files, add-only commits as inserts") {
    import graft.sources.DeltaRead
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_cdf").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 5L).map(i => (i, i * 2)))
    writeDeltaCommit(dir, 0,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
        metaAction(partitioned = false),
        """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    // v1: pure append — CDF reads it as inserts
    writeDeltaPart(dir, "f2.parquet", Seq((6L, 12L)))
    writeDeltaCommit(dir, 1,
      Seq("""{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}"""))
    // v2: an update rewrites f1 → f3 and writes its change data
    writeDeltaPart(dir, "f3.parquet",
      Seq((1L, 2L), (2L, 4L), (3L, 6L), (4L, 8L), (5L, 99L)))
    Seq((5L, 10L, "update_preimage"), (5L, 99L, "update_postimage"))
      .toDF("id", "v", "_change_type").coalesce(1)
      .write.mode("overwrite").parquet(s"${dir}_cdcstage")
    val cdcPart = new java.io.File(s"${dir}_cdcstage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    new java.io.File(s"$dir/_change_data").mkdirs()
    java.nio.file.Files.copy(cdcPart.toPath,
      java.nio.file.Paths.get(s"$dir/_change_data/cdc-0.parquet"))
    writeDeltaCommit(dir, 2,
      Seq("""{"remove":{"path":"f1.parquet","deletionTimestamp":3,"dataChange":true}}""",
        """{"add":{"path":"f3.parquet","partitionValues":{},"size":1,"modificationTime":3,"dataChange":true}}""",
        """{"cdc":{"path":"_change_data/cdc-0.parquet","partitionValues":{},"size":1,"dataChange":false}}"""))
    val got = DeltaRead.changes(spark, dir, 0L, 2L)
      .select("id", "v", "_change_type", "_commit_version")
      .as[(Long, Long, String, Long)].collect().toSet
    assert(got == Set((6L, 12L, "insert", 1L),
      (5L, 10L, "update_preimage", 2L), (5L, 99L, "update_postimage", 2L)),
      s"got $got")
    // a remove WITHOUT change data cannot stream row-level — loud
    writeDeltaCommit(dir, 3,
      Seq("""{"remove":{"path":"f2.parquet","deletionTimestamp":4,"dataChange":true}}"""))
    val e = intercept[IllegalStateException](DeltaRead.changes(spark, dir, 2L, 3L))
    assert(e.getMessage.contains("change"), e.getMessage)
    // pinned-schema stream contract: metaData/protocol in window die loudly
    writeDeltaCommit(dir, 4, Seq(metaAction(partitioned = false)))
    val e2 = intercept[IllegalStateException](
      DeltaRead.changes(spark, dir, 3L, 4L))
    assert(e2.getMessage.contains("metaData"), e2.getMessage)
    writeDeltaCommit(dir, 5,
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""))
    val e3 = intercept[IllegalStateException](
      DeltaRead.changes(spark, dir, 4L, 5L))
    assert(e3.getMessage.contains("protocol"), e3.getMessage)
  }

  test("delta read: multi-part checkpoints read as one action set") {
    import graft.sources.DeltaRead
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_mp").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 5L).map(i => (i, i)))
    writeDeltaPart(dir, "f2.parquet", (6L to 9L).map(i => (i, i)))
    val schemaString = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType))).json
    // part 1 carries protocol+metaData, part 2 the adds — the protocol's
    // multi-part shape (<v>.checkpoint.<i>.<n>.parquet)
    def cpDf(addPaths: Seq[String], withMeta: Boolean) = {
      val rows =
        addPaths.map(p => (Some((p, Map.empty[String, String])),
          None: Option[Int], None: Option[(String, Seq[String])])) ++
          (if (withMeta) Seq((None, Some(1), Some((schemaString, Seq.empty[String]))))
           else Nil)
      rows.toDF("addRaw", "protoRaw", "metaRaw").selectExpr(
        "named_struct('path', addRaw._1, 'partitionValues', addRaw._2) AS add",
        "named_struct('minReaderVersion', protoRaw) AS protocol",
        "named_struct('schemaString', metaRaw._1, 'partitionColumns', metaRaw._2) AS metaData")
    }
    new java.io.File(s"$dir/_delta_log").mkdirs()
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = Files.createTempDirectory("cpmp").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/_delta_log/$name"))
    }
    val v = f"${1L}%020d"
    stage(cpDf(Nil, withMeta = true), s"$v.checkpoint.0000000001.0000000002.parquet")
    stage(cpDf(Seq("f1.parquet", "f2.parquet"), withMeta = false),
      s"$v.checkpoint.0000000002.0000000002.parquet")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_delta_log/_last_checkpoint"),
      """{"version":1,"size":3,"parts":2}""")
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet
      == (1L to 9L).toSet, "both checkpoint parts must contribute actions")
  }

  test("delta export: a pinned graft snapshot publishes as a zero-copy Delta table") {
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("dexp_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("dexp_tgt").toFile.getAbsolutePath + "/d"
    TimeTravel.commitOverwrite((1L to 50L).map(i => (i, i * 2)).toDF("k", "v"), src)
    TimeTravel.commitAppend((51L to 60L).map(i => (i, i * 2)).toDF("k", "v"), src)
    val n = DeltaExport.snapshot(spark, src, tgt)
    assert(n > 0)
    // the published table reads back through the independent Delta replay
    val got = DeltaRead.read(spark, tgt)
    assert(got.columns.toSeq == Seq("k", "v"))
    assert(got.select("k").as[Long].collect().toSet == (1L to 60L).toSet)
    // zero-copy: the target holds ONLY the log
    assert(new java.io.File(tgt).listFiles().map(_.getName).toSeq == Seq("_delta_log"))
    // the export pinned its version: a later graft commit doesn't shear it
    TimeTravel.commitAppend(Seq((99L, 0L)).toDF("k", "v"), src)
    assert(DeltaRead.read(spark, tgt).count() == 60)
    // a DV-bearing snapshot exports directly: commit 0 declares reader
    // v3 and the affected adds carry protocol-format DVs (r12)
    TimeTravel.deleteMoR(spark, src, col("k") > 55)
    val tgtDv = Files.createTempDirectory("dexp_dv").toFile.getAbsolutePath + "/d"
    assert(DeltaExport.snapshot(spark, src, tgtDv) > 0)
    assert(DeltaRead.read(spark, tgtDv).select("k").as[Long].collect().toSet
      == TimeTravel.read(spark, src).select("k").as[Long].collect().toSet,
      "fresh export of a DV snapshot must serve the post-delete rows")
    // a RENAMED-era snapshot now exports as NAME-MODE column mapping
    // (r14 — r13 verdict #3): reader-v2 metadata with per-field
    // physicalName, roundtripped through the independent replay
    val src2 = Files.createTempDirectory("dexp_map").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(Seq((1L, 1L), (2L, 4L)).toDF("k", "v"), src2)
    TimeTravel.renameColumn(spark, src2, "v", "val")
    TimeTravel.commitAppend(Seq((3L, 9L)).toDF("k", "val"), src2)
    val tgtCm = Files.createTempDirectory("dexp_map_t").toFile.getAbsolutePath + "/d"
    assert(DeltaExport.snapshot(spark, src2, tgtCm) > 0)
    val v0Cm = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgtCm/_delta_log/00000000000000000000.json"))
    assert(v0Cm.contains("\"minReaderVersion\":2") &&
      v0Cm.contains("\"delta.columnMapping.mode\":\"name\""), v0Cm)
    val gotCm = DeltaRead.read(spark, tgtCm)
    assert(gotCm.columns.toSeq == Seq("k", "val"),
      "the export serves LOGICAL names through the mapping")
    assert(gotCm.as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (2L, 4L), (3L, 9L)),
      "pre-rename AND post-rename files both resolve")
    // a WIDENED era now EXPORTS when plain parquet readers can promote
    // it (r15 — r14 verdict #3): the protocol gains typeWidening, the
    // schema carries the spec's per-field type-change history, and
    // the replay promotes the narrow-era files under the wide schema
    val srcW = Files.createTempDirectory("dexp_wid").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(Seq((1, 1), (2, 4)).toDF("k", "v"), srcW)
    TimeTravel.widenColumn(spark, srcW, "v", "bigint")
    TimeTravel.commitAppend(Seq((3, 9L)).toDF("k", "v"), srcW)
    val tgtW = Files.createTempDirectory("dexp_wid_t").toFile.getAbsolutePath + "/d"
    assert(DeltaExport.snapshot(spark, srcW, tgtW) > 0)
    val v0W = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgtW/_delta_log/00000000000000000000.json"))
    assert(v0W.contains("\"typeWidening\"") &&
      v0W.contains("delta.typeChanges") &&
      v0W.contains("\\\"fromType\\\":\\\"integer\\\"") &&
      v0W.contains("\\\"toType\\\":\\\"long\\\""), v0W)
    val gotW = DeltaRead.read(spark, tgtW)
    assert(gotW.schema("v").dataType == org.apache.spark.sql.types.LongType,
      "the export declares the WIDE type")
    assert(gotW.select("k", "v").as[(Int, Long)].collect().toSet ==
      Set((1, 1L), (2, 4L), (3, 9L)),
      "narrow-era files promote under the widened schema")
    // a widening plain readers canNOT promote (long files under a
    // double declaration) keeps the named decline — graft's own
    // branch-per-era read serves it, but a published file-schema
    // reader would fail on every old file
    TimeTravel.widenColumn(spark, src2, "val", "double")
    val e2 = intercept[UnsupportedOperationException] {
      DeltaExport.snapshot(spark, src2,
        Files.createTempDirectory("dexp_wid_d").toFile.getAbsolutePath + "/d")
    }
    assert(e2.getMessage.contains("not a widening plain-parquet readers promote"),
      e2.getMessage)
  }

  test("delta export append: later graft appends publish as new commits of the same log") {
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("dexpa_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("dexpa_tgt").toFile.getAbsolutePath + "/d"
    TimeTravel.commitOverwrite((1L to 20L).map(i => (i, i)).toDF("k", "v"), src) // v1
    assert(DeltaExport.snapshot(spark, src, tgt) > 0)
    // two more graft appends, then one append call publishes both
    TimeTravel.commitAppend((21L to 30L).map(i => (i, i)).toDF("k", "v"), src) // v2
    TimeTravel.commitAppend((31L to 35L).map(i => (i, i)).toDF("k", "v"), src) // v3
    assert(DeltaExport.append(spark, src, tgt) > 0)
    val got = DeltaRead.read(spark, tgt)
    assert(got.select("k").as[Long].collect().toSet == (1L to 35L).toSet,
      "independent replay must see the appended commits")
    // already current → no-op
    assert(DeltaExport.append(spark, src, tgt) == 0)
    assert(DeltaRead.read(spark, tgt).count() == 35)
    // the log now carries ≥2 commits (the replay walked all of them)
    val commits = new java.io.File(s"$tgt/_delta_log").listFiles()
      .map(_.getName).filter(_.endsWith(".json")).sorted.toSeq
    assert(commits.size >= 2, s"expected multiple commits, got $commits")
    // zero-copy still: the target holds ONLY the log
    assert(new java.io.File(tgt).listFiles().map(_.getName).toSeq == Seq("_delta_log"))
    // a REWRITE graft commit in the window declines loudly (v4's
    // row-level delete alone would now publish as DVs, but v5's
    // OPTIMIZE replaced the snapshot — the decline must come from the
    // WINDOW classification, not the head-state gate)
    TimeTravel.deleteMoR(spark, src, col("k") > 33) // v4 = RowLevel
    TimeTravel.optimize(spark, src) // v5 = Rewrite, DVs folded
    val e = intercept[UnsupportedOperationException](
      DeltaExport.append(spark, src, tgt))
    assert(e.getMessage.contains("Rewrite"), e.getMessage)
    // a foreign delta log (no graft marker) declines loudly
    val foreign = Files.createTempDirectory("dexpa_foreign").toFile.getAbsolutePath + "/d"
    new java.io.File(s"$foreign/_delta_log").mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$foreign/_delta_log/" + f"${0L}%020d" + ".json"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""" + "\n")
    val e2 = intercept[IllegalStateException](DeltaExport.append(spark, src, foreign))
    assert(e2.getMessage.contains("graftSourceVersion"), e2.getMessage)
  }

  test("delta export append: row-level graft commits publish as real deletion vectors") {
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("dexprl_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("dexprl_tgt").toFile.getAbsolutePath + "/d"
    TimeTravel.commitOverwrite((1L to 40L).map(i => (i, i * 2)).toDF("k", "v"), src) // v1
    assert(DeltaExport.snapshot(spark, src, tgt) > 0)
    // delete from exported files, append a new file, delete from BOTH
    // the old and the new file — one append call publishes it all
    TimeTravel.deleteMoR(spark, src, col("k") % 4 === 1) // v2 RowLevel
    TimeTravel.commitAppend((41L to 50L).map(i => (i, i * 2)).toDF("k", "v"), src) // v3
    TimeTravel.deleteMoR(spark, src, col("k") === 8L || col("k") === 44L) // v4 RowLevel
    assert(DeltaExport.append(spark, src, tgt) > 0)
    val want = TimeTravel.read(spark, src).select("k").as[Long].collect().toSet
    val got = DeltaRead.read(spark, tgt).select("k").as[Long].collect().toSet
    assert(got == want, s"independent replay must see the post-delete row set; " +
      s"missing=${want -- got} extra=${got -- want}")
    // 41/45/49 were appended AFTER the %4 delete and must survive it
    assert(!got.exists(k => k <= 40 && k % 4 == 1) && got(45L) &&
      !got(8L) && !got(44L) && got(43L))
    // the published log upgraded its protocol and carries real DV files
    val logText = new java.io.File(s"$tgt/_delta_log").listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath))).mkString
    assert(logText.contains("\"deletionVectors\""), "protocol upgrade must ride the log")
    assert(logText.contains("\"deletionVector\""), "adds must carry DV descriptors")
    assert(new java.io.File(tgt).listFiles()
      .exists(_.getName.startsWith("deletion_vector_")),
      "protocol-format DV files must exist at the target")
    // a SECOND delete accumulates: the re-added file's DV is cumulative
    TimeTravel.deleteMoR(spark, src, col("k") === 10L) // v5 RowLevel
    assert(DeltaExport.append(spark, src, tgt) > 0)
    val got2 = DeltaRead.read(spark, tgt).select("k").as[Long].collect().toSet
    assert(got2 == want - 10L, "second append must accumulate the delete")
    // idempotent when current
    assert(DeltaExport.append(spark, src, tgt) == 0)
  }

  test("delta export append: updateMoR (tombstones + re-appended copies) publishes in one commit") {
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("dexpum_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("dexpum_tgt").toFile.getAbsolutePath + "/d"
    TimeTravel.commitOverwrite((1L to 30L).map(i => (i, i * 2)).toDF("k", "v"), src) // v1
    assert(DeltaExport.snapshot(spark, src, tgt) > 0)
    // one graft commit that BOTH tombstones and appends (the updated
    // copies): the export window must publish the new file as a plain
    // add AND re-add the original with a DV
    TimeTravel.updateMoR(spark, src, col("k") <= 5L, Seq("v" -> lit(999L))) // v2
    assert(DeltaExport.append(spark, src, tgt) > 0)
    val want = TimeTravel.read(spark, src).select("k", "v").as[(Long, Long)]
      .collect().toSet
    val got = DeltaRead.read(spark, tgt).select("k", "v").as[(Long, Long)]
      .collect().toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(got.count(_._2 == 999L) == 5 && got.size == 30,
      "updated copies must replace, not duplicate, the tombstoned rows")
  }

  test("delta export checkpoints persist DV descriptors: replay from checkpoint alone stays exact") {
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("dexpcpdv_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("dexpcpdv_tgt").toFile.getAbsolutePath + "/d"
    TimeTravel.commitOverwrite((1L to 20L).map(i => (i, i)).toDF("k", "v"), src) // v1
    assert(DeltaExport.snapshot(spark, src, tgt) > 0) // delta commit 0
    TimeTravel.deleteMoR(spark, src, col("k") <= 4L) // v2 RowLevel
    assert(DeltaExport.append(spark, src, tgt) > 0) // delta commit 1: DV re-add
    // nine more appends → delta commits 2..10; checkpoint fires at 10
    (1 to 9).foreach { i =>
      TimeTravel.commitAppend(Seq((100L + i, 0L)).toDF("k", "v"), src)
      assert(DeltaExport.append(spark, src, tgt) > 0)
    }
    val logDir = new java.io.File(s"$tgt/_delta_log")
    assert(logDir.listFiles().exists(_.getName.endsWith(".checkpoint.parquet")),
      "checkpoint must have fired at commit 10")
    // vacuum every pre-checkpoint commit JSON: the checkpoint alone must
    // carry the DV descriptor and the upgraded protocol, or the replay
    // silently over-serves the four deleted rows
    logDir.listFiles().filter { f =>
      f.getName.endsWith(".json") &&
        f.getName.stripSuffix(".json").forall(_.isDigit) &&
        f.getName.stripSuffix(".json").toLong < 10L
    }.foreach(f => assert(f.delete()))
    val got = DeltaRead.read(spark, tgt).select("k").as[Long].collect().toSet
    val want = TimeTravel.read(spark, src).select("k").as[Long].collect().toSet
    assert(got == want && !got(4L) && got(5L),
      s"from-checkpoint replay must keep the deletes; missing=${want -- got} extra=${got -- want}")
  }

  test("delta export append: checkpoints every 10 commits; pre-checkpoint JSONs become vacuum-able") {
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("dexpc_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("dexpc_tgt").toFile.getAbsolutePath + "/d"
    TimeTravel.commitOverwrite(Seq((0L, 0L)).toDF("k", "v"), src)
    assert(DeltaExport.snapshot(spark, src, tgt) > 0)
    // ten follow-up appends → exported commits 1..10, checkpoint at 10
    (1L to 10L).foreach { i =>
      TimeTravel.commitAppend(Seq((i, i * 2)).toDF("k", "v"), src)
      assert(DeltaExport.append(spark, src, tgt) > 0)
    }
    val logDir = new java.io.File(s"$tgt/_delta_log")
    assert(new java.io.File(logDir, f"${10L}%020d.checkpoint.parquet").isFile,
      s"checkpoint expected at v10: ${logDir.listFiles().map(_.getName).toSeq.sorted}")
    assert(new java.io.File(logDir, "_last_checkpoint").isFile)
    assert(DeltaRead.read(spark, tgt).select("k").as[Long].collect().toSet
      == (0L to 10L).toSet, "replay through the checkpoint = full state")
    // the protocol's point: commits AT/BEFORE the checkpoint are
    // reclaimable — delete them and the table still reads exactly
    (0L to 10L).foreach { v =>
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$tgt/_delta_log/" + f"$v%020d" + ".json"))
    }
    assert(DeltaRead.read(spark, tgt).select("k").as[Long].collect().toSet
      == (0L to 10L).toSet, "checkpoint alone must reconstruct the snapshot")
    // and the log keeps appending past it
    TimeTravel.commitAppend(Seq((11L, 22L)).toDF("k", "v"), src)
    assert(DeltaExport.append(spark, src, tgt) > 0)
    assert(DeltaRead.read(spark, tgt).count() == 12)
  }

  test("iceberg export append: later graft appends publish as new snapshots, old manifests reused") {
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("iexpa_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexpa_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite((1L to 20L).map(i => (i, i)).toDF("k", "v"), src) // v1
    val n1 = IcebergExport.snapshot(spark, src, tgt)
    assert(n1 > 0)
    TimeTravel.commitAppend((21L to 30L).map(i => (i, i)).toDF("k", "v"), src) // v2
    TimeTravel.commitAppend((31L to 35L).map(i => (i, i)).toDF("k", "v"), src) // v3
    assert(IcebergExport.append(spark, src, tgt) > 0)
    val got = IcebergRead.read(spark, tgt)
    assert(got.select("k").as[Long].collect().toSet == (1L to 35L).toSet,
      "independent replay must see the appended snapshot")
    // already current → no-op
    assert(IcebergExport.append(spark, src, tgt) == 0)
    // replay sees BOTH snapshots; the earlier one still serves v1's rows
    val hint = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tgt/metadata/version-hint.text"))).trim
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$tgt/metadata/v$hint.metadata.json"))))
    val snaps = meta.get("snapshots")
    assert(snaps.size() >= 2, s"expected multiple snapshots, got ${snaps.size()}")
    val firstId = snaps.get(0).get("snapshot-id").asLong()
    assert(IcebergRead.read(spark, tgt, Some(firstId))
      .select("k").as[Long].collect().toSet == (1L to 20L).toSet,
      "time travel to the first exported snapshot")
    // v2 metadata carries the spec-required bookkeeping
    assert(meta.get("last-sequence-number").asLong() >= 2)
    assert(meta.get("last-column-id").asInt() == 2)
    assert(meta.get("partition-specs").size() == 1)
    assert(meta.get("sort-orders").size() == 1)
    // zero-copy still: metadata only under the target
    assert(new java.io.File(tgt).listFiles().map(_.getName).toSeq == Seq("metadata"))
    // a rewrite graft commit in the window declines loudly
    TimeTravel.commitOverwrite(Seq((1L, 1L)).toDF("k", "v"), src) // v4 = Rewrite
    val e = intercept[UnsupportedOperationException](
      IcebergExport.append(spark, src, tgt))
    assert(e.getMessage.contains("Rewrite"), e.getMessage)
  }

  test("iceberg export append: row-level graft commits publish as position-delete files") {
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("iexprl_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexprl_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite((1L to 40L).map(i => (i, i * 2)).toDF("k", "v"), src) // v1
    assert(IcebergExport.snapshot(spark, src, tgt) > 0)
    TimeTravel.deleteMoR(spark, src, col("k") % 4 === 1) // v2 RowLevel
    TimeTravel.commitAppend((41L to 50L).map(i => (i, i * 2)).toDF("k", "v"), src) // v3
    TimeTravel.deleteMoR(spark, src, col("k") === 8L || col("k") === 44L) // v4 RowLevel
    assert(IcebergExport.append(spark, src, tgt) > 0)
    val want = TimeTravel.read(spark, src).select("k").as[Long].collect().toSet
    val got = IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet
    assert(got == want, s"independent replay must see the post-delete row set; " +
      s"missing=${want -- got} extra=${got -- want}")
    assert(!got.exists(k => k <= 40 && k % 4 == 1) && got(45L) &&
      !got(8L) && !got(44L) && got(43L))
    // the target carries the delete file + a content=1 manifest
    assert(new java.io.File(s"$tgt/deletes").listFiles()
      .exists(_.getName.startsWith("pd-")), "position-delete parquet must exist")
    assert(new java.io.File(s"$tgt/metadata").listFiles()
      .exists(_.getName.startsWith("md-")), "delete manifest must exist")
    // external engines match delete file_path BYTE-EXACT against the
    // data manifests and the spec requires (file_path, pos) sort order
    // (r12 ADVICE): every pd row must name a manifest path verbatim
    val manifestDataPaths = {
      import org.apache.avro.file.DataFileReader
      import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
      new java.io.File(s"$tgt/metadata").listFiles()
        .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro"))
        .toSeq.flatMap { mf =>
          val rdr = DataFileReader.openReader(mf,
            new GenericDatumReader[GenericRecord]())
          try {
            val b = Seq.newBuilder[String]
            while (rdr.hasNext) {
              val df = rdr.next().get("data_file").asInstanceOf[GenericRecord]
              b += String.valueOf(df.get("file_path"))
            }
            b.result()
          } finally rdr.close()
        }.toSet
    }
    val pdRows = new java.io.File(s"$tgt/deletes").listFiles()
      .filter(_.getName.startsWith("pd-")).toSeq.flatMap { pd =>
        spark.read.parquet(pd.getAbsolutePath)
          .select("file_path", "pos").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
      }
    val unmatched = pdRows.map(_._1).filterNot(manifestDataPaths)
    assert(unmatched.isEmpty,
      s"delete file_path must match the data manifests byte-exact; " +
        s"unmatched=${unmatched.distinct.take(3)} vs ${manifestDataPaths.take(3)}")
    new java.io.File(s"$tgt/deletes").listFiles()
      .filter(_.getName.startsWith("pd-")).foreach { pd =>
        val rows = spark.read.parquet(pd.getAbsolutePath)
          .select("file_path", "pos").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        assert(rows == rows.sortBy(identity),
          s"${pd.getName} rows must sort by (file_path, pos)")
      }
    // a SECOND delete accumulates (prior delete files stay live)
    TimeTravel.deleteMoR(spark, src, col("k") === 10L) // v5 RowLevel
    assert(IcebergExport.append(spark, src, tgt) > 0)
    val got2 = IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet
    assert(got2 == want - 10L, "second append must accumulate the delete")
    // idempotent when current
    assert(IcebergExport.append(spark, src, tgt) == 0)
    // a FRESH snapshot of the DV-bearing source also exports directly
    // (r12): first snapshot = data manifest + delete manifest
    val tgt2 = Files.createTempDirectory("iexprl_tgt2").toFile.getAbsolutePath + "/i"
    assert(IcebergExport.snapshot(spark, src, tgt2) > 0)
    assert(IcebergRead.read(spark, tgt2).select("k").as[Long].collect().toSet
      == got2, "fresh export of a DV snapshot must serve the post-delete rows")
  }

  test("iceberg export: identity-partitioned publish carries the spec and per-file tuples") {
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import spark.implicits._
    val src = Files.createTempDirectory("iexpp_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexpp_tgt").toFile.getAbsolutePath + "/i"
    // one commit per band → every data file is partition-pure
    TimeTravel.commitOverwrite((1L to 10L).map(i => (i, "b0")).toDF("k", "band"), src)
    TimeTravel.commitAppend((11L to 15L).map(i => (i, "b1")).toDF("k", "band"), src)
    TimeTravel.commitAppend((16L to 18L).map(i => (i, "b2")).toDF("k", "band"), src)
    assert(IcebergExport.snapshot(spark, src, tgt, partitionBy = Seq("band")) > 0)
    // the metadata carries the identity spec + the empty delete spec
    val metaV = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$tgt/metadata/version-hint.text"))).trim.toInt
    val metaTxt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tgt/metadata/v$metaV.metadata.json"))
    assert(metaTxt.contains(""""transform":"identity"""") &&
      metaTxt.contains(""""name":"band"""") &&
      metaTxt.contains("""{"spec-id":1,"fields":[]}"""), metaTxt.take(400))
    // each data manifest entry carries its file's partition tuple
    def manifestTuples(): Seq[(String, String)] =
      new java.io.File(s"$tgt/metadata").listFiles()
        .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro"))
        .toSeq.flatMap { mf =>
          val rdr = DataFileReader.openReader(mf, new GenericDatumReader[GenericRecord]())
          try {
            val b = Seq.newBuilder[(String, String)]
            while (rdr.hasNext) {
              val df = rdr.next().get("data_file").asInstanceOf[GenericRecord]
              val part = df.get("partition").asInstanceOf[GenericRecord]
              b += ((String.valueOf(df.get("file_path")),
                String.valueOf(part.get("band"))))
            }
            b.result()
          } finally rdr.close()
        }
    val tuples = manifestTuples()
    assert(tuples.nonEmpty && tuples.map(_._2).toSet == Set("b0", "b1", "b2"),
      s"per-file tuples must cover every band: $tuples")
    // the independent replay still matches the source
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet
      == (1L to 18L).toSet)
    // append keeps writing the SAME spec (recovered from the metadata)
    TimeTravel.commitAppend(Seq((19L, "b3")).toDF("k", "band"), src)
    assert(IcebergExport.append(spark, src, tgt) > 0)
    assert(manifestTuples().map(_._2).toSet == Set("b0", "b1", "b2", "b3"),
      "appended files must carry their tuples under the published spec")
    // a row-level commit publishes GLOBAL deletes under the empty spec
    TimeTravel.deleteMoR(spark, src, col("k") === 12L)
    assert(IcebergExport.append(spark, src, tgt) > 0)
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet
      == ((1L to 19L).toSet - 12L), "partitioned publish × global deletes compose")
    val mlFile = new java.io.File(s"$tgt/metadata").listFiles()
      .filter(_.getName.startsWith("snap-")).maxBy(_.getName)
    val mlRdr = DataFileReader.openReader(mlFile, new GenericDatumReader[GenericRecord]())
    val specIds = try {
      val b = Seq.newBuilder[(String, Int)]
      while (mlRdr.hasNext) {
        val r = mlRdr.next()
        b += ((String.valueOf(r.get("manifest_path")),
          r.get("partition_spec_id").asInstanceOf[Number].intValue()))
      }
      b.result()
    } finally mlRdr.close()
    assert(specIds.exists { case (p, id) => p.contains("/md-") && id == 1 },
      s"delete manifests must reference the empty spec: $specIds")
    assert(specIds.filter(_._1.contains("/m-")).forall(_._2 == 0),
      s"data manifests must reference the identity spec: $specIds")
    // a file that mixes partition values declines loudly
    val src2 = Files.createTempDirectory("iexpp_src2").toFile.getAbsolutePath + "/t"
    val tgt2 = Files.createTempDirectory("iexpp_tgt2").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite(
      Seq((1L, "b0"), (2L, "b1")).toDF("k", "band").coalesce(1), src2)
    val e = intercept[UnsupportedOperationException](
      IcebergExport.snapshot(spark, src2, tgt2, partitionBy = Seq("band")))
    assert(e.getMessage.contains("partition-pure"), e.getMessage)
  }

  test("iceberg export: decimal columns map through the interchange set both ways") {
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("iexp_dec_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexp_dec_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite(
      (1L to 9L).map(i => (i, BigDecimal(i) * BigDecimal("1.25")))
        .toDF("k", "amount")
        .select(col("k"), col("amount").cast("decimal(12,2)").as("amount")), src)
    assert(IcebergExport.snapshot(spark, src, tgt) > 0)
    val back = IcebergRead.read(spark, tgt)
    assert(back.schema("amount").dataType ==
      org.apache.spark.sql.types.DecimalType(12, 2))
    assert(back.select(sum(col("amount"))).head.getDecimal(0) ==
      new java.math.BigDecimal("56.25"))
  }

  // ---- Iceberg read interop (public table-spec fixtures)

  private def icebergManifest(dir: String, name: String,
      entries: Seq[(Int, String, Int)]): String =
    graft.sources.IcebergRead.Fixture.manifest(dir, name, entries)

  private def icebergManifestList(dir: String, name: String,
      manifests: Seq[String]): String =
    graft.sources.IcebergRead.Fixture.manifestList(dir, name, manifests)

  private def icebergMetadata(dir: String, v: Int, formatVersion: Int,
      snapshotId: Long, manifestList: String): Unit =
    graft.sources.IcebergRead.Fixture.metadata(dir, v, formatVersion, snapshotId,
      manifestList, Seq((1, "id", true, "long"), (2, "v", false, "long"),
        (3, "band", false, "string")))

  private def currentIcebergMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String): com.fasterxml.jackson.databind.JsonNode =
    graft.sources.IcebergRead.currentMetadata(spark, dir)

  private def writeIcebergPart(dir: String, rel: String,
      rows: Seq[(Long, Long, String)]): String = {
    import spark.implicits._
    val tmp = Files.createTempDirectory("ipart").toFile.getAbsolutePath
    rows.toDF("id", "v", "band").coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$dir/data/$rel")
    dst.getParentFile.mkdirs()
    java.nio.file.Files.copy(part.toPath, dst.toPath)
    dst.getAbsolutePath
  }

  test("iceberg read: manifest-list replay honors deleted entries and omitted manifests") {
    import graft.sources.IcebergRead
    import spark.implicits._
    val dir = Files.createTempDirectory("iceberg_fix").toFile.getAbsolutePath + "/t"
    val f0 = writeIcebergPart(dir, "f0.parquet", (1L to 10L).map(i => (i, i, "b0")))
    val f1 = writeIcebergPart(dir, "f1.parquet", (11L to 15L).map(i => (i, i, "b1")))
    writeIcebergPart(dir, "f2.parquet", (16L to 20L).map(i => (i, i, "b2")))
    val f3 = writeIcebergPart(dir, "f3.parquet", (21L to 25L).map(i => (i, i, "b3")))
    // manifest A: f0 added, f1 DELETED (status 2); manifest B: f2 (will
    // be omitted from the current snapshot's list); manifest C: f3
    val mA = icebergManifest(dir, "mA.avro", Seq((1, f0, 0), (2, f1, 0)))
    icebergManifest(dir, "mB.avro", Seq((1, s"$dir/data/f2.parquet", 0)))
    val mC = icebergManifest(dir, "mC.avro", Seq((0, f3, 0)))
    val ml = icebergManifestList(dir, "snap-2.avro", Seq(mA, mC))
    icebergMetadata(dir, 2, formatVersion = 2, snapshotId = 77L, manifestList = ml)
    val got = IcebergRead.read(spark, dir)
    assert(got.columns.toSeq == Seq("id", "v", "band"))
    assert(got.select("id").as[Long].collect().toSet ==
      ((1L to 10L) ++ (21L to 25L)).toSet,
      "live set = added/existing entries of listed manifests only")
    // (file scans relax nullability in Spark; pin the mapped TYPES)
    assert(got.schema("id").dataType == org.apache.spark.sql.types.LongType &&
      got.schema("band").dataType == org.apache.spark.sql.types.StringType)
  }

  test("iceberg read: malformed equality deletes and future format versions decline loudly") {
    import graft.sources.IcebergRead
    // an equality delete WITHOUT equality_ids is unapplicable — loud
    val dir = Files.createTempDirectory("iceberg_decl").toFile.getAbsolutePath + "/t"
    val f0 = writeIcebergPart(dir, "f0.parquet", Seq((1L, 1L, "b0")))
    val del = icebergManifest(dir, "mD.avro", Seq((1, f0, 0), (1, f0, 2)))
    val ml = icebergManifestList(dir, "snap-1.avro", Seq(del))
    icebergMetadata(dir, 1, formatVersion = 2, snapshotId = 5L, manifestList = ml)
    val e1 = intercept[IllegalStateException](IcebergRead.read(spark, dir))
    assert(e1.getMessage.contains("equality_ids"), e1.getMessage)
    // a FORMAT-VERSION-3 table using NO v3 feature reads like v2 (r12
    // 'what's missing': v3 structures are a superset of v2)
    val dir2 = Files.createTempDirectory("iceberg_v3").toFile.getAbsolutePath + "/t"
    val f02 = writeIcebergPart(dir2, "f0.parquet", Seq((1L, 1L, "b0")))
    val m2 = icebergManifest(dir2, "m.avro", Seq((1, f02, 0)))
    val ml2 = icebergManifestList(dir2, "snap-1.avro", Seq(m2))
    icebergMetadata(dir2, 1, formatVersion = 3, snapshotId = 5L, manifestList = ml2)
    assert(IcebergRead.read(spark, dir2).count() == 1,
      "plain v3 (no v3 features in use) must read")
    // ...but v3 PUFFIN deletion vectors are manifest-visible and
    // decline by name
    val dir2b = Files.createTempDirectory("iceberg_v3dv").toFile.getAbsolutePath + "/t"
    val f02b = writeIcebergPart(dir2b, "f0.parquet", Seq((1L, 1L, "b0")))
    val mData = graft.sources.IcebergRead.Fixture.manifestV2(dir2b, "mD.avro",
      Seq(graft.sources.IcebergRead.EntryInfo(1, f02b, 0, 1L, Nil)))
    val mDv = graft.sources.IcebergRead.Fixture.manifestV2(dir2b, "mDv.avro",
      Seq(graft.sources.IcebergRead.EntryInfo(1, s"$dir2b/dv.puffin", 1, 2L, Nil)),
      fileFormat = Some("PUFFIN"))
    val ml2b = icebergManifestList(dir2b, "snap-1.avro", Seq(mData, mDv))
    icebergMetadata(dir2b, 1, formatVersion = 3, snapshotId = 5L, manifestList = ml2b)
    val e2 = intercept[UnsupportedOperationException](IcebergRead.read(spark, dir2b))
    assert(e2.getMessage.contains("puffin"), e2.getMessage)
    // v3 with field defaults in use → named specifically; row lineage
    // (mandatory on real v3 tables) is metadata-only for a read-only
    // engine and must TOLERATE, not decline (r13 — else no real v3
    // table is readable and the DV support is moot)
    def v3Meta(dir: String, extras: String, fieldExtra: String): Unit = {
      new java.io.File(s"$dir/metadata").mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/metadata/v1.metadata.json"),
        s"""{"format-version":3,$extras"table-uuid":"x","location":"$dir",
           |"current-schema-id":0,"schemas":[{"schema-id":0,"type":"struct",
           |"fields":[{"id":1,"name":"id","required":true,"type":"long"$fieldExtra}]}],
           |"current-snapshot-id":-1,"snapshots":[]}""".stripMargin)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/metadata/version-hint.text"), "1")
    }
    val dir3 = Files.createTempDirectory("iceberg_v3rl").toFile.getAbsolutePath + "/t"
    v3Meta(dir3, """"next-row-id":17,""", "")
    assert(IcebergRead.read(spark, dir3).count() == 0,
      "v3 row lineage (next-row-id) must tolerate: it never changes the row set")
    // field defaults now SERVE (r14 — the dedicated initial-default
    // test pins the fill semantics); an empty default-bearing table
    // simply reads empty
    val dir4 = Files.createTempDirectory("iceberg_v3fd").toFile.getAbsolutePath + "/t"
    v3Meta(dir4, "", ""","initial-default":0""")
    assert(IcebergRead.read(spark, dir4).count() == 0)
    // geo types keep the named decline
    val dir4g = Files.createTempDirectory("iceberg_v3geo").toFile.getAbsolutePath + "/t"
    v3Meta(dir4g, "", "")
    val p4g = java.nio.file.Paths.get(s"$dir4g/metadata/v1.metadata.json")
    java.nio.file.Files.writeString(p4g, java.nio.file.Files.readString(p4g)
      .replace("\"type\":\"long\"", "\"type\":\"geometry\""))
    val e4 = intercept[UnsupportedOperationException](IcebergRead.read(spark, dir4g))
    assert(e4.getMessage.contains("geo types"), e4.getMessage)
    // format-version 4+ (unpublished) declines wholesale
    val dir5 = Files.createTempDirectory("iceberg_v4").toFile.getAbsolutePath + "/t"
    v3Meta(dir5, "", "")
    val p5 = java.nio.file.Paths.get(s"$dir5/metadata/v1.metadata.json")
    java.nio.file.Files.writeString(p5, java.nio.file.Files.readString(p5)
      .replace("\"format-version\":3", "\"format-version\":4"))
    val e5 = intercept[UnsupportedOperationException](IcebergRead.read(spark, dir5))
    assert(e5.getMessage.contains("format-version 4"), e5.getMessage)
  }

  test("iceberg read: v2 equality deletes apply with sequence-number ordering") {
    import graft.sources.IcebergRead
    import graft.sources.IcebergRead.EntryInfo
    import spark.implicits._
    val dir = Files.createTempDirectory("iceberg_eq").toFile.getAbsolutePath + "/t"
    // f0 committed at seq 1; the delete at seq 2 kills ids 3 and 5
    // there; f1 at seq 3 RE-INSERTS id 3, which must survive
    val f0 = writeIcebergPart(dir, "f0.parquet", (1L to 5L).map(i => (i, i, "b0")))
    val f1 = writeIcebergPart(dir, "f1.parquet", Seq((3L, 30L, "b1"), (11L, 11L, "b1")))
    val delStage = Files.createTempDirectory("iceberg_eq_stage").toFile.getAbsolutePath
    Seq(3L, 5L).toDF("id").coalesce(1).write.mode("overwrite").parquet(delStage)
    val delPart = new java.io.File(delStage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val delDst = new java.io.File(s"$dir/data/eq0.parquet")
    delDst.getParentFile.mkdirs()
    java.nio.file.Files.copy(delPart.toPath, delDst.toPath)
    val mData = IcebergRead.Fixture.manifestV2(dir, "mData.avro", Seq(
      EntryInfo(1, f0, 0, 1L, Nil), EntryInfo(1, f1, 0, 3L, Nil)))
    val mDel = IcebergRead.Fixture.manifestV2(dir, "mDel.avro", Seq(
      EntryInfo(1, delDst.getAbsolutePath, 2, 2L, Seq(1)))) // field id 1 = "id"
    val ml = icebergManifestList(dir, "snap-1.avro", Seq(mData, mDel))
    icebergMetadata(dir, 1, formatVersion = 2, snapshotId = 5L, manifestList = ml)
    val got = IcebergRead.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 11L),
      s"eq delete must hit seq-1 rows only (id 3 re-inserted at seq 3 survives): $got")
    // multi-column equality ids + an id outside the schema dies loudly
    val badDel = IcebergRead.Fixture.manifestV2(dir, "mBad.avro", Seq(
      EntryInfo(1, f0, 0, 1L, Nil),
      EntryInfo(1, delDst.getAbsolutePath, 2, 2L, Seq(99))))
    val ml2 = icebergManifestList(dir, "snap-2.avro", Seq(badDel))
    icebergMetadata(dir, 2, formatVersion = 2, snapshotId = 6L, manifestList = ml2)
    val e = intercept[IllegalStateException](IcebergRead.read(spark, dir))
    assert(e.getMessage.contains("field id 99"), e.getMessage)
  }

  test("puffin: DV blob and footer roundtrip; CRC and compression gates hold") {
    import graft.sources.Puffin
    val dir = Files.createTempDirectory("puffin_rt").toFile.getAbsolutePath
    val p = s"$dir/dv.puffin"
    // two vectors, one spanning the 32-bit key boundary (high bits ≠ 0)
    val dv0 = Seq(2L, 4L, 7L, (5L << 32) | 3L)
    val dv1 = Seq(0L)
    val refs = Puffin.writeDvFile(spark, p,
      Seq(("/data/f0.parquet", dv0), ("/data/f1.parquet", dv1)),
      snapshotId = 9L, sequenceNumber = 2L)
    assert(refs.map(_.cardinality) == Seq(4L, 1L))
    // positions round-trip through the manifest coordinates
    assert(Puffin.dvPositions(spark, p, refs(0).offset, refs(0).length).toSeq ==
      dv0.sorted)
    assert(Puffin.dvPositions(spark, p, refs(1).offset, refs(1).length).toSeq == dv1)
    // the footer names both blobs with the v3-spec DV properties
    val (blobs, props) = Puffin.footer(spark, p)
    assert(blobs.map(_.blobType) == Seq("deletion-vector-v1", "deletion-vector-v1"))
    assert(blobs.map(b => b.properties("referenced-data-file")) ==
      Seq("/data/f0.parquet", "/data/f1.parquet"))
    assert(blobs(0).properties("cardinality") == "4" &&
      blobs(0).snapshotId == 9L && blobs(0).sequenceNumber == 2L)
    assert(blobs.map(b => (b.offset, b.length)) ==
      refs.map(r => (r.offset, r.length)) && props("created-by") == "graft")
    // flip one bitmap byte → the CRC-32 gate fires (corrupt file, loud)
    val raw = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    raw(refs(0).offset.toInt + 9) = (raw(refs(0).offset.toInt + 9) ^ 0x40).toByte
    val pc = s"$dir/dv_corrupt.puffin"
    java.nio.file.Files.write(java.nio.file.Paths.get(pc), raw)
    val e1 = intercept[IllegalArgumentException](
      Puffin.dvPositions(spark, pc, refs(0).offset, refs(0).length))
    assert(e1.getMessage.contains("CRC-32"), e1.getMessage)
    // the compressed-footer flag over a payload that is NOT an lz4
    // frame is loud (r14: real lz4 footers decode — see the dedicated
    // lz4 tests; a lying flag must not silently parse)
    val raw2 = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    raw2(raw2.length - 8) = 1
    val pz = s"$dir/dv_lz4.puffin"
    java.nio.file.Files.write(java.nio.file.Paths.get(pz), raw2)
    val e2 = intercept[IllegalArgumentException](Puffin.footer(spark, pz))
    assert(e2.getMessage.contains("not an lz4 frame"), e2.getMessage)
  }

  test("delta typeWidening: widened tables read old narrow files through the wide schema") {
    // the typeWidening reader feature is a TYPE capability: the table
    // schema is wider than old files' physical types and Spark 4's
    // parquet readers perform the widening promotion — int32 files
    // serve a BIGINT column, float files a DOUBLE
    import graft.sources.DeltaRead
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("delta_tw").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def stage(df: org.apache.spark.sql.DataFrame, dest: String): Unit = {
      val tmp = Files.createTempDirectory("tw_stage").toFile.getAbsolutePath
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$dir/$dest")): Unit
    }
    // f1: the NARROW era (int, float); f2: the widened era (long, double)
    stage((1 to 5).toDF("id").select(col("id").cast("int").as("id"),
      (col("id") * lit(1.5f)).cast("float").as("x")), "f1.parquet")
    stage(Seq((6L, 9.0d), (7L, 10.5d)).toDF("id", "x"), "f2.parquet")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("x", DoubleType)))
    val esc = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["typeWidening"],"writerFeatures":["typeWidening"]}}""",
      s"""{"metaData":{"id":"twfix","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val got = DeltaRead.read(spark, dir)
    assert(got.schema("id").dataType == LongType &&
      got.schema("x").dataType == DoubleType)
    val rows = got.as[(Long, Double)].collect().toSet
    val want = (1 to 5).map(i => (i.toLong, (i * 1.5f).toDouble)).toSet ++
      Set((6L, 9.0d), (7L, 10.5d))
    assert(rows == want, s"widened read diverged: $rows")
  }

  test("iceberg v3 initial-default: absent-field rows read the default, present nulls stay null") {
    // the spec's rule: a data file that DOES NOT CONTAIN the field
    // serves initial-default; a file that contains it serves its
    // stored values — including genuine nulls. Composes with
    // merge-on-read (the fill happens before the delete joins).
    import graft.sources.IcebergRead
    import graft.sources.IcebergRead.EntryInfo
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("idef").toFile.getAbsolutePath
    val data = Files.createTempDirectory("idef_data").toFile.getAbsolutePath
    def stage(name: String, df: org.apache.spark.sql.DataFrame): String = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$data/$name")
      new java.io.File(s"$data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    // f1: the OLD era — no `tag`, no `n`; f2: the new era with both,
    // including a genuine null tag on k=12
    val f1 = stage("f1", (1L to 5L).toDF("k"))
    val tagged = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(11L, "new", 7L), Row(12L, null, 8L), Row(13L, "x", 9L)), 1),
      StructType(Seq(StructField("k", LongType), StructField("tag", StringType),
        StructField("n", LongType))))
    val f2 = stage("f2", tagged)
    // a position delete on f1 row 0 (k=1) proves the MoR composition
    val pd = stage("pd", Seq((f1, 0L)).toDF("file_path", "pos"))
    val m1 = IcebergRead.Fixture.manifestV2(dir, "m1.avro", Seq(
      EntryInfo(1, f1, 0, 1L, Nil), EntryInfo(1, f2, 0, 2L, Nil),
      EntryInfo(1, pd, 1, 2L, Nil)))
    val l1 = IcebergRead.Fixture.manifestList(dir, "snap-1.avro", Seq(m1))
    IcebergRead.Fixture.metadataMulti(dir, 1, 3, currentSnapshotId = 1L,
      snapshots = Seq((1L, l1)),
      fields = Seq((1, "k", true, "long"), (2, "tag", false, "string"),
        (3, "n", false, "long")),
      fieldDefaults = Map("tag" -> "\"legacy\"", "n" -> "42"))
    val got = IcebergRead.read(spark, dir)
      .select("k", "tag", "n").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2).toString)).toSet
    val want = ((2L to 5L).map(k => (k, "legacy", "42")) ++ Seq(
      (11L, "new", "7"), (12L, null, "8"), (13L, "x", "9"))).toSet
    assert(got == want, s"defaults diverged:\n got=$got\nwant=$want")
  }

  test("iceberg v3 initial-default: the >8-file probe runs distributed and fills identically") {
    // r14 verdict weak-at-scale: absentDefaultsByFile probed footers
    // sequentially on the driver — O(files) serial I/O at planning.
    // Above 8 uncached files the probe now ships to executors (one
    // parallelize job); the fill must be byte-identical to the serial
    // path, and the per-path cache must serve repeat reads.
    import graft.sources.IcebergRead
    import graft.sources.IcebergRead.EntryInfo
    import spark.implicits._
    val dir = Files.createTempDirectory("idef_dist").toFile.getAbsolutePath
    val data = Files.createTempDirectory("idef_dist_data").toFile.getAbsolutePath
    def stage(name: String, df: org.apache.spark.sql.DataFrame): String = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$data/$name")
      new java.io.File(s"$data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    // 12 old-era files (no `tag`) — comfortably past the ≤8 serial
    // cutoff — plus one new-era file that carries it
    val oldFiles = (0 until 12).map(i =>
      stage(s"f$i", Seq(i.toLong * 100 + 1, i.toLong * 100 + 2).toDF("k")))
    val newFile = stage("fnew", Seq((9999L, "present")).toDF("k", "tag"))
    val entries = (oldFiles :+ newFile).zipWithIndex.map { case (f, i) =>
      EntryInfo(1, f, 0, i + 1L, Nil)
    }
    val m = IcebergRead.Fixture.manifestV2(dir, "m.avro", entries)
    val l = IcebergRead.Fixture.manifestList(dir, "snap-1.avro", Seq(m))
    IcebergRead.Fixture.metadataMulti(dir, 1, 3, currentSnapshotId = 1L,
      snapshots = Seq((1L, l)),
      fields = Seq((1, "k", true, "long"), (2, "tag", false, "string")),
      fieldDefaults = Map("tag" -> "\"legacy\""))
    // watch for the probe's executor job while the plan materializes
    val stageNames = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stageNames.add(sc.stageInfo.name): Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val got = IcebergRead.read(spark, dir).select("k", "tag").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size == 25)
      assert(got(9999L) == "present")
      assert(oldFiles.indices.forall(i => got(i.toLong * 100 + 1) == "legacy" &&
        got(i.toLong * 100 + 2) == "legacy"),
        s"every absent-era row must serve the default: $got")
      // the distributed probe leaves a visible footprint: a collect
      // stage rooted in IcebergRead (the parallelize path), which the
      // old driver-serial loop never produced
      val deadline = System.currentTimeMillis() + 5000
      var seen = false
      while (!seen && System.currentTimeMillis() < deadline) {
        seen = stageNames.toArray.exists(
          _.toString.contains("IcebergRead"))
        if (!seen) Thread.sleep(50)
      }
      assert(seen, s"expected the footer probe's executor job; stages: " +
        s"${stageNames.toArray.mkString(", ")}")
      // second read: identical answer through the per-path cache
      val again = IcebergRead.read(spark, dir).select("k", "tag").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(again == got, "cached probe must fill identically")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("iceberg read: v3 puffin deletion vectors apply merge-on-read") {
    import graft.sources.{IcebergRead, Puffin}
    import graft.sources.IcebergRead.EntryInfo
    import spark.implicits._
    val dir = Files.createTempDirectory("iceberg_v3dv").toFile.getAbsolutePath + "/t"
    // f0 (ids 1–10) @ seq 1, f1 (ids 11–20) @ seq 3; one puffin file
    // carries a DV per data file (positions 2,4 of f0 → ids 3,5;
    // position 0 of f1 → id 11); an equality delete @ seq 2 on ids
    // {7, 15} composes — sequence ordering confines it to f0, so only
    // id 7 dies. Expected survivors: 1,2,4,6,8,9,10 ++ 12–20.
    val f0 = writeIcebergPart(dir, "f0.parquet", (1L to 10L).map(i => (i, i, "b0")))
    val f1 = writeIcebergPart(dir, "f1.parquet", (11L to 20L).map(i => (i, i, "b1")))
    val refs = Puffin.writeDvFile(spark, s"$dir/data/dv.puffin",
      Seq((f0, Seq(2L, 4L)), (f1, Seq(0L))), snapshotId = 5L, sequenceNumber = 4L)
    val delStage = Files.createTempDirectory("iceberg_v3dv_stage").toFile.getAbsolutePath
    Seq(7L, 15L).toDF("id").coalesce(1).write.mode("overwrite").parquet(delStage)
    val delPart = new java.io.File(delStage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val delDst = new java.io.File(s"$dir/data/eq0.parquet")
    java.nio.file.Files.copy(delPart.toPath, delDst.toPath)
    val mData = IcebergRead.Fixture.manifestV2(dir, "mData.avro", Seq(
      EntryInfo(1, f0, 0, 1L, Nil), EntryInfo(1, f1, 0, 3L, Nil)))
    val mDel = IcebergRead.Fixture.manifestV2(dir, "mDel.avro", Seq(
      EntryInfo(1, delDst.getAbsolutePath, 2, 2L, Seq(1)),
      EntryInfo(1, s"$dir/data/dv.puffin", 1, 4L, Nil,
        Some((f0, refs(0).offset, refs(0).length))),
      EntryInfo(1, s"$dir/data/dv.puffin", 1, 4L, Nil,
        Some((f1, refs(1).offset, refs(1).length)))))
    val ml = icebergManifestList(dir, "snap-1.avro", Seq(mData, mDel))
    icebergMetadata(dir, 1, formatVersion = 3, snapshotId = 5L, manifestList = ml)
    val got = IcebergRead.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
    assert(got == (Seq(1L, 2L, 4L, 6L, 8L, 9L, 10L) ++ (12L to 20L)),
      s"DVs must kill (f0: pos 2,4), (f1: pos 0); eq delete kills id 7 only: $got")
    // a DV whose manifest length disagrees with the blob framing → loud
    val mBad = IcebergRead.Fixture.manifestV2(dir, "mBad.avro", Seq(
      EntryInfo(1, f0, 0, 1L, Nil),
      EntryInfo(1, s"$dir/data/dv.puffin", 1, 4L, Nil,
        Some((f0, refs(0).offset, refs(0).length + 4)))))
    val ml2 = icebergManifestList(dir, "snap-2.avro", Seq(mBad))
    icebergMetadata(dir, 2, formatVersion = 3, snapshotId = 6L, manifestList = ml2)
    val e = intercept[IllegalArgumentException](IcebergRead.read(spark, dir))
    assert(e.getMessage.contains("manifest says"), e.getMessage)
  }

  test("iceberg export: format-version 3 publishes row-level deletes as puffin DVs") {
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("iexpdv_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexpdv_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite((1L to 40L).map(i => (i, i * 2)).toDF("k", "v"), src) // v1
    TimeTravel.deleteMoR(spark, src, col("k") % 10 === 3) // v2: pending at export time
    assert(IcebergExport.snapshot(spark, src, tgt, formatVersion = 3) > 0)
    def replay() = IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet
    def want() = TimeTravel.read(spark, src).select("k").as[Long].collect().toSet
    assert(replay() == want(), "fresh v3 export must serve the post-delete set")
    // the sidecar is a real puffin file whose footer names the vectors
    val puffins = new java.io.File(s"$tgt/deletes").listFiles()
      .filter(_.getName.endsWith(".puffin")).toSeq
    assert(puffins.size == 1, s"one puffin sidecar expected, got $puffins")
    val (blobs0, _) = graft.sources.Puffin.footer(spark, puffins.head.getAbsolutePath)
    assert(blobs0.nonEmpty && blobs0.forall(_.blobType == "deletion-vector-v1"))
    // append window: new rows AND more deletes, some hitting the SAME
    // file already vectored — the v3 rule is ONE superseding DV per file
    TimeTravel.commitAppend((41L to 50L).map(i => (i, i * 2)).toDF("k", "v"), src) // v3
    TimeTravel.deleteMoR(spark, src, col("k") === 7L || col("k") === 44L) // v4
    assert(IcebergExport.append(spark, src, tgt) > 0)
    assert(replay() == want(), s"append replay must supersede; " +
      s"missing=${want() -- replay()} extra=${replay() -- want()}")
    assert(!replay().exists(k => k <= 40 && k % 10 == 3) &&
      !replay()(7L) && !replay()(44L) && replay()(45L))
    // at most one live DV per data file, each superseding (cumulative):
    // walk the CURRENT snapshot's manifest chain raw
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    def avroOf(p: String): Seq[GenericRecord] = {
      val rdr = DataFileReader.openReader(new java.io.File(p),
        new GenericDatumReader[GenericRecord]())
      try {
        val b = Seq.newBuilder[GenericRecord]
        while (rdr.hasNext) b += rdr.next()
        b.result()
      } finally rdr.close()
    }
    val metaTxt = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgt/metadata/v" + java.nio.file.Files.readString(java.nio.file.Paths
        .get(s"$tgt/metadata/version-hint.text")).trim + ".metadata.json"))
    val mlPath = """"current-snapshot-id":(\d+)""".r.findFirstMatchIn(metaTxt)
      .flatMap { m =>
        (s""""snapshot-id":${m.group(1)},"sequence-number":\\d+,"timestamp-ms":\\d+,""" +
          """"manifest-list":"([^"]+)"""").r.findFirstMatchIn(metaTxt).map(_.group(1))
      }.getOrElse(fail("current snapshot's manifest-list not found in metadata"))
    val liveDelete = avroOf(mlPath)
      .filter(r => r.get("content").asInstanceOf[Number].intValue() == 1)
      .flatMap(r => avroOf(String.valueOf(r.get("manifest_path"))))
      .filter(e => e.get("status").asInstanceOf[Number].intValue() != 2)
      .map(_.get("data_file").asInstanceOf[GenericRecord])
    assert(liveDelete.nonEmpty)
    val refsPerFile = liveDelete.map { df =>
      assert(String.valueOf(df.get("file_format")) == "PUFFIN",
        "a v3 publish must carry no position-delete files")
      String.valueOf(df.get("referenced_data_file"))
    }.groupBy(identity)
    assert(refsPerFile.values.forall(_.size == 1),
      s"a data file must carry at most ONE deletion vector: $refsPerFile")
    // row lineage bookkeeping: next-row-id advances by the appended rows
    assert(metaTxt.contains("\"format-version\":3"))
    assert("""next-row-id":(\d+)""".r.findFirstMatchIn(metaTxt)
      .map(_.group(1)).contains("50"),
      s"next-row-id must cover all 50 published rows")
  }

  test("iceberg export: a column name holding JSON metacharacters round-trips") {
    import graft.sources.{IcebergExport, IcebergRead, Puffin, TimeTravel}
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val src = Files.createTempDirectory("iexpname_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexpname_tgt").toFile.getAbsolutePath + "/i"
    val odd = "a\"b\\c"
    TimeTravel.commitOverwrite((1L to 20L).map(i => (i, i * 2)).toDF("k", odd), src)
    TimeTravel.deleteMoR(spark, src, col("k") % 5 === 0)
    assert(IcebergExport.snapshot(spark, src, tgt, formatVersion = 3) > 0)
    val metas = new java.io.File(s"$tgt/metadata").listFiles().toSeq
      .filter(_.getName.endsWith(".metadata.json"))
    assert(metas.nonEmpty)
    metas.foreach { f =>
      val meta = Json.mapper.readTree(f)
      val names = meta.get("schemas").get(0).get("fields").elements().asScala
        .map(_.get("name").asText).toSeq
      assert(names == Seq("k", odd), s"$f: $names")
      val mapping = Json.mapper.readTree(meta.get("properties")
        .get("schema.name-mapping.default").asText)
      assert(mapping.get(1).get("names").get(0).asText == odd)
    }
    val puffins = new java.io.File(s"$tgt/deletes").listFiles().toSeq
      .filter(_.getName.endsWith(".puffin"))
    assert(puffins.size == 1, s"one puffin sidecar expected, got $puffins")
    val (blobs, props) = Puffin.footer(spark, puffins.head.getAbsolutePath)
    assert(blobs.map(_.properties("cardinality").toLong).sum == 4L &&
      props("created-by") == "graft")
    val back = IcebergRead.read(spark, tgt)
    assert(back.columns.toSeq == Seq("k", odd))
    assert(back.orderBy("k").as[(Long, Long)].collect().toSeq ==
      (1L to 20L).filter(_ % 5 != 0).map(i => (i, i * 2)))
  }

  test("iceberg read: manifest bounds skip files on pushed data filters") {
    import graft.sources.IcebergRead
    import graft.sources.IcebergRead.EntryInfo
    import spark.implicits._
    val dir = Files.createTempDirectory("iceberg_bounds").toFile.getAbsolutePath + "/t"
    def longLe(v: Long) = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    val f1 = writeIcebergPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i, "a")))
    val f2 = writeIcebergPart(dir, "f2.parquet", (11L to 20L).map(i => (i, i, "b")))
    val f3 = writeIcebergPart(dir, "f3.parquet", (21L to 30L).map(i => (i, i, "c")))
    def entry(f: String, lo: Long, hi: Long, band: String,
        withBounds: Boolean): EntryInfo =
      EntryInfo(1, f, 0, 1L, Nil,
        sizeInBytes = Some(new java.io.File(f).length()),
        recordCount = Some(10L),
        lowerBounds = if (withBounds) Map(1 -> longLe(lo),
          3 -> band.getBytes("UTF-8")) else Map.empty,
        upperBounds = if (withBounds) Map(1 -> longLe(hi),
          3 -> band.getBytes("UTF-8")) else Map.empty,
        nullCounts = if (withBounds) Map(1 -> 0L, 3 -> 0L) else Map.empty)
    val m = IcebergRead.Fixture.manifestV2(dir, "m.avro", Seq(
      entry(f1, 1L, 10L, "a", withBounds = true),
      entry(f2, 11L, 20L, "b", withBounds = true),
      entry(f3, 21L, 30L, "c", withBounds = false))) // boundless: always read
    val ml = icebergManifestList(dir, "snap-1.avro", Seq(m))
    icebergMetadata(dir, 1, formatVersion = 2, snapshotId = 1L, manifestList = ml)
    def scanned(f: org.apache.spark.sql.DataFrame): Long = {
      val scans = f.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      f.collect()
      scans.head.metrics("numFiles").value
    }
    // the sized entries plan through the log-backed index: one scan node
    val eq = IcebergRead.read(spark, dir).filter(col("id") === 15L)
    assert(scanned(eq) == 2, "id=15 overlaps f2 only; boundless f3 always reads")
    assert(eq.select("id").as[Long].collect().toSeq == Seq(15L))
    // string bounds prune too (UTF-8 single-value serialization)
    assert(scanned(IcebergRead.read(spark, dir)
      .filter(col("band") === "a")) == 2)
    // strict range prunes both bounded files
    assert(scanned(IcebergRead.read(spark, dir).filter(col("id") > 20L)) == 1)
    assert(IcebergRead.read(spark, dir).count() == 30, "skipping never drops rows")
    // bounds compose with merge-on-read: a position delete on f2 and the
    // same pushed filter — the data-side scan still prunes
    val pdStage = Files.createTempDirectory("ibound_pd").toFile.getAbsolutePath
    Seq((f2, 4L)).toDF("file_path", "pos").coalesce(1)
      .write.mode("overwrite").parquet(pdStage)
    val pdPart = new java.io.File(pdStage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val pdDst = new java.io.File(s"$dir/data/pd0.parquet")
    java.nio.file.Files.copy(pdPart.toPath, pdDst.toPath)
    val m2 = IcebergRead.Fixture.manifestV2(dir, "m2.avro", Seq(
      entry(f1, 1L, 10L, "a", withBounds = true),
      entry(f2, 11L, 20L, "b", withBounds = true),
      entry(f3, 21L, 30L, "c", withBounds = false),
      EntryInfo(1, pdDst.getAbsolutePath, 1, 2L, Nil,
        sizeInBytes = Some(pdDst.length()))))
    val ml2 = icebergManifestList(dir, "snap-2.avro", Seq(m2))
    icebergMetadata(dir, 2, formatVersion = 2, snapshotId = 2L, manifestList = ml2)
    val mor = IcebergRead.read(spark, dir).filter(col("id") === 16L)
    mor.collect() // AQE: scans materialize only after execution
    def scansIn(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansIn(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scansIn(q.plan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
      case other => other.children.flatMap(scansIn)
    }
    val dataScans = scansIn(mor.queryExecution.executedPlan)
    assert(dataScans.nonEmpty &&
      dataScans.map(_.metrics("numFiles").value).min <= 2,
      "the MoR data scan must still prune by bounds")
    assert(mor.select("id").as[Long].collect().toSeq == Seq(16L))
    assert(IcebergRead.read(spark, dir).count() == 29,
      "position delete applies (pos 4 of f2 = id 15)")
  }

  test("iceberg export: manifests carry column bounds and the replay skips files") {
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("iexp_bounds_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexp_bounds_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite(
      (1L to 10L).map(i => (i, s"n$i")).toDF("k", "nm").coalesce(1), src)
    TimeTravel.commitAppend(
      (11L to 20L).map(i => (i, s"n$i")).toDF("k", "nm").coalesce(1), src)
    TimeTravel.commitAppend(
      (21L to 30L).map(i => (i, s"n$i")).toDF("k", "nm").coalesce(1), src)
    assert(IcebergExport.snapshot(spark, src, tgt) == 3)
    def scanned(f: org.apache.spark.sql.DataFrame): Long = {
      val scans = f.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      f.collect()
      scans.head.metrics("numFiles").value
    }
    val hit = IcebergRead.read(spark, tgt).filter(col("k") === 25L)
    assert(scanned(hit) == 1,
      "the published manifest bounds must prune to the one overlapping file")
    assert(hit.select("nm").as[String].head() == "n25")
    assert(IcebergRead.read(spark, tgt).count() == 30)
    // append keeps writing bounds
    TimeTravel.commitAppend(
      (31L to 40L).map(i => (i, s"n$i")).toDF("k", "nm").coalesce(1), src)
    assert(IcebergExport.append(spark, src, tgt) > 0)
    assert(scanned(IcebergRead.read(spark, tgt).filter(col("k") === 35L)) == 1)
    assert(IcebergRead.read(spark, tgt).count() == 40)
  }

  test("iceberg read: null entry sequence numbers inherit from the manifest list") {
    // real v2 writers (Flink CDC et al.) store NULL sequence_number on
    // ADDED manifest entries; the reader must inherit the manifest-list
    // entry's number or every equality delete lands at seq 0 and is
    // silently dropped (r12 ADVICE high)
    import graft.sources.IcebergRead
    import graft.sources.IcebergRead.EntryInfo
    import spark.implicits._
    val dir = Files.createTempDirectory("iceberg_inh").toFile.getAbsolutePath + "/t"
    // same semantics as the explicit-seq test: f0 @ seq 1, delete @ seq
    // 2 (ids 3, 5), f1 @ seq 3 re-inserts id 3 — but every ENTRY seq is
    // null and only the manifest LIST carries the numbers
    val f0 = writeIcebergPart(dir, "f0.parquet", (1L to 5L).map(i => (i, i, "b0")))
    val f1 = writeIcebergPart(dir, "f1.parquet", Seq((3L, 30L, "b1"), (11L, 11L, "b1")))
    val delStage = Files.createTempDirectory("iceberg_inh_stage").toFile.getAbsolutePath
    Seq(3L, 5L).toDF("id").coalesce(1).write.mode("overwrite").parquet(delStage)
    val delPart = new java.io.File(delStage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val delDst = new java.io.File(s"$dir/data/eq0.parquet")
    delDst.getParentFile.mkdirs()
    java.nio.file.Files.copy(delPart.toPath, delDst.toPath)
    val m0 = IcebergRead.Fixture.manifestV2(dir, "m0.avro",
      Seq(EntryInfo(1, f0, 0, -1L, Nil)), nullSeqs = true)
    val mDel = IcebergRead.Fixture.manifestV2(dir, "mDel.avro",
      Seq(EntryInfo(1, delDst.getAbsolutePath, 2, -1L, Seq(1))), nullSeqs = true)
    val m1 = IcebergRead.Fixture.manifestV2(dir, "m1.avro",
      Seq(EntryInfo(1, f1, 0, -1L, Nil)), nullSeqs = true)
    val ml = IcebergRead.Fixture.manifestListV2(dir, "snap-1.avro",
      Seq((m0, 1L), (mDel, 2L), (m1, 3L)))
    icebergMetadata(dir, 1, formatVersion = 2, snapshotId = 5L, manifestList = ml)
    val got = IcebergRead.read(spark, dir).select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L, 4L, 11L),
      s"inherited seqs must order deletes like explicit ones: $got")
    // a null seq on a NON-ADDED entry cannot inherit — loud, never 0
    val mBad = IcebergRead.Fixture.manifestV2(dir, "mBad.avro",
      Seq(EntryInfo(0, f0, 0, -1L, Nil)), nullSeqs = true)
    val ml2 = IcebergRead.Fixture.manifestListV2(dir, "snap-2.avro",
      Seq((mBad, 4L), (mDel, 2L)))
    icebergMetadata(dir, 2, formatVersion = 2, snapshotId = 6L, manifestList = ml2)
    val e2 = intercept[IllegalStateException](IcebergRead.read(spark, dir))
    assert(e2.getMessage.contains("only ADDED entries inherit"), e2.getMessage)
  }

  test("file skipping: seeded randomized sweep — pruned reads equal unpruned") {
    // skipping is an OPTIMIZATION with a crisp invariant: for any
    // bounds and any pushed filter, the pruned result must equal the
    // filter applied to everything. Sweep random per-file stats (some
    // deliberately absent) and random predicates over a Delta fixture
    // whose adds carry the stats, and hold the FileIndex to it.
    import graft.sources.DeltaRead
    import spark.implicits._
    val rnd = new scala.util.Random(0xF11E5C1AL)
    (1 to 5).foreach { trial =>
      val dir = Files.createTempDirectory(s"dskip_sweep$trial")
        .toFile.getAbsolutePath + "/t"
      new java.io.File(dir).mkdirs()
      val nFiles = 3 + rnd.nextInt(3)
      val fileRows = (0 until nFiles).map { i =>
        val rows = (0 until 3 + rnd.nextInt(6))
          .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        writeDeltaPart(dir, s"f$i.parquet", rows)
        (i, rows)
      }
      def statsOf(rows: Seq[(Long, Long)]): Option[String] =
        if (rnd.nextInt(4) == 0) None // statless files must always read
        else Some(
          s"""{\\"numRecords\\":${rows.size},""" +
            s"""\\"minValues\\":{\\"id\\":${rows.map(_._1).min}},""" +
            s"""\\"maxValues\\":{\\"id\\":${rows.map(_._1).max}},""" +
            s"""\\"nullCount\\":{\\"id\\":0}}""")
      def add(i: Int, rows: Seq[(Long, Long)]) =
        s"""{"add":{"path":"f$i.parquet","partitionValues":{},"size":1,""" +
          s""""modificationTime":1,"dataChange":true""" +
          statsOf(rows).map(s => s""","stats":"$s"""").getOrElse("") + "}}"
      writeDeltaCommit(dir, 0,
        Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
          metaAction(partitioned = false)) ++
          fileRows.map { case (i, rows) => add(i, rows) })
      val all = fileRows.flatMap(_._2)
      (1 to 8).foreach { _ =>
        val a = rnd.nextInt(40).toLong
        val b = rnd.nextInt(40).toLong
        val (pred, model) = rnd.nextInt(5) match {
          case 0 => (col("id") === a, all.filter(_._1 == a))
          case 1 => (col("id") > a, all.filter(_._1 > a))
          case 2 => (col("id") <= a, all.filter(_._1 <= a))
          case 3 => (col("id") >= math.min(a, b) && col("id") < math.max(a, b),
            all.filter(r => r._1 >= math.min(a, b) && r._1 < math.max(a, b)))
          case _ => (col("id").isin(a, b), all.filter(r => r._1 == a || r._1 == b))
        }
        val got = DeltaRead.read(spark, dir).filter(pred)
          .select("id", "v").as[(Long, Long)].collect().sorted.toSeq
        assert(got == model.sorted,
          s"trial $trial pred $pred: pruned read diverged from the model")
      }
    }
  }

  test("puffin: seeded randomized DV roundtrips incl. high 32-bit keys") {
    import graft.sources.Puffin
    val rnd = new scala.util.Random(0xDF13L)
    val dir = Files.createTempDirectory("puffin_sweep").toFile.getAbsolutePath
    (1 to 5).foreach { trial =>
      val p = s"$dir/dv$trial.puffin"
      val dvs = (0 until 1 + rnd.nextInt(4)).map { i =>
        val n = 1 + rnd.nextInt(200)
        val positions = Seq.fill(n) {
          val hi = rnd.nextInt(3).toLong << 32 // spans bitmap keys
          hi | (rnd.nextInt(1 << 20).toLong)
        }.distinct
        (s"/data/f$i.parquet", positions)
      }
      val refs = Puffin.writeDvFile(spark, p, dvs,
        snapshotId = trial.toLong, sequenceNumber = 1L)
      dvs.zip(refs).foreach { case ((_, positions), r) =>
        assert(r.cardinality == positions.size.toLong)
        assert(Puffin.dvPositions(spark, p, r.offset, r.length).toSeq ==
          positions.sorted, s"trial $trial: positions must roundtrip sorted")
      }
      val (blobs, _) = Puffin.footer(spark, p)
      assert(blobs.size == dvs.size &&
        blobs.map(b => (b.offset, b.length)) == refs.map(r => (r.offset, r.length)))
    }
  }

  test("iceberg v3 DV export: seeded randomized mutate-publish-replay roundtrips") {
    // the supersede logic (one cumulative vector per re-deleted file,
    // prior DV entries dropped from carried-forward manifests) has a
    // crisp invariant: after every publish, the independent replay
    // equals the graft source read. Sweep random append/delete windows.
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    val rnd = new scala.util.Random(0xD1D33964L)
    (1 to 3).foreach { trial =>
      val src = Files.createTempDirectory(s"iv3sweep_src$trial")
        .toFile.getAbsolutePath + "/t"
      val tgt = Files.createTempDirectory(s"iv3sweep_tgt$trial")
        .toFile.getAbsolutePath + "/i"
      var nextK = 1L
      def appendSome(): Unit = {
        val n = 5 + rnd.nextInt(10)
        val rows = (nextK until nextK + n).map(i => (i, i * 2))
        nextK += n
        if (TimeTravel.versions(spark, src).isEmpty)
          TimeTravel.commitOverwrite(rows.toDF("k", "v"), src)
        else TimeTravel.commitAppend(rows.toDF("k", "v"), src)
      }
      def deleteSome(): Unit = {
        val m = 2 + rnd.nextInt(5)
        TimeTravel.deleteMoR(spark, src, col("k") % m === rnd.nextInt(m).toLong)
      }
      appendSome()
      if (rnd.nextBoolean()) deleteSome() // maybe pending at first export
      assert(IcebergExport.snapshot(spark, src, tgt, formatVersion = 3) > 0)
      def check(stage: String): Unit = {
        val want = TimeTravel.read(spark, src).select("k").as[Long].collect().toSet
        val got = IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet
        assert(got == want, s"trial $trial $stage: replay diverged; " +
          s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
      }
      check("snapshot")
      (1 to 3).foreach { w =>
        // each window: at least one mutation, mixed shapes
        val acts = 1 + rnd.nextInt(3)
        var mutated = false
        (1 to acts).foreach { _ =>
          if (rnd.nextBoolean()) { appendSome(); mutated = true }
          else if (TimeTravel.read(spark, src).count() > 0) {
            deleteSome(); mutated = true
          }
        }
        if (mutated) {
          IcebergExport.append(spark, src, tgt)
          check(s"window $w")
        }
      }
    }
  }

  test("iceberg equality deletes: seeded randomized sweep vs in-memory model") {
    import graft.sources.IcebergRead
    import graft.sources.IcebergRead.EntryInfo
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    // the ordering/null-safety rules have a crisp model: a row of a
    // data file at sequence s dies iff SOME delete at sequence > s
    // lists its id (null matching null). Sweep random configurations
    // with a fixed seed and hold the reader to the model.
    val rnd = new scala.util.Random(0xEC12DEL)
    val dataSchema = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("v", LongType, nullable = false)))
    val delSchema = StructType(Seq(StructField("id", LongType, nullable = true)))
    def writeOne(dir: String, name: String, schema: StructType, rows: Seq[Row]): String = {
      val tmp = Files.createTempDirectory("eqf_stage").toFile.getAbsolutePath
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/data/$name")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.copy(part.toPath, dst.toPath)
      dst.getAbsolutePath
    }
    (1 to 6).foreach { trial =>
      val dir = Files.createTempDirectory(s"iceberg_eqf$trial").toFile.getAbsolutePath + "/t"
      def someId(): java.lang.Long =
        if (rnd.nextInt(8) == 0) null else java.lang.Long.valueOf(rnd.nextInt(18).toLong)
      val dataFiles = (0 until 2 + rnd.nextInt(3)).map { i =>
        val seq = 1L + rnd.nextInt(6)
        val rows = (0 until 5 + rnd.nextInt(8)).map(_ =>
          Row(someId(), java.lang.Long.valueOf(rnd.nextInt(90).toLong)))
        (writeOne(dir, s"f$i.parquet", dataSchema, rows), seq, rows)
      }
      val delFiles = (0 until 1 + rnd.nextInt(3)).map { j =>
        val seq = 1L + rnd.nextInt(7)
        val ids = (0 until 1 + rnd.nextInt(6)).map(_ => someId())
        (writeOne(dir, s"eq$j.parquet", delSchema, ids.map(Row(_))), seq, ids)
      }
      val mData = IcebergRead.Fixture.manifestV2(dir, "mData.avro",
        dataFiles.map { case (p, seq, _) => EntryInfo(1, p, 0, seq, Nil) })
      val mDel = IcebergRead.Fixture.manifestV2(dir, "mDel.avro",
        delFiles.map { case (p, seq, _) => EntryInfo(1, p, 2, seq, Seq(1)) })
      val ml = IcebergRead.Fixture.manifestList(dir, "snap-1.avro", Seq(mData, mDel))
      IcebergRead.Fixture.metadata(dir, 1, formatVersion = 2, snapshotId = 1L,
        manifestList = ml,
        fields = Seq((1, "id", false, "long"), (2, "v", false, "long")))
      def key(id: Any, v: Any) = s"${Option(id)}|$v"
      val want = dataFiles.flatMap { case (_, seq, rows) =>
        rows.filterNot { r =>
          delFiles.exists { case (_, dSeq, ids) =>
            dSeq > seq && ids.exists(x => Option(x) == Option(r.get(0)))
          }
        }.map(r => key(r.get(0), r.get(1)))
      }.sorted
      val got = IcebergRead.read(spark, dir).collect()
        .map(r => key(r.get(0), r.get(1))).toSeq.sorted
      assert(got == want,
        s"trial $trial: reader disagrees with model\n got=$got\nwant=$want\n" +
          s"data=${dataFiles.map(f => (f._2, f._3))}\ndels=${delFiles.map(d => (d._2, d._3))}")
    }
  }

  test("iceberg read: v2 position deletes apply merge-on-read") {
    import graft.sources.IcebergRead
    import spark.implicits._
    val dir = Files.createTempDirectory("iceberg_pd").toFile.getAbsolutePath + "/t"
    // two data files; rows at positions 0..4 hold ids 1..5 / 6..10
    val f0 = writeIcebergPart(dir, "f0.parquet", (1L to 5L).map(i => (i, i, "b0")))
    val f1 = writeIcebergPart(dir, "f1.parquet", (6L to 10L).map(i => (i, i, "b1")))
    // one position-delete parquet: kill f0 positions 0 and 4 (ids 1, 5)
    // and f1 position 2 (id 8) — file_path stored as the same absolute
    // paths the manifests carry
    val delStage = Files.createTempDirectory("iceberg_pd_stage").toFile.getAbsolutePath
    Seq((f0, 0L), (f0, 4L), (f1, 2L)).toDF("file_path", "pos")
      .coalesce(1).write.mode("overwrite").parquet(delStage)
    val delPart = new java.io.File(delStage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val delDst = new java.io.File(s"$dir/data/pd0.parquet")
    delDst.getParentFile.mkdirs()
    java.nio.file.Files.copy(delPart.toPath, delDst.toPath)
    val mData = icebergManifest(dir, "mData.avro", Seq((1, f0, 0), (1, f1, 0)))
    val mDel = icebergManifest(dir, "mDel.avro",
      Seq((1, delDst.getAbsolutePath, 1)))
    val ml = icebergManifestList(dir, "snap-1.avro", Seq(mData, mDel))
    icebergMetadata(dir, 1, formatVersion = 2, snapshotId = 5L, manifestList = ml)
    val got = IcebergRead.read(spark, dir).select("id").as[Long].collect().toSet
    assert(got == ((1L to 10L).toSet -- Set(1L, 5L, 8L)),
      s"position-deleted rows must vanish, got $got")
  }

  test("iceberg read: current metadata picks the numerically max version") {
    import graft.sources.IcebergRead
    import spark.implicits._
    val dir = Files.createTempDirectory("iceberg_vnum").toFile.getAbsolutePath + "/t"
    val f0 = writeIcebergPart(dir, "f0.parquet", Seq((1L, 1L, "b0")))
    val f1 = writeIcebergPart(dir, "f1.parquet", Seq((2L, 2L, "b1")))
    // v9 serves only f0, v10 serves f0+f1; lexicographic sort would pick
    // v9 ('v9…' > 'v10…') and silently serve the stale snapshot
    val m9 = icebergManifest(dir, "m9.avro", Seq((1, f0, 0)))
    val ml9 = icebergManifestList(dir, "snap-9.avro", Seq(m9))
    icebergMetadata(dir, 9, formatVersion = 2, snapshotId = 9L, manifestList = ml9)
    val m10 = icebergManifest(dir, "m10.avro", Seq((1, f0, 0), (1, f1, 0)))
    val ml10 = icebergManifestList(dir, "snap-10.avro", Seq(m10))
    icebergMetadata(dir, 10, formatVersion = 2, snapshotId = 10L, manifestList = ml10)
    // no version-hint: the reader must fall back to numeric-max discovery
    new java.io.File(s"$dir/metadata/version-hint.text").delete()
    assert(IcebergRead.read(spark, dir).select("id").as[Long].collect().toSet
      == Set(1L, 2L), "v10 (numeric max) must win over v9 (lexicographic max)")
  }

  test("SQL CALL procedures: rollback, optimize, vacuum dry-run then real") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = seedTable("callproc")
    TimeTravel.commitAppend(
      Seq((200L, "late", 5L)).toDF("k", "nm", "bal"), dir) // v2
    withGraftCatalog {
      // optimize: compact v2's two dirs into one as v3, rows unchanged
      val v3 = spark.sql(s"CALL graft.optimize('$dir', 1)").head.getLong(0)
      assert(v3 == 3L && TimeTravel.read(spark, dir).count() == 101)
      // rollback: v1's listing re-published as v4
      val v4 = spark.sql(s"CALL graft.rollback('$dir', 1)").head.getLong(0)
      assert(v4 == 4L && TimeTravel.read(spark, dir).count() == 100)
      // vacuum dry run: reports victims, deletes NOTHING
      val dry = spark.sql(s"CALL graft.vacuum('$dir', 1, true)")
        .collect().map(_.getString(0)).toSeq
      assert(dry.nonEmpty, "pre-optimize dirs must be reclaimable")
      assert(dry.forall(d => new java.io.File(s"$dir/$d").exists()),
        "dry run must not delete")
      // real vacuum drops exactly the dry run's victims
      val dropped = spark.sql(s"CALL graft.vacuum('$dir', 1, false)")
        .collect().map(_.getString(0)).toSeq
      assert(dropped == dry)
      assert(dropped.forall(d => !new java.io.File(s"$dir/$d").exists()))
      assert(TimeTravel.read(spark, dir).count() == 100, "live snapshot intact")
      // collect_stats backfills the skipping sidecars for the live dirs
      val covered = spark.sql(s"CALL graft.collect_stats('$dir', 'k')")
        .collect().map(_.getString(0)).toSeq
      assert(covered.nonEmpty &&
        covered.forall(d => new java.io.File(s"$dir/stats/${d.stripPrefix("data/")}").exists()),
        s"stats sidecars must exist for $covered")
      // export_delta publishes the live snapshot as a zero-copy Delta log
      val tgt = Files.createTempDirectory("callproc_dexp").toFile.getAbsolutePath + "/d"
      val nf = spark.sql(s"CALL graft.export_delta('$dir', '$tgt')").head.getInt(0)
      assert(nf > 0 &&
        graft.sources.DeltaRead.read(spark, tgt).count() == 100)
      // export_iceberg publishes the live snapshot as zero-copy Iceberg
      val itgt = Files.createTempDirectory("callproc_iexp").toFile.getAbsolutePath + "/i"
      val inf = spark.sql(s"CALL graft.export_iceberg('$dir', '$itgt')").head.getInt(0)
      val iback = graft.sources.IcebergRead.read(spark, itgt)
      assert(inf > 0 && iback.count() == 100 &&
        iback.columns.toSeq == Seq("k", "nm", "bal"))
      // write-back: a later graft append publishes into BOTH targets
      // through the SQL faces
      TimeTravel.commitAppend(
        Seq((300L, "appended", 7L)).toDF("k", "nm", "bal"), dir)
      assert(spark.sql(s"CALL graft.export_delta_append('$dir', '$tgt')")
        .head.getInt(0) > 0)
      assert(graft.sources.DeltaRead.read(spark, tgt).count() == 101)
      assert(spark.sql(s"CALL graft.export_iceberg_append('$dir', '$itgt')")
        .head.getInt(0) > 0)
      assert(graft.sources.IcebergRead.read(spark, itgt).count() == 101)
      // export_iceberg_v3 publishes the format-version-3 (puffin DV) shape
      val i3tgt = Files.createTempDirectory("callproc_iexp3").toFile.getAbsolutePath + "/i3"
      val i3nf = spark.sql(s"CALL graft.export_iceberg_v3('$dir', '$i3tgt')").head.getInt(0)
      assert(i3nf > 0 &&
        graft.sources.IcebergRead.read(spark, i3tgt).count() == 101)
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(
        s"$i3tgt/metadata/v1.metadata.json")).contains("\"format-version\":3"))
      // unknown procedure declines loudly (Spark wraps the catalog's
      // message in FAILED_TO_LOAD_ROUTINE)
      val e = intercept[Exception](spark.sql(s"CALL graft.nope('$dir')"))
      assert(e.getMessage.contains("Failed to load routine"), e.getMessage)
    }
  }

  test("SQL CALL procedures: lakehouse maintenance end-to-end") {
    import graft.sources.{DeltaRead, IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("callmaint_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("callmaint").toFile.getAbsolutePath + "/d"
    val itgt = Files.createTempDirectory("callmaint_i").toFile.getAbsolutePath + "/i"
    val df = (1L to 40L).map(i => (i, i * 2)).toDF("k", "v")
    TimeTravel.commitOverwrite(df.coalesce(1), base) // v1
    TimeTravel.deleteMoR(spark, base, col("k") % 5 === 2) // v2
    TimeTravel.deleteMoR(spark, base, col("k") % 7 === 3) // v3
    withGraftCatalog {
      spark.sql(s"CALL graft.export_delta('$base', '$tgt')").collect()
      // delta_history: one commit, DV-carrying adds counted
      val h = spark.sql(s"CALL graft.delta_history('$tgt')").collect()
      assert(h.map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSeq ==
        Seq((0L, 1L, 1L))) // version 0, one add, one DV add
      // checkpoint → cleanup → vacuum, all through SQL
      assert(spark.sql(s"CALL graft.delta_checkpoint('$tgt')")
        .head.getLong(0) == 0L)
      assert(spark.sql(s"CALL graft.delta_cleanup_log('$tgt')")
        .collect().map(_.getLong(0)).toSeq == Seq(0L))
      // the only sidecar is still referenced by the checkpoint
      assert(spark.sql(s"CALL graft.delta_vacuum('$tgt', false)").count() == 0)
      val expect = (1L to 40L).filterNot(k => k % 5 == 2 || k % 7 == 3)
      assert(DeltaRead.read(spark, tgt).select("k").as[Long]
        .collect().sorted.toSeq == expect)
      // iceberg expire through SQL: supersede chain strands one DV set
      IcebergExport.snapshot(spark, base, itgt, formatVersion = 3,
        version = Some(2L))
      IcebergExport.append(spark, base, itgt)
      val dry = spark.sql(
        s"CALL graft.iceberg_expire_snapshots('$itgt', 1, true)").head
      assert((dry.getInt(0), dry.getInt(1), dry.getInt(2), dry.getInt(3)) ==
        (1, 1, 1, 1))
      assert(IcebergMaintenance.snapshots(spark, itgt).count() == 2,
        "dry run must not trim the snapshot list")
      val real = spark.sql(
        s"CALL graft.iceberg_expire_snapshots('$itgt', 1, false)").head
      assert(real.getInt(0) == 1)
      assert(IcebergMaintenance.snapshots(spark, itgt).count() == 1)
      assert(IcebergRead.read(spark, itgt).select("k").as[Long]
        .collect().sorted.toSeq == expect)
    }
  }

  test("iceberg maintenance: orphan sweep and metadata retention") {
    import graft.sources.{IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("iorph_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("iorph").toFile.getAbsolutePath + "/tbl"
    val df = (1L to 30L).map(i => (i, i)).toDF("k", "v")
    TimeTravel.commitOverwrite(df.coalesce(1), base) // v1
    TimeTravel.deleteMoR(spark, base, col("k") % 5 === 2) // v2
    IcebergExport.snapshot(spark, base, tgt) // S1 + pd delete file
    TimeTravel.commitAppend(
      (100L to 104L).map(i => (i, i)).toDF("k", "v").coalesce(1), base) // v3
    IcebergExport.append(spark, base, tgt) // S2, metadata v2
    // a referenced table is orphan-free
    assert(IcebergMaintenance.removeOrphanFiles(spark, tgt, dryRun = true).isEmpty)
    // plant garbage: a crashed writer's stray manifest and delete file
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tgt/metadata/m-junk.avro"), "junk")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tgt/deletes/pd-junk.parquet"), "junk")
    val dry = IcebergMaintenance.removeOrphanFiles(spark, tgt, dryRun = true)
    assert(dry == Seq("m-junk.avro", "pd-junk.parquet"))
    assert(new java.io.File(s"$tgt/metadata/m-junk.avro").exists(),
      "dry run must not delete")
    assert(IcebergMaintenance.removeOrphanFiles(spark, tgt) == dry)
    assert(!new java.io.File(s"$tgt/metadata/m-junk.avro").exists())
    assert(!new java.io.File(s"$tgt/deletes/pd-junk.parquet").exists())
    // the live read is untouched by the sweep
    val expect = ((1L to 30L).filterNot(_ % 5 == 2) ++ (100L to 104L)).sorted
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect()
      .sorted.toSeq == expect)
    // metadata retention: v1 retired, v2 (current) kept; hint intact
    assert(IcebergMaintenance.cleanupMetadata(spark, tgt, keepLast = 1)
      == Seq("v1.metadata.json"))
    assert(!new java.io.File(s"$tgt/metadata/v1.metadata.json").exists())
    assert(IcebergRead.read(spark, tgt).count() == expect.size)
    assert(IcebergMaintenance.cleanupMetadata(spark, tgt, keepLast = 1).isEmpty)
  }

  test("lakehouse maintenance: seeded randomized sweep — upkeep never changes served rows") {
    import graft.sources.{DeltaExport, DeltaMaintenance, DeltaRead,
      IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    (1 to 4).foreach { iter =>
      val base = Files.createTempDirectory(s"maintsw${iter}_src").toFile.getAbsolutePath
      val dtgt = Files.createTempDirectory(s"maintsw${iter}_d").toFile.getAbsolutePath + "/d"
      val itgt = Files.createTempDirectory(s"maintsw${iter}_i").toFile.getAbsolutePath + "/i"
      var model = (1L to (40 + rnd.nextInt(40))).map(k => k -> k * 3).toMap
      TimeTravel.commitOverwrite(
        model.toSeq.toDF("k", "v").coalesce(1), base)
      DeltaExport.snapshot(spark, base, dtgt)
      IcebergExport.snapshot(spark, base, itgt, formatVersion = 3)
      var nextK = model.keys.max + 1
      var snapCount = 1
      (1 to 3 + rnd.nextInt(3)).foreach { _ =>
        if (rnd.nextBoolean()) { // append fresh keys
          val fresh = (nextK until nextK + 5 + rnd.nextInt(10))
            .map(k => k -> k * 3)
          nextK += 20
          model ++= fresh
          TimeTravel.commitAppend(fresh.toSeq.toDF("k", "v").coalesce(1), base)
        } else { // row-level delete on a random residue class
          val m = Seq(3, 4, 5, 7)(rnd.nextInt(4))
          val r = rnd.nextInt(m)
          model = model.filter { case (k, _) => k % m != r }
          TimeTravel.deleteMoR(spark, base, col("k") % m === r)
        }
        DeltaExport.append(spark, base, dtgt)
        IcebergExport.append(spark, base, itgt)
        snapCount += 1
        // random mid-sequence upkeep: checkpoint + retire + vacuum on
        // the Delta side, expire on the Iceberg side — NEVER changes
        // what either table serves
        if (rnd.nextBoolean()) {
          DeltaMaintenance.checkpoint(spark, dtgt)
          DeltaMaintenance.cleanupLog(spark, dtgt)
          val dry = DeltaMaintenance.vacuum(spark, dtgt, dryRun = true)
          assert(DeltaMaintenance.vacuum(spark, dtgt) == dry,
            "real vacuum must remove exactly the dry run's victims")
        }
        if (rnd.nextBoolean()) {
          val retain = 1 + rnd.nextInt(snapCount)
          IcebergMaintenance.expireSnapshots(spark, itgt, retainLast = retain)
          snapCount = math.min(snapCount, retain)
          assert(IcebergMaintenance.snapshots(spark, itgt).count() == snapCount)
        }
        if (rnd.nextBoolean()) {
          val dry = IcebergMaintenance.removeOrphanFiles(spark, itgt, dryRun = true)
          assert(IcebergMaintenance.removeOrphanFiles(spark, itgt) == dry)
        }
        if (rnd.nextBoolean())
          IcebergMaintenance.cleanupMetadata(spark, itgt, keepLast = 1 + rnd.nextInt(3))
        val want = model.toSeq.sorted
        assert(DeltaRead.read(spark, dtgt).select("k", "v").as[(Long, Long)]
          .collect().sorted.toSeq == want, s"delta diverged (iter $iter)")
        assert(IcebergRead.read(spark, itgt).select("k", "v").as[(Long, Long)]
          .collect().sorted.toSeq == want, s"iceberg diverged (iter $iter)")
      }
    }
  }

  test("GraftCatalog: SELECT and VERSION AS OF resolve through the SQL identifier") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = seedTable("cat")
    TimeTravel.commitAppend(
      Seq((101L, "name_101", 1010L)).toDF("k", "nm", "bal"), dir)
    withGraftCatalog {
      assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft.`$dir`").head.getLong(0) == 101)
      assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft.`$dir` VERSION AS OF 1")
        .head.getLong(0) == 100)
    }
  }

  test("GraftCatalog: TIMESTAMP AS OF resolves the snapshot by commit instant") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = seedTable("tsasof")
    Thread.sleep(1100) // manifests carry second-granularity mtimes on some fs
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    TimeTravel.commitAppend(
      Seq((201L, "late", 42L)).toDF("k", "nm", "bal"), dir)
    assert(TimeTravel.versionAsOf(spark, dir, betweenMs) == 1L)
    assert(TimeTravel.versionAsOf(spark, dir, System.currentTimeMillis()) == 2L)
    intercept[IllegalArgumentException] {
      TimeTravel.versionAsOf(spark, dir, 1000L) // predates the table
    }
    withGraftCatalog {
      val ts = new java.sql.Timestamp(betweenMs)
      assert(spark.sql(
        s"SELECT COUNT(*) AS n FROM graft.`$dir` TIMESTAMP AS OF '$ts'")
        .head.getLong(0) == 100, "between-commits instant must see v1")
      assert(spark.sql(s"SELECT COUNT(*) AS n FROM graft.`$dir`").head.getLong(0) == 101)
    }
  }

  test("SQL DELETE with an uncorrelated IN subquery tombstones exactly the listed keys") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = seedTable("delin")
    Seq(3L, 5L, 8L, 999L).toDF("kk").createOrReplaceTempView("dml_del_keys")
    withGraftCatalog {
      spark.sql(s"DELETE FROM graft.`$dir` WHERE k IN (SELECT kk FROM dml_del_keys)")
    }
    val left = TimeTravel.read(spark, dir).select("k").collect().map(_.getLong(0)).toSet
    assert(left == (1L to 100L).toSet -- Set(3L, 5L, 8L))
  }

  test("SQL INSERT INTO appends a commit; INSERT OVERWRITE replaces, history intact") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = seedTable("ins")
    Seq((200L, "added", 7L), (201L, "added", 8L)).toDF("k", "nm", "bal")
      .createOrReplaceTempView("dml_ins_src")
    withGraftCatalog {
      val v2 = spark.sql(s"INSERT INTO graft.`$dir` SELECT * FROM dml_ins_src")
        .collect().head.getLong(0)
      assert(v2 == 2L)
      assert(TimeTravel.read(spark, dir).count() == 102)
      // positional VALUES form with casts handled by output resolution
      spark.sql(s"INSERT INTO graft.`$dir` VALUES (300, 'v', 1)")
      assert(TimeTravel.read(spark, dir).count() == 103)
      val v4 = spark.sql(
        s"INSERT OVERWRITE graft.`$dir` SELECT * FROM dml_ins_src")
        .collect().head.getLong(0)
      assert(v4 == 4L)
      assert(TimeTravel.read(spark, dir).count() == 2, "overwrite sees only new rows")
      assert(TimeTravel.read(spark, dir, Some(3L)).count() == 103,
        "pre-overwrite snapshot must stay readable")
    }
  }

  test("JoinAdvisor table sidecar: analyze stores under _advisor, scans unaffected") {
    import graft.operators.JoinAdvisor
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = seedTable("advt")
    val df = TimeTravel.read(spark, dir)
    val st = JoinAdvisor.analyzeTable(spark, dir, df, "k")
    assert(JoinAdvisor.statsFor(spark, dir, "k").contains(st))
    assert(JoinAdvisor.statsFor(spark, dir, "nope").isEmpty)
    // the underscore sidecar is invisible to the table read
    assert(TimeTravel.read(spark, dir).count() == 100)
  }

  test("delta maintenance: vacuum respects visible references; checkpoint retires them") {
    import graft.sources.{DeltaExport, DeltaMaintenance, DeltaRead, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("dmaint_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("dmaint").toFile.getAbsolutePath + "/tbl"
    val df = (1L to 40L).map(i => (i, i * 10)).toDF("k", "v")
    TimeTravel.commitOverwrite(df.coalesce(1), base) // v1
    TimeTravel.deleteMoR(spark, base, col("k") % 5 === 2) // v2
    TimeTravel.deleteMoR(spark, base, col("k") % 7 === 3) // v3
    DeltaExport.snapshot(spark, base, tgt, version = Some(1L)) // delta v0
    DeltaExport.append(spark, base, tgt, toVersion = Some(2L)) // v1: DV #1
    DeltaExport.append(spark, base, tgt) // v2: superseding DV #2
    // without a checkpoint there is nothing to clean, and every sidecar
    // is still referenced by a visible commit JSON
    assert(DeltaMaintenance.cleanupLog(spark, tgt).isEmpty)
    assert(DeltaMaintenance.vacuum(spark, tgt, dryRun = true).isEmpty)
    val sidecarsBefore = new java.io.File(tgt).listFiles()
      .count(_.getName.startsWith("deletion_vector_"))
    assert(sidecarsBefore == 2)
    assert(DeltaMaintenance.checkpoint(spark, tgt) == 2L)
    assert(DeltaMaintenance.cleanupLog(spark, tgt) == Seq(0L, 1L, 2L))
    val removed = DeltaMaintenance.vacuum(spark, tgt)
    assert(removed.size == 1) // DV #1 retired with the v1 JSON
    // the checkpoint-backed read still serves the exact MoR row set
    val expect = (1L to 40L).filterNot(k => k % 5 == 2 || k % 7 == 3)
    assert(DeltaRead.read(spark, tgt).select("k").as[Long].collect().sorted
      .toSeq == expect)
    // time travel BEFORE the checkpoint horizon stops resolving — and
    // the decline NAMES the retention trade (not "no metaData action")
    val tt = intercept[IllegalStateException](DeltaRead.read(spark, tgt, Some(1L)))
    assert(tt.getMessage.contains("log-retention cleanup"), tt.getMessage)
    // an incremental window reaching behind the checkpoint is equally
    // named (the streaming-resume-after-cleanup shape)
    val iw = intercept[IllegalStateException](
      DeltaRead.changes(spark, tgt, 0L, 2L))
    assert(iw.getMessage.contains("log-retention cleanup"), iw.getMessage)
    // history reflects the cleaned log: only the checkpointed era's
    // commits would remain (none here — all three were retired)
    assert(DeltaMaintenance.history(spark, tgt).count() == 0)
  }

  test("delta maintenance: history counts adds/removes/DV-adds per commit") {
    import graft.sources.{DeltaExport, DeltaMaintenance, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("dhist_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("dhist").toFile.getAbsolutePath + "/tbl"
    val df = (1L to 30L).map(i => (i, i)).toDF("k", "v")
    TimeTravel.commitOverwrite(df.filter($"k" <= 15).coalesce(1), base)
    TimeTravel.commitAppend(df.filter($"k" > 15).coalesce(1), base)
    DeltaExport.snapshot(spark, base, tgt)
    TimeTravel.deleteMoR(spark, base, col("k") % 4 === 1) // hits both files
    DeltaExport.append(spark, base, tgt)
    val h = DeltaMaintenance.history(spark, tgt)
      .select("version", "operation", "n_adds", "n_removes", "n_dv_adds")
      .collect().sortBy(_.getLong(0))
    assert(h.map(r => (r.getLong(0), r.getString(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq ==
      Seq((0L, "graft-export", 2L, 0L, 0L), (1L, "graft-export", 2L, 2L, 2L)))
  }

  test("iceberg maintenance: expire guards the current snapshot; dry-run touches nothing") {
    import graft.sources.{IcebergMaintenance, IcebergRead}
    val dir = Files.createTempDirectory("iexpg").toFile.getAbsolutePath
    val data = Files.createTempDirectory("iexpg_data").toFile.getAbsolutePath
    import spark.implicits._
    (1L to 10L).toDF("id").coalesce(1).write.mode("overwrite").parquet(data)
    val f = new java.io.File(data).listFiles()
      .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    val m1 = IcebergRead.Fixture.manifest(dir, "m1.avro", Seq((1, f, 0)))
    val l1 = IcebergRead.Fixture.manifestList(dir, "snap-1.avro", Seq(m1))
    val l2 = IcebergRead.Fixture.manifestList(dir, "snap-2.avro", Seq(m1))
    // CURRENT pinned to the FIRST snapshot: retaining only the last
    // would expire the current one — must refuse
    IcebergRead.Fixture.metadataMulti(dir, 1, 2, currentSnapshotId = 10L,
      snapshots = Seq((10L, l1), (20L, l2)),
      fields = Seq((1, "id", true, "long")))
    intercept[IllegalArgumentException](
      IcebergMaintenance.expireSnapshots(spark, dir, retainLast = 1))
    // dry-run on a sane current: report without deleting
    IcebergRead.Fixture.metadataMulti(dir, 2, 2, currentSnapshotId = 20L,
      snapshots = Seq((10L, l1), (20L, l2)),
      fields = Seq((1, "id", true, "long")))
    val r = IcebergMaintenance.expireSnapshots(spark, dir, retainLast = 1,
      dryRun = true)
    assert(r.expiredSnapshotIds == Seq(10L))
    assert(r.manifestListsRemoved == Seq("snap-1.avro"))
    assert(r.manifestsRemoved.isEmpty) // m1 still referenced by snap-2
    assert(new java.io.File(s"$dir/metadata/snap-1.avro").exists())
    // retainLast covering everything is a no-op
    assert(IcebergMaintenance.expireSnapshots(spark, dir, retainLast = 2)
      .expiredSnapshotIds.isEmpty)
    // rollback-by-republish: TWO snapshots sharing ONE manifest-list
    // file — expiring the older must NOT delete the shared list
    IcebergRead.Fixture.metadataMulti(dir, 3, 2, currentSnapshotId = 30L,
      snapshots = Seq((10L, l1), (30L, l1)),
      fields = Seq((1, "id", true, "long")))
    val shared = IcebergMaintenance.expireSnapshots(spark, dir, retainLast = 1)
    assert(shared.expiredSnapshotIds == Seq(10L))
    assert(shared.manifestListsRemoved.isEmpty && shared.manifestsRemoved.isEmpty)
    assert(new java.io.File(s"$dir/metadata/snap-1.avro").exists())
    assert(IcebergRead.read(spark, dir).count() == 10)
  }

  test("iceberg maintenance: expired snapshots stop resolving, survivors serve") {
    import graft.sources.{IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("iexp_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("iexp").toFile.getAbsolutePath + "/tbl"
    val df = (1L to 40L).map(i => (i, i * 3)).toDF("k", "v")
    TimeTravel.commitOverwrite(df.coalesce(1), base) // v1
    TimeTravel.deleteMoR(spark, base, col("k") % 5 === 2) // v2
    IcebergExport.snapshot(spark, base, tgt, formatVersion = 3) // S1 (id 2)
    TimeTravel.deleteMoR(spark, base, col("k") % 7 === 3) // v3
    IcebergExport.append(spark, base, tgt) // S2 (id 3): superseding DV
    val r = IcebergMaintenance.expireSnapshots(spark, tgt, retainLast = 1)
    assert(r.expiredSnapshotIds == Seq(2L))
    assert(r.manifestsRemoved.size == 1 && r.orphanFilesRemoved.size == 1)
    // the stranded sidecar is physically gone
    assert(r.orphanFilesRemoved.head.endsWith(".puffin"))
    assert(!new java.io.File(s"$tgt/deletes")
      .listFiles().exists(_.getName == r.orphanFilesRemoved.head))
    // survivor serves the full MoR row set; the expired id is loud
    val expect = (1L to 40L).filterNot(k => k % 5 == 2 || k % 7 == 3)
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect()
      .sorted.toSeq == expect)
    intercept[IllegalStateException](
      IcebergRead.read(spark, tgt, snapshotId = Some(2L)))
    // snapshots()/files() reflect the trimmed metadata
    assert(IcebergMaintenance.snapshots(spark, tgt).count() == 1)
    assert(IcebergMaintenance.files(spark, tgt)
      .filter(col("content") === 1).count() == 1)
  }

  test("delta replay: a gapped log dies loud; a version past the log names itself") {
    // r13 ADVICE: pre-checkpoint JSONs partially removed (an external
    // cleaner, a crashed cleanupLog) while v0 survives used to fold
    // over the gap and serve a WRONG historical snapshot — the replay
    // window must be contiguous or loud
    import graft.sources.{DeltaExport, DeltaRead, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("dgap_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("dgap").toFile.getAbsolutePath + "/tbl"
    val df = (1L to 30L).map(i => (i, i)).toDF("k", "v")
    TimeTravel.commitOverwrite(df.filter($"k" <= 10).coalesce(1), base)
    DeltaExport.snapshot(spark, base, tgt) // delta v0
    TimeTravel.commitAppend(df.filter($"k" > 10 && $"k" <= 20).coalesce(1), base)
    DeltaExport.append(spark, base, tgt) // v1
    TimeTravel.commitAppend(df.filter($"k" > 20).coalesce(1), base)
    DeltaExport.append(spark, base, tgt) // v2
    assert(DeltaRead.read(spark, tgt).count() == 30)
    // asking for a version the log never reached is a CALLER error
    val missing = intercept[IllegalArgumentException](
      DeltaRead.read(spark, tgt, Some(99L)))
    assert(missing.getMessage.contains("does not exist"), missing.getMessage)
    // retire v1 ONLY (v0 survives — the shape the old v0-presence
    // heuristic waved through): every read through the gap dies loud
    assert(new java.io.File(s"$tgt/_delta_log/00000000000000000001.json").delete())
    new java.io.File(s"$tgt/_delta_log/.00000000000000000001.json.crc").delete()
    val gapped = intercept[IllegalStateException](DeltaRead.read(spark, tgt))
    assert(gapped.getMessage.contains("not contiguous") &&
      gapped.getMessage.contains("00000000000000000001.json"), gapped.getMessage)
    val gappedTt = intercept[IllegalStateException](
      DeltaRead.read(spark, tgt, Some(2L)))
    assert(gappedTt.getMessage.contains("not contiguous"), gappedTt.getMessage)
    // v0 itself still replays: the window [0,0] has no gap
    assert(DeltaRead.read(spark, tgt, Some(0L)).count() == 10)
  }

  test("delta maintenance: vacuum reaches prefixed DV sidecars; reference keys are full paths") {
    // r13 ADVICE: a 'u'-type descriptor with a directory prefix puts
    // its sidecar in a SUBDIRECTORY — the old root-only candidate walk
    // never saw those (they accumulated forever), and name-only
    // reference keys would spare any stray file sharing a name
    import graft.sources.{DeltaExport, DeltaMaintenance, DeltaRead, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("dvpfx_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("dvpfx").toFile.getAbsolutePath + "/tbl"
    TimeTravel.commitOverwrite(
      (1L to 30L).map(i => (i, i * 2)).toDF("k", "v").coalesce(1), base) // v1
    TimeTravel.deleteMoR(spark, base, col("k") % 3 === 0) // v2
    DeltaExport.snapshot(spark, base, tgt, version = Some(1L)) // delta v0
    DeltaExport.append(spark, base, tgt) // delta v1: the DV add
    val root = new java.io.File(tgt)
    val sidecar = root.listFiles().filter(f =>
      f.getName.startsWith("deletion_vector_") && f.getName.endsWith(".bin"))
    assert(sidecar.length == 1, sidecar.map(_.getName).toSeq.toString)
    // relocate the sidecar under a prefix and rewrite the descriptor
    // to the protocol's prefixed shape (prefix ++ 20-char z85 uuid)
    val sub = new java.io.File(tgt, "pfx"); sub.mkdirs()
    java.nio.file.Files.move(sidecar.head.toPath,
      new java.io.File(sub, sidecar.head.getName).toPath)
    new java.io.File(tgt, s".${sidecar.head.getName}.crc").delete()
    val p1 = java.nio.file.Paths.get(s"$tgt/_delta_log/00000000000000000001.json")
    val body = java.nio.file.Files.readString(p1)
    val re = """"pathOrInlineDv":"([^"]{20})"""".r
    val z85 = re.findFirstMatchIn(body).getOrElse(
      fail(s"no u-type descriptor in $p1:\n$body")).group(1)
    java.nio.file.Files.writeString(p1, body.replace(
      s""""pathOrInlineDv":"$z85"""", s""""pathOrInlineDv":"pfx$z85""""))
    new java.io.File(s"$tgt/_delta_log/.00000000000000000001.json.crc").delete()
    // the prefixed descriptor still resolves and serves the MoR rows
    val expect = (1L to 30L).filterNot(_ % 3 == 0)
    assert(DeltaRead.read(spark, tgt).select("k").as[Long].collect()
      .sorted.toSeq == expect)
    // referenced through its FULL path: not a victim
    assert(DeltaMaintenance.vacuum(spark, tgt, dryRun = true).isEmpty)
    // a stray subdirectory sidecar — even one sharing the referenced
    // NAME — is found by the recursive walk and swept
    val strayDir = new java.io.File(tgt, "stray"); strayDir.mkdirs()
    val stray = new java.io.File(strayDir, sidecar.head.getName)
    java.nio.file.Files.copy(
      new java.io.File(sub, sidecar.head.getName).toPath, stray.toPath)
    assert(DeltaMaintenance.vacuum(spark, tgt, dryRun = true)
      == Seq(sidecar.head.getName))
    assert(DeltaMaintenance.vacuum(spark, tgt) == Seq(sidecar.head.getName))
    assert(!stray.exists(), "the stray subdirectory sidecar is swept")
    assert(new java.io.File(sub, sidecar.head.getName).exists(),
      "the referenced prefixed sidecar survives")
    assert(DeltaRead.read(spark, tgt).select("k").as[Long].collect()
      .sorted.toSeq == expect)
  }

  test("iceberg maintenance: expire on a scheme-qualified path deletes the real files") {
    // r13 ADVICE: the orphan sweep used to re-wrap scheme-STRIPPED
    // strings as Paths — on any non-plain path the delete targeted a
    // different location while reporting success. Deletion now keeps
    // the original resolved Path; drive it through a file:-qualified
    // table path end to end.
    import graft.sources.{IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
    import spark.implicits._
    val base = Files.createTempDirectory("iexps_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("iexps").toFile.getAbsolutePath + "/tbl"
    val df = (1L to 40L).map(i => (i, i * 3)).toDF("k", "v")
    TimeTravel.commitOverwrite(df.coalesce(1), base)
    TimeTravel.deleteMoR(spark, base, col("k") % 5 === 2)
    IcebergExport.snapshot(spark, base, tgt, formatVersion = 3) // S1
    TimeTravel.deleteMoR(spark, base, col("k") % 7 === 3)
    IcebergExport.append(spark, base, tgt) // S2: superseding DV
    val r = IcebergMaintenance.expireSnapshots(spark, s"file:$tgt", retainLast = 1)
    assert(r.expiredSnapshotIds.size == 1)
    assert(r.orphanFilesRemoved.size == 1 &&
      r.orphanFilesRemoved.head.endsWith(".puffin"))
    assert(!new java.io.File(s"$tgt/deletes")
      .listFiles().exists(_.getName == r.orphanFilesRemoved.head),
      "the reported orphan must be PHYSICALLY gone at its real path")
    val expect = (1L to 40L).filterNot(k => k % 5 == 2 || k % 7 == 3)
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect()
      .sorted.toSeq == expect)
  }

  test("timestampNtz: delta feature + iceberg zoneless type serve end to end") {
    // r13 verdict #1: a modern table with a TIMESTAMP_NTZ column used
    // to decline even though Spark 4 has the type natively. Both
    // directions now speak it: the Delta export names the
    // `timestampNtz` table feature and the reader honors it; the
    // Iceberg mapping distinguishes zoneless `timestamp` (→ NTZ) from
    // `timestamptz` (→ instant) in both directions.
    import graft.sources.{DeltaExport, DeltaRead, IcebergExport, IcebergRead, TimeTravel}
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    import spark.implicits._
    val base = Files.createTempDirectory("ntz_src").toFile.getAbsolutePath
    val dtgt = Files.createTempDirectory("ntz_d").toFile.getAbsolutePath + "/tbl"
    val itgt = Files.createTempDirectory("ntz_i").toFile.getAbsolutePath + "/tbl"
    val df = (1L to 9L).toDF("k").select(col("k"),
      expr("make_timestamp_ntz(2021, 3, CAST(k AS INT), 10, 30, 0)").as("ts_ntz"),
      expr("make_timestamp(2021, 3, CAST(k AS INT), 10, 30, 0)").as("ts_tz"))
    assert(df.schema("ts_ntz").dataType == TimestampNTZType)
    TimeTravel.commitOverwrite(df.coalesce(1), base)
    def strings(g: org.apache.spark.sql.DataFrame): Set[(Long, String, String)] =
      g.selectExpr("k", "CAST(ts_ntz AS STRING)", "CAST(ts_tz AS STRING)")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val want = strings(df)
    // --- Delta: the export names the feature, the reader honors it
    DeltaExport.snapshot(spark, base, dtgt)
    val v0 = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dtgt/_delta_log/00000000000000000000.json"))
    assert(v0.contains("\"timestampNtz\"") &&
      v0.contains("\"minReaderVersion\":3"), v0)
    val dgot = DeltaRead.read(spark, dtgt)
    assert(dgot.schema("ts_ntz").dataType == TimestampNTZType)
    assert(dgot.schema("ts_tz").dataType == TimestampType)
    assert(strings(dgot) == want)
    // NTZ stats bounds skip files: three banded commits, a day-range
    // filter on the NTZ column plans exactly one of the three
    val base2 = Files.createTempDirectory("ntz_src2").toFile.getAbsolutePath
    val dtgt2 = Files.createTempDirectory("ntz_d2").toFile.getAbsolutePath + "/tbl"
    def band(lo: Long, hi: Long) = (lo to hi).toDF("k").select(col("k"),
      expr("make_timestamp_ntz(2021, 3, CAST(k AS INT), 10, 30, 0)").as("ts_ntz"))
    TimeTravel.commitOverwrite(band(1, 3).coalesce(1), base2)
    TimeTravel.commitAppend(band(4, 6).coalesce(1), base2)
    TimeTravel.commitAppend(band(7, 9).coalesce(1), base2)
    DeltaExport.snapshot(spark, base2, dtgt2)
    val probe = DeltaRead.read(spark, dtgt2).filter(expr(
      "ts_ntz >= TIMESTAMP_NTZ'2021-03-04 00:00:00' AND " +
        "ts_ntz <= TIMESTAMP_NTZ'2021-03-06 23:00:00'"))
    val scans = probe.queryExecution.executedPlan.collect {
      case sc: org.apache.spark.sql.execution.FileSourceScanExec => sc
    }
    assert(probe.collect().map(_.getLong(0)).toSet == (4L to 6L).toSet)
    assert(scans.head.metrics("numFiles").value == 1,
      s"NTZ bounds must prune to one file, scanned " +
        s"${scans.head.metrics("numFiles").value}")
    // --- Iceberg: zoneless <-> NTZ, timestamptz <-> instant
    IcebergExport.snapshot(spark, base, itgt)
    val metaTxt = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$itgt/metadata/v1.metadata.json"))
    assert(metaTxt.contains("\"timestamptz\"") &&
      metaTxt.contains("\"timestamp\""), metaTxt)
    val ig = IcebergRead.read(spark, itgt)
    assert(ig.schema("ts_ntz").dataType == TimestampNTZType)
    assert(ig.schema("ts_tz").dataType == TimestampType)
    assert(strings(ig) == want)
  }

  test("iceberg refs: branch/tag reads resolve by name; expire guards ref targets") {
    // r13 verdict #4: named refs. A two-branch fixture must serve
    // branch-pinned reads identical to snapshot-id reads, surface a
    // refs metadata table, and refuse to expire a snapshot a ref
    // still names.
    import graft.sources.{IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
    import spark.implicits._
    val dir = Files.createTempDirectory("irefs").toFile.getAbsolutePath
    val data = Files.createTempDirectory("irefs_data").toFile.getAbsolutePath
    def stage(name: String, rows: Seq[Long]): String = {
      rows.toDF("id").coalesce(1).write.mode("overwrite").parquet(s"$data/$name")
      new java.io.File(s"$data/$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get.getAbsolutePath
    }
    val fA = stage("a", 1L to 10L)
    val fB = stage("b", 11L to 15L)
    val mA = IcebergRead.Fixture.manifest(dir, "mA.avro", Seq((1, fA, 0)))
    val mB = IcebergRead.Fixture.manifest(dir, "mB.avro", Seq((1, fB, 0)))
    val l1 = IcebergRead.Fixture.manifestList(dir, "snap-10.avro", Seq(mA))
    val l2 = IcebergRead.Fixture.manifestList(dir, "snap-20.avro", Seq(mA, mB))
    IcebergRead.Fixture.metadataMulti(dir, 1, 2, currentSnapshotId = 20L,
      snapshots = Seq((10L, l1), (20L, l2)),
      fields = Seq((1, "id", true, "long")),
      refs = Map("main" -> ((20L, "branch")), "hist" -> ((10L, "branch")),
        "rel-1.0" -> ((10L, "tag"))))
    // branch-pinned read ≡ snapshot-id read, both branches
    assert(IcebergRead.readRef(spark, dir, "hist").as[Long].collect().toSet ==
      IcebergRead.read(spark, dir, snapshotId = Some(10L)).as[Long].collect().toSet)
    assert(IcebergRead.readRef(spark, dir, "main").as[Long].collect().toSet ==
      (1L to 15L).toSet)
    assert(IcebergRead.readRef(spark, dir, "rel-1.0").as[Long].collect().toSet ==
      (1L to 10L).toSet, "a tag read serves its pinned snapshot")
    val eRef = intercept[IllegalArgumentException](
      IcebergRead.readRef(spark, dir, "nope"))
    assert(eRef.getMessage.contains("known refs"), eRef.getMessage)
    // the refs metadata table
    val refRows = IcebergMaintenance.refs(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(refRows == Set(("main", "branch", 20L), ("hist", "branch", 10L),
      ("rel-1.0", "tag", 10L)), refRows.toString)
    // expire refuses to dangle a ref
    val eExp = intercept[IllegalArgumentException](
      IcebergMaintenance.expireSnapshots(spark, dir, retainLast = 1))
    assert(eExp.getMessage.contains("ref"), eExp.getMessage)
    // exported tables maintain a main branch ref across publishes
    val base = Files.createTempDirectory("irefs_src").toFile.getAbsolutePath
    val tgt = Files.createTempDirectory("irefs_tgt").toFile.getAbsolutePath + "/tbl"
    TimeTravel.commitOverwrite((1L to 8L).map(i => (i, i)).toDF("k", "v"), base)
    IcebergExport.snapshot(spark, base, tgt)
    TimeTravel.commitAppend(Seq((9L, 9L)).toDF("k", "v"), base)
    IcebergExport.append(spark, base, tgt)
    val mainRef = IcebergMaintenance.refs(spark, tgt).collect()
    assert(mainRef.length == 1 && mainRef.head.getString(0) == "main")
    assert(IcebergRead.readRef(spark, tgt, "main").select("k").as[Long]
      .collect().toSet == (1L to 9L).toSet)
  }

  test("iceberg equality-delete write-back: content=2 publishes, ordering holds, v2 and v3") {
    // r13 verdict #5 — the Flink-CDC producer shape: a key-frame
    // publishes as a content=2 delete file + manifest at the next
    // sequence number. The ordering pin: rows appended AFTER the
    // delete survive the same key (data.seq > delete.seq), while all
    // older rows with the key die.
    import graft.sources.{IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
    import spark.implicits._
    Seq(2, 3).foreach { fv =>
      val base = Files.createTempDirectory(s"ieq_src$fv").toFile.getAbsolutePath
      val tgt = Files.createTempDirectory(s"ieq$fv").toFile.getAbsolutePath + "/tbl"
      TimeTravel.commitOverwrite(
        (1L to 10L).map(i => (i, i * 10)).toDF("k", "v").coalesce(1), base)
      IcebergExport.snapshot(spark, base, tgt, formatVersion = fv) // S1
      val sid = IcebergExport.appendEqualityDeletes(spark, tgt,
        Seq(3L, 7L).toDF("k"))
      assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet
        == (1L to 10L).toSet -- Set(3L, 7L), s"fv$fv: keys 3/7 die")
      // the manifest carries a real content=2 entry
      assert(IcebergMaintenance.files(spark, tgt)
        .filter(col("content") === 2).count() == 1, s"fv$fv")
      // a LATER append re-adds key 3: it must SURVIVE the older delete
      TimeTravel.commitAppend(Seq((3L, 333L)).toDF("k", "v").coalesce(1), base)
      IcebergExport.append(spark, base, tgt) // S3, higher sequence
      val now = IcebergRead.read(spark, tgt).select("k", "v")
        .as[(Long, Long)].collect().toSet
      assert(now == ((1L to 10L).toSet -- Set(3L, 7L))
        .map(i => (i, i * 10)) + ((3L, 333L)),
        s"fv$fv: post-delete rows survive the same key: $now")
      // the delete-era snapshot still serves its pinned view
      assert(IcebergRead.read(spark, tgt, snapshotId = Some(sid))
        .select("k").as[Long].collect().toSet == (1L to 10L).toSet -- Set(3L, 7L),
        s"fv$fv: snapshot-pinned read")
      // unknown / mistyped key columns are loud
      val eCol = intercept[IllegalArgumentException](
        IcebergExport.appendEqualityDeletes(spark, tgt, Seq(1L).toDF("nope")))
      assert(eCol.getMessage.contains("not in the table schema"), eCol.getMessage)
      val eTyp = intercept[IllegalArgumentException](
        IcebergExport.appendEqualityDeletes(spark, tgt, Seq(1).toDF("k")))
      assert(eTyp.getMessage.contains("in the keys"), eTyp.getMessage)
    }
  }

  test("variant columns read on both formats; geo types stay declined") {
    // r13 verdict #6: Spark 4 has VariantType and speaks the shared
    // Variant parquet encoding — a Delta table requiring the
    // `variantType` feature and an Iceberg v3 `variant` field both
    // serve, with variant_get extracting typed values; Iceberg geo
    // types keep their named decline.
    import graft.sources.{DeltaRead, IcebergRead}
    import org.apache.spark.sql.types.{LongType, StructField, StructType, VariantType}
    import spark.implicits._
    // stage one parquet with (k BIGINT, var VARIANT)
    val stage = Files.createTempDirectory("var_stage").toFile.getAbsolutePath
    (1L to 6L).toDF("k")
      .select(col("k"), parse_json(
        concat(lit("""{"a":"""), col("k") * 2, lit(""","b":"x"}"""))).as("var"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    val pf = new java.io.File(stage).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("var", VariantType)))
    val esc = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    // --- Delta: reader feature variantType
    val ddir = Files.createTempDirectory("var_d").toFile.getAbsolutePath + "/t"
    new java.io.File(ddir).mkdirs()
    java.nio.file.Files.copy(pf.toPath, java.nio.file.Paths.get(s"$ddir/f1.parquet"))
    writeDeltaCommit(ddir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["variantType"],"writerFeatures":["variantType"]}}""",
      s"""{"metaData":{"id":"varfix","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val dgot = DeltaRead.read(spark, ddir)
    assert(dgot.schema("var").dataType == VariantType)
    assert(dgot.selectExpr("k", "CAST(variant_get(var, '$.a', 'bigint') AS BIGINT)")
      .as[(Long, Long)].collect().toSet == (1L to 6L).map(i => (i, i * 2)).toSet,
      "variant_get must extract through the Delta read")
    // an UNKNOWN feature still declines by name
    val ddir2 = Files.createTempDirectory("var_d2").toFile.getAbsolutePath + "/t"
    new java.io.File(ddir2).mkdirs()
    java.nio.file.Files.copy(pf.toPath, java.nio.file.Paths.get(s"$ddir2/f1.parquet"))
    writeDeltaCommit(ddir2, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["collations"],"writerFeatures":["collations"]}}""",
      s"""{"metaData":{"id":"varfix2","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eTw = intercept[UnsupportedOperationException](DeltaRead.read(spark, ddir2))
    assert(eTw.getMessage.contains("collations"), eTw.getMessage)
    // --- Iceberg v3: variant field type
    val idir = Files.createTempDirectory("var_i").toFile.getAbsolutePath
    val dataF = Files.createTempDirectory("var_if").toFile.getAbsolutePath + "/f1.parquet"
    java.nio.file.Files.copy(pf.toPath, java.nio.file.Paths.get(dataF))
    val m1 = IcebergRead.Fixture.manifest(idir, "m1.avro", Seq((1, dataF, 0)))
    val l1 = IcebergRead.Fixture.manifestList(idir, "snap-1.avro", Seq(m1))
    IcebergRead.Fixture.metadataMulti(idir, 1, 3, currentSnapshotId = 1L,
      snapshots = Seq((1L, l1)),
      fields = Seq((1, "k", true, "long"), (2, "var", false, "variant")))
    val igot = IcebergRead.read(spark, idir)
    assert(igot.schema("var").dataType == VariantType)
    assert(igot.selectExpr("k", "CAST(variant_get(var, '$.a', 'bigint') AS BIGINT)")
      .as[(Long, Long)].collect().toSet == (1L to 6L).map(i => (i, i * 2)).toSet,
      "variant_get must extract through the Iceberg v3 read")
    // geo stays a named decline
    val gdir = Files.createTempDirectory("var_g").toFile.getAbsolutePath
    val mg = IcebergRead.Fixture.manifest(gdir, "m1.avro", Seq((1, dataF, 0)))
    val lg = IcebergRead.Fixture.manifestList(gdir, "snap-1.avro", Seq(mg))
    IcebergRead.Fixture.metadataMulti(gdir, 1, 3, currentSnapshotId = 1L,
      snapshots = Seq((1L, lg)),
      fields = Seq((1, "k", true, "long"), (2, "shape", false, "geometry")))
    val eGeo = intercept[UnsupportedOperationException](
      IcebergRead.read(spark, gdir))
    assert(eGeo.getMessage.contains("geo types"), eGeo.getMessage)
  }

  test("puffin lz4 footers decode through the zero-dependency frame reader") {
    // r13 verdict #7: an external writer's compressed footer now parses
    // instead of declining. Frames are hand-crafted: one block with a
    // real LZ4 match sequence (the RLE back-copy), one stored block,
    // content-size and block-checksum framing exercised.
    import graft.sources.Puffin
    def leInt(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def lz4LiteralsBlock(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val base = math.min(15, data.length)
      out.write(base << 4)
      if (base == 15) {
        var rem = data.length - 15
        while (rem >= 255) { out.write(255); rem -= 255 }
        out.write(rem)
      }
      out.write(data)
      out.toByteArray
    }
    def frame(blocks: Seq[(Array[Byte], Boolean)], contentSize: Option[Long],
        blockChecksums: Boolean = false): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(leInt(0x184d2204))
      out.write(0x40 | (if (contentSize.nonEmpty) 0x08 else 0) |
        (if (blockChecksums) 0x10 else 0)) // FLG: version 01
      out.write(0x40) // BD: 64 KB blocks
      contentSize.foreach { cs =>
        out.write(java.nio.ByteBuffer.allocate(8)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(cs).array())
      }
      out.write(0) // header checksum byte (parsed past)
      blocks.foreach { case (b, stored) =>
        out.write(leInt(if (stored) b.length | 0x80000000 else b.length))
        out.write(b)
        if (blockChecksums) out.write(leInt(0)) // parsed past
      }
      out.write(leInt(0)) // end mark
      out.toByteArray
    }
    // hand-crafted MATCH sequence: "abcd" literals + offset-4 len-12
    // match -> "abcd" * 4
    val matchBlock = Array[Byte](0x48, 'a', 'b', 'c', 'd', 0x04, 0x00)
    val expect1 = "abcdabcdabcdabcd".getBytes("UTF-8")
    assert(Puffin.lz4FrameDecompress(frame(
      Seq((matchBlock, false)), Some(16L))).toSeq == expect1.toSeq)
    // multi-block: compressed literals + stored block, checksummed
    val lit = "hello lz4 world ".getBytes("UTF-8")
    val stored = "stored!".getBytes("UTF-8")
    val got2 = Puffin.lz4FrameDecompress(frame(
      Seq((lz4LiteralsBlock(lit), false), (stored, true)),
      Some((lit.length + stored.length).toLong), blockChecksums = true))
    assert(got2.toSeq == (lit ++ stored).toSeq)
    // a WRONG content size is loud
    intercept[IllegalArgumentException](Puffin.lz4FrameDecompress(frame(
      Seq((matchBlock, false)), Some(99L))))
    // end to end: rewrite a real DV sidecar's footer as an lz4 frame —
    // footer() must serve the same blob descriptors
    import spark.implicits._
    val dir = Files.createTempDirectory("plz4").toFile.getAbsolutePath
    val pf = s"$dir/dv.puffin"
    val refs = Puffin.writeDvFile(spark, pf,
      Seq(("f1.parquet", Seq(1L, 5L, 9L)), ("f2.parquet", Seq(2L))), 7L, 3L)
    val (blobsPlain, _) = Puffin.footer(spark, pf)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(pf))
    val size = java.nio.ByteBuffer.wrap(bytes, bytes.length - 12, 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
    val payloadStart = bytes.length - 12 - size
    val payload = java.util.Arrays.copyOfRange(bytes, payloadStart, payloadStart + size)
    val framed = frame(Seq((lz4LiteralsBlock(payload), false)),
      Some(payload.length.toLong))
    val out = new java.io.ByteArrayOutputStream()
    out.write(bytes, 0, payloadStart - 4) // head + blobs + (we re-add magic)
    out.write("PFA1".getBytes("UTF-8"))
    out.write(framed)
    out.write(leInt(framed.length))
    out.write(Array[Byte](0x1, 0, 0, 0)) // flags: footer-compressed
    out.write("PFA1".getBytes("UTF-8"))
    val pf2 = s"$dir/dv_lz4.puffin"
    java.nio.file.Files.write(java.nio.file.Paths.get(pf2), out.toByteArray)
    val (blobsLz4, _) = Puffin.footer(spark, pf2)
    assert(blobsLz4 == blobsPlain,
      "the compressed footer must serve the exact same blob descriptors")
    // the blob payloads themselves still read (footer never gates them)
    refs.zip(blobsLz4).foreach { case (r, b) =>
      assert(Puffin.dvPositions(spark, pf2, b.offset, b.length).toSeq
        == Puffin.dvPositions(spark, pf, r.offset, r.length).toSeq)
    }
  }

  test("delta foreign append: seeded randomized sweep vs in-memory model") {
    // the r14 write path under randomized shapes: partitioned and
    // unpartitioned tables, null partition values, shuffled column
    // order, several appends — the replay must equal the model exactly
    import graft.sources.{DeltaExport, DeltaRead}
    import spark.implicits._
    val rnd = new scala.util.Random(0xF04E16L)
    (1 to 4).foreach { trial =>
      val partitioned = rnd.nextBoolean()
      val dir = Files.createTempDirectory(s"dfsw$trial").toFile.getAbsolutePath + "/t"
      new java.io.File(dir).mkdirs()
      writeDeltaPart(dir, "f1.parquet", Seq((0L, 0L)))
      val pv0 = if (partitioned) """{"p":"seed"}""" else "{}"
      writeDeltaCommit(dir, 0, Seq(
        """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        metaAction(partitioned),
        s"""{"add":{"path":"f1.parquet","partitionValues":$pv0,"size":1,"modificationTime":1,"dataChange":true}}"""))
      val model = scala.collection.mutable.Set[(Long, Long, String)](
        (0L, 0L, if (partitioned) "seed" else null))
      var nextId = 1L
      (1 to 2 + rnd.nextInt(3)).foreach { _ =>
        val rows = (0 until 1 + rnd.nextInt(6)).map { _ =>
          val pp = if (!partitioned) null
            else rnd.nextInt(4) match { case 0 => null; case i => s"p$i" }
          val t = (nextId, rnd.nextInt(100).toLong, pp)
          nextId += 1
          t
        }
        rows.foreach(model += _)
        val df = if (partitioned) rows.toDF("id", "v", "p")
          else rows.map(r => (r._1, r._2)).toDF("id", "v")
        val maybeShuffled =
          if (rnd.nextBoolean()) df.select(df.columns.reverse.map(col): _*)
          else df
        DeltaExport.appendForeign(spark, maybeShuffled, dir): Unit
      }
      val got = DeltaRead.read(spark, dir)
      val gotSet =
        if (partitioned) got.select("id", "v", "p").collect()
          .map(r => (r.getLong(0), r.getLong(1),
            if (r.isNullAt(2)) null else r.getString(2))).toSet
        else got.select("id", "v").collect()
          .map(r => (r.getLong(0), r.getLong(1), null: String)).toSet
      assert(gotSet == model.toSet,
        s"trial $trial (partitioned=$partitioned):\n got=$gotSet\nwant=$model")
    }
  }

  test("iceberg equality deletes: seeded randomized interleave of appends and key deletes") {
    // write-back sweep (pairs with the reader-model sweep): random
    // interleavings of appends and appendEqualityDeletes on BOTH
    // format versions — a key delete kills every strictly-older row
    // with the key; later appends resurrect it
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    val rnd = new scala.util.Random(0xE0DE1E7EL)
    (1 to 3).foreach { trial =>
      val fv = if (rnd.nextBoolean()) 2 else 3
      val base = Files.createTempDirectory(s"ieqsw${trial}_src").toFile.getAbsolutePath
      val tgt = Files.createTempDirectory(s"ieqsw$trial").toFile.getAbsolutePath + "/tbl"
      var rowId = 0L
      def fresh(keys: Seq[Long]): Seq[(Long, Long)] =
        keys.map { k => rowId += 1; (k, rowId) }
      val init = fresh((0L until 8L).map(_ => rnd.nextInt(6).toLong))
      TimeTravel.commitOverwrite(init.toDF("k", "v").coalesce(1), base)
      IcebergExport.snapshot(spark, base, tgt, formatVersion = fv)
      val live = scala.collection.mutable.Set[(Long, Long)](init: _*)
      (1 to 3 + rnd.nextInt(3)).foreach { _ =>
        if (rnd.nextBoolean()) {
          val rows = fresh((0 until 1 + rnd.nextInt(5)).map(_ => rnd.nextInt(6).toLong))
          live ++= rows
          TimeTravel.commitAppend(rows.toDF("k", "v").coalesce(1), base)
          IcebergExport.append(spark, base, tgt): Unit
        } else {
          val keys = (0 until 1 + rnd.nextInt(3)).map(_ => rnd.nextInt(6).toLong).distinct
          live.filterInPlace { case (k, _) => !keys.contains(k) }
          IcebergExport.appendEqualityDeletes(spark, tgt, keys.toDF("k")): Unit
        }
      }
      val got = IcebergRead.read(spark, tgt).select("k", "v")
        .as[(Long, Long)].collect().toSet
      assert(got == live.toSet,
        s"trial $trial fv$fv:\n got=${got.toSeq.sorted}\nwant=${live.toSeq.sorted}")
    }
  }

  test("puffin lz4: seeded randomized roundtrips through a greedy reference encoder") {
    // real matches, extended lengths, overlapping RLE copies — a
    // brute-force greedy encoder (test-only) generates them from
    // repetitive random payloads and the decoder must invert exactly
    import graft.sources.Puffin
    def encode(data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var anchor = 0
      var i = 0
      def writeSeq(litEnd: Int, matchLen: Int, offset: Int): Unit = {
        val litLen = litEnd - anchor
        val tokenLit = math.min(15, litLen)
        val tokenMatch = if (matchLen == 0) 0 else math.min(15, matchLen - 4)
        out.write((tokenLit << 4) | tokenMatch)
        if (tokenLit == 15) {
          var rem = litLen - 15
          while (rem >= 255) { out.write(255); rem -= 255 }
          out.write(rem)
        }
        out.write(data, anchor, litLen)
        if (matchLen > 0) {
          out.write(offset & 0xff); out.write((offset >> 8) & 0xff)
          if (tokenMatch == 15) {
            var rem = matchLen - 4 - 15
            while (rem >= 255) { out.write(255); rem -= 255 }
            out.write(rem)
          }
        }
      }
      while (i < data.length) {
        var bestLen = 0; var bestOff = 0
        var j = math.max(0, i - 512)
        while (j < i) {
          var l = 0
          while (i + l < data.length && data(j + l) == data(i + l)) l += 1
          if (l >= 4 && l > bestLen) { bestLen = l; bestOff = i - j }
          j += 1
        }
        if (bestLen >= 4) {
          writeSeq(i, bestLen, bestOff)
          i += bestLen
          anchor = i
        } else i += 1
      }
      if (anchor < data.length) writeSeq(data.length, 0, 0)
      out.toByteArray
    }
    def leInt(v: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    def frame(block: Array[Byte], contentSize: Long): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(leInt(0x184d2204)); out.write(0x48); out.write(0x40)
      out.write(java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(contentSize).array())
      out.write(0)
      out.write(leInt(block.length)); out.write(block)
      out.write(leInt(0))
      out.toByteArray
    }
    val rnd = new scala.util.Random(0x124C0DEL)
    val words = Seq("alpha", "bravo", "charlie", "deltadelta", "{\"k\":",
      "0123456789", "}\n", "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa")
    (1 to 8).foreach { trial =>
      val sb = new StringBuilder
      (0 until 20 + rnd.nextInt(400)).foreach { _ =>
        sb.append(words(rnd.nextInt(words.size)))
        if (rnd.nextInt(5) == 0) sb.append(rnd.nextInt(1000))
      }
      val data = sb.toString.getBytes("UTF-8")
      val compressed = encode(data)
      val got = Puffin.lz4FrameDecompress(frame(compressed, data.length.toLong))
      assert(java.util.Arrays.equals(got, data),
        s"trial $trial: roundtrip diverged at size ${data.length} " +
          s"(compressed ${compressed.length})")
      assert(compressed.length < data.length,
        s"trial $trial: the encoder found no matches — sweep is vacuous")
    }
  }

  test("delta foreign append: commits into a table another engine created") {
    // r13 verdict #2: appendForeign stages rows as new parquet inside
    // the table root and publishes a put-if-absent commit — into a
    // FOREIGN log built by the independent fixture path, partition
    // values riding the log, schema/protocol validated first
    import graft.sources.{DeltaExport, DeltaRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("dforeign").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 5L).map(i => (i, i * 10)))
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(partitioned = true),
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val add = Seq((6L, 60L, "a"), (7L, 70L, "b"), (8L, 80L, "b"))
      .toDF("id", "v", "p")
    val v1 = DeltaExport.appendForeign(spark, add, dir)
    assert(v1 == 1L)
    val got = DeltaRead.read(spark, dir)
    assert(got.select("id", "v", "p").as[(Long, Long, String)].collect().toSet ==
      ((1L to 5L).map(i => (i, i * 10, "a")) ++
        Seq((6L, 60L, "a"), (7L, 70L, "b"), (8L, 80L, "b"))).toSet,
      "appended rows serve with log-borne partition values")
    // the appended files live INSIDE the table root with relative adds
    val v1Json = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dir/_delta_log/00000000000000000001.json"))
    assert(!v1Json.contains("file:/"), s"foreign adds must be relative: $v1Json")
    assert(v1Json.contains("\"stats\""), "appended adds carry footer stats")
    // schema mismatch is loud
    val bad = Seq((9L, "x", "a")).toDF("id", "v", "p")
    val eScm = intercept[UnsupportedOperationException](
      DeltaExport.appendForeign(spark, bad, dir))
    assert(eScm.getMessage.contains("does not match"), eScm.getMessage)
    // CHECK constraints / id-mode mapping / unknown writer features
    // decline by name rather than committing past obligations
    val dirC = Files.createTempDirectory("dforeign_c").toFile.getAbsolutePath + "/t"
    new java.io.File(dirC).mkdirs()
    writeDeltaPart(dirC, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dirC, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      metaAction(partitioned = false).replace(""""configuration":{}""",
        """"configuration":{"delta.constraints.positive":"v > 0"}"""),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eCons = intercept[UnsupportedOperationException](
      DeltaExport.appendForeign(spark, Seq((2L, 2L)).toDF("id", "v"), dirC))
    assert(eCons.getMessage.contains("CHECK constraint"), eCons.getMessage)
    val dirW = Files.createTempDirectory("dforeign_w").toFile.getAbsolutePath + "/t"
    new java.io.File(dirW).mkdirs()
    writeDeltaPart(dirW, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dirW, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[],"writerFeatures":["rowTracking"]}}""",
      metaAction(partitioned = false),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eFeat = intercept[UnsupportedOperationException](
      DeltaExport.appendForeign(spark, Seq((2L, 2L)).toDF("id", "v"), dirW))
    assert(eFeat.getMessage.contains("rowTracking"), eFeat.getMessage)
  }

  test("delta foreign append: name-mode mapped tables write physical names; writers race safely") {
    import graft.sources.{DeltaExport, DeltaRead}
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    // name-mode mapped foreign table: the append must write the
    // PHYSICAL column names into its files or every later read serves
    // nulls
    val dir = Files.createTempDirectory("dforeign_cm").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def pn(phys: String) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, pn("col-aaa")),
      StructField("v", LongType, nullable = true, pn("col-bbb"))))
    val esc = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    val tmp = Files.createTempDirectory("dforeign_cm_stage").toFile.getAbsolutePath
    Seq((1L, 10L)).toDF("col-aaa", "col-bbb")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val pf = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(pf.toPath, java.nio.file.Paths.get(s"$dir/f1.parquet"))
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"fcm","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaExport.appendForeign(spark, Seq((2L, 20L), (3L, 30L)).toDF("id", "v"), dir)
    assert(DeltaRead.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)),
      "mapped append must land under physical names")
    // concurrent writers: every append lands, each at its own version,
    // and no rows are lost (the OCC put-if-absent shape)
    val dirR = Files.createTempDirectory("dforeign_race").toFile.getAbsolutePath + "/t"
    new java.io.File(dirR).mkdirs()
    writeDeltaPart(dirR, "f1.parquet", Seq((0L, 0L)))
    writeDeltaCommit(dirR, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(partitioned = false),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 4).map { w =>
      Future(DeltaExport.appendForeign(spark,
        Seq((w.toLong * 100, w.toLong)).toDF("id", "v"), dirR))
    }
    val versions = Await.result(Future.sequence(futures), 120.seconds)
    assert(versions.toSet.size == 4, s"each writer its own version: $versions")
    assert(DeltaRead.read(spark, dirR).select("id").as[Long].collect().toSet ==
      Set(0L, 100L, 200L, 300L, 400L), "no concurrent append may be lost")
  }

  test("delta foreign append: id-mode mapped tables write parquet field ids") {
    // r14 verdict #7: the read path resolves id-mode tables by
    // parquet field id (footers may carry ARBITRARY column names); the
    // write path must therefore tag its staged files with the
    // schema's delta.columnMapping.ids — a name-only append would
    // serve nulls through every id-binding reader.
    import graft.sources.{DeltaExport, DeltaRead}
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("dforeign_id").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def idMeta(id: Long) = new MetadataBuilder().putLong("parquet.field.id", id).build()
    // the seed file binds ids 1/2 under names NO mapping mentions
    val seed = Seq((1L, 10L)).toDF("a", "b").select(
      col("a").as("zz_a", idMeta(1)), col("b").as("zz_b", idMeta(2)))
    val tmp = Files.createTempDirectory("dfid_stage").toFile.getAbsolutePath
    seed.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      java.nio.file.Paths.get(s"$dir/fA.parquet")): Unit
    def fmeta(id: Long, phys: String) = new MetadataBuilder()
      .putLong("delta.columnMapping.id", id)
      .putString("delta.columnMapping.physicalName", phys).build()
    val esc = StructType(Seq(
      StructField("id", LongType, nullable = true, fmeta(1, "col-1")),
      StructField("cents", LongType, nullable = true, fmeta(2, "col-2")))).json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"idmfor","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id","delta.columnMapping.maxColumnId":"2"}}}""",
      """{"add":{"path":"fA.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaExport.appendForeign(spark,
      Seq((2L, 20L), (3L, 30L)).toDF("id", "cents"), dir)
    assert(DeltaRead.read(spark, dir).select("id", "cents")
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)),
      "seed and appended files both resolve by field id")
    // the staged file itself carries the ids (physical names ride too)
    val conf = spark.sessionState.newHadoopConf()
    val newPart = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    val pschema = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(newPart.getAbsolutePath), conf))
      .getFooter.getFileMetaData.getSchema
    assert(Seq("col-1", "col-2").map(n =>
      pschema.getType(Seq(n): _*).getId.intValue()) == Seq(1, 2),
      s"staged id-mode files must carry field ids: $pschema")
    // a field missing its id still dies loudly before any write
    val dir2 = Files.createTempDirectory("dforeign_id2").toFile.getAbsolutePath + "/t"
    new java.io.File(dir2).mkdirs()
    writeDeltaPart(dir2, "f1.parquet", Seq((1L, 1L)))
    val escBad = StructType(Seq(
      StructField("id", LongType, nullable = true, fmeta(1, "col-1")),
      StructField("v", LongType))).json
      .replace("\\", "\\\\").replace("\"", "\\\"")
    writeDeltaCommit(dir2, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"idmforbad","format":{"provider":"parquet","options":{}},"schemaString":"$escBad","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val e = intercept[IllegalStateException](
      DeltaExport.appendForeign(spark, Seq((2L, 2L)).toDF("id", "v"), dir2))
    assert(e.getMessage.contains("delta.columnMapping.id"), e.getMessage)
  }

  test("delta foreign append: NOT NULL columns are enforced, nested non-nullable declines") {
    // r14 ADVICE: the spec makes NOT NULL a writer obligation — an
    // appender that cannot validate it must not commit past it. Top
    // level validates with one aggregate; nested declines by name.
    import graft.sources.{DeltaExport, DeltaRead}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import spark.implicits._
    val dir = Files.createTempDirectory("dforeign_nn").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", Seq((1L, 10L)))
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", LongType, nullable = true)))
    val esc = schema.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"fnn","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val withNull = Seq((Some(2L), Some(20L)), (None, Some(30L)))
      .toDF("id", "v")
    val e = intercept[IllegalArgumentException](
      DeltaExport.appendForeign(spark, withNull, dir))
    assert(e.getMessage.contains("NOT NULL") && e.getMessage.contains("id"),
      e.getMessage)
    assert(DeltaRead.read(spark, dir).count() == 1,
      "a rejected append must not commit")
    DeltaExport.appendForeign(spark, Seq((2L, 20L)).toDF("id", "v"), dir)
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      Set(1L, 2L), "null-free appends into NOT NULL columns land")
    // nested non-nullable: validation would need per-field traversal —
    // decline by name, the invariants stance
    val dirN = Files.createTempDirectory("dforeign_nest").toFile.getAbsolutePath + "/t"
    new java.io.File(dirN).mkdirs()
    writeDeltaPart(dirN, "f1.parquet", Seq((1L, 10L)))
    val nested = StructType(Seq(
      StructField("id", LongType, nullable = true),
      StructField("s", StructType(Seq(
        StructField("x", LongType, nullable = false))), nullable = true)))
    val escN = nested.json.replace("\\", "\\\\").replace("\"", "\\\"")
    writeDeltaCommit(dirN, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"fnest","format":{"provider":"parquet","options":{}},"schemaString":"$escN","partitionColumns":[],"configuration":{}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val frame = spark.createDataFrame(
      java.util.List.of[org.apache.spark.sql.Row](), nested)
    val eN = intercept[UnsupportedOperationException](
      DeltaExport.appendForeign(spark, frame, dirN))
    assert(eN.getMessage.contains("nested non-nullable"), eN.getMessage)
  }

  test("delta foreign delete: copy-on-write rewrite into a table another engine created") {
    // r15: deleteForeign — the symmetric half of appendForeign. A
    // fully-matching file publishes as a pure remove; a partially-
    // matching file rewrites to its survivors under the same partition
    // tuple; untouched files are never mentioned, never rewritten.
    import graft.sources.{DeltaExport, DeltaRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("dfdel").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 5L).map(i => (i, i * 10)))
    writeDeltaPart(dir, "f2.parquet", (6L to 10L).map(i => (i, i * 10)))
    writeDeltaPart(dir, "f3.parquet", (11L to 15L).map(i => (i, i * 10)))
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(partitioned = true),
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{"p":"b"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"f3.parquet","partitionValues":{"p":"b"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val f1Bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/f1.parquet"))
    // ids 6..12 in partition b: f2 matches FULLY, f3 partially, f1 not
    val v = DeltaExport.deleteForeign(spark, dir,
      col("id") <= 12L && col("p") === "b")
    assert(v == 1L)
    val got = DeltaRead.read(spark, dir)
      .select("id", "p").as[(Long, String)].collect().toSet
    assert(got == ((1L to 5L).map(i => (i, "a")) ++
      Seq((13L, "b"), (14L, "b"), (15L, "b"))).toSet, s"got $got")
    val v1Json = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dir/_delta_log/00000000000000000001.json"))
    assert(v1Json.contains(""""remove":{"path":"f2.parquet""""), v1Json)
    assert(v1Json.contains(""""remove":{"path":"f3.parquet""""), v1Json)
    assert(!v1Json.contains("f1.parquet"),
      s"untouched file must not be mentioned: $v1Json")
    assert(v1Json.linesIterator.count(_.contains(""""add":""")) == 1,
      "one partition tuple rewrote -> exactly one compacted add")
    assert(v1Json.contains(""""stats""""), "rewritten adds carry footer stats")
    assert(java.util.Arrays.equals(f1Bytes, java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/f1.parquet"))),
      "copy-on-write must leave untouched files byte-identical")
    // a zero-match delete is commit-free and returns the current version
    val v2 = DeltaExport.deleteForeign(spark, dir, col("id") > 1000L)
    assert(v2 == 1L)
    assert(!new java.io.File(s"$dir/_delta_log/00000000000000000002.json").exists(),
      "no-op deletes must not commit")
    // deleting the remaining b-rows leaves partition a only, pure removes
    val v3 = DeltaExport.deleteForeign(spark, dir, col("p") === "b")
    assert(v3 == 2L)
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      (1L to 5L).toSet)
  }

  test("delta foreign delete: DV'd files rewrite to survivors; guards decline by name") {
    import graft.sources.{DeltaDv, DeltaExport, DeltaRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("dfdel_dv").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    // f1 positions 0..9 = ids 1..10; DV kills positions 0 and 9 (ids 1, 10)
    writeDeltaPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i * 2)))
    val uuid = java.util.UUID.fromString("87654321-4321-8765-4321-876543218765")
    val d = DeltaDv.writeDvFile(spark, dir, uuid, Seq(0L, 9L))
    val dvJson =
      s"""{"storageType":"${d.storageType}","pathOrInlineDv":"${d.pathOrInlineDv}",""" +
        s""""offset":${d.offset.get},"sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaAction(partitioned = false),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$dvJson}}"""))
    // delete ids 2..3: the rewrite must apply the DV FIRST (ids 1, 10
    // stay dead) and the new add must carry no DV
    val v = DeltaExport.deleteForeign(spark, dir, col("id") <= 3L)
    assert(v == 1L)
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      (4L to 9L).toSet, "DV'd rows stay dead through the rewrite")
    val v1Json = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dir/_delta_log/00000000000000000001.json"))
    assert(!v1Json.contains("deletionVector"),
      s"the rewritten add must not carry a DV: $v1Json")
    // appendOnly tables refuse deletion by their own contract
    val dirA = Files.createTempDirectory("dfdel_ao").toFile.getAbsolutePath + "/t"
    new java.io.File(dirA).mkdirs()
    writeDeltaPart(dirA, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dirA, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(partitioned = false).replace(""""configuration":{}""",
        """"configuration":{"delta.appendOnly":"true"}"""),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eA = intercept[UnsupportedOperationException](
      DeltaExport.deleteForeign(spark, dirA, col("id") === 1L))
    assert(eA.getMessage.contains("append-only"), eA.getMessage)
    // rowTracking pins per-row ids a rewrite cannot carry
    val dirR = Files.createTempDirectory("dfdel_rt").toFile.getAbsolutePath + "/t"
    new java.io.File(dirR).mkdirs()
    writeDeltaPart(dirR, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dirR, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":[],"writerFeatures":["rowTracking"]}}""",
      metaAction(partitioned = false),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eR = intercept[UnsupportedOperationException](
      DeltaExport.deleteForeign(spark, dirR, col("id") === 1L))
    assert(eR.getMessage.contains("rowTracking"), eR.getMessage)
    // CHECK constraints are PRESERVED by a row-dropping rewrite —
    // unlike appendForeign, their presence must NOT decline
    val dirC = Files.createTempDirectory("dfdel_ck").toFile.getAbsolutePath + "/t"
    new java.io.File(dirC).mkdirs()
    writeDeltaPart(dirC, "f1.parquet", Seq((1L, 1L), (2L, 2L)))
    writeDeltaCommit(dirC, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      metaAction(partitioned = false).replace(""""configuration":{}""",
        """"configuration":{"delta.constraints.positive":"v > 0"}"""),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaExport.deleteForeign(spark, dirC, col("id") === 1L)
    assert(DeltaRead.read(spark, dirC).select("id").as[Long].collect().toSet ==
      Set(2L), "constraint-bearing tables delete fine (values preserved)")
    // nondeterministic predicates would let the two passes disagree
    val eN = intercept[UnsupportedOperationException](
      DeltaExport.deleteForeign(spark, dirC, rand() < 0.5))
    assert(eN.getMessage.contains("deterministic"), eN.getMessage)
  }

  test("delta foreign delete: CDF tables publish deleted rows as change data") {
    import graft.sources.{DeltaExport, DeltaRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("dfdel_cdf").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 8L).map(i => (i, i * 10)))
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      metaAction(partitioned = true).replace(""""configuration":{}""",
        """"configuration":{"delta.enableChangeDataFeed":"true"}"""),
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val v = DeltaExport.deleteForeign(spark, dir, col("id") % 2L === 0L)
    assert(v == 1L)
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 7L))
    // the spec's change-data contract: the commit carries cdc actions
    // holding exactly the deleted rows, _change_type='delete'
    val changes = DeltaRead.changes(spark, dir, 0L, 1L)
    val dels = changes.filter(col("_change_type") === "delete")
      .select("id", "p").as[(Long, String)].collect().toSet
    assert(dels == Set(2L, 4L, 6L, 8L).map(i => (i, "a")), s"got $dels")
    val v1Json = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dir/_delta_log/00000000000000000001.json"))
    assert(v1Json.contains(""""cdc":{"path":"_change_data/"""), v1Json)
    assert(v1Json.contains(""""dataChange":false"""), v1Json)
  }

  test("delta foreign delete: mapped tables rewrite physical names; racing writers are safe") {
    import graft.sources.{DeltaExport, DeltaRead}
    import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
    import spark.implicits._
    // name-mode mapped table: the rewrite must write PHYSICAL names or
    // every later read of the survivors serves nulls
    val dir = Files.createTempDirectory("dfdel_cm").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    def pn(phys: String) = new MetadataBuilder()
      .putString("delta.columnMapping.physicalName", phys).build()
    val logical = StructType(Seq(
      StructField("id", LongType, nullable = true, pn("col-aaa")),
      StructField("v", LongType, nullable = true, pn("col-bbb"))))
    val esc = logical.json.replace("\\", "\\\\").replace("\"", "\\\"")
    val tmp = Files.createTempDirectory("dfdel_cm_stage").toFile.getAbsolutePath
    (1L to 4L).map(i => (i, i * 10)).toDF("col-aaa", "col-bbb")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val pf = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(pf.toPath, java.nio.file.Paths.get(s"$dir/f1.parquet"))
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      s"""{"metaData":{"id":"fcmdel","format":{"provider":"parquet","options":{}},"schemaString":"$esc","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"}}}""",
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    DeltaExport.deleteForeign(spark, dir, col("id") <= 2L)
    assert(DeltaRead.read(spark, dir).as[(Long, Long)].collect().toSet ==
      Set((3L, 30L), (4L, 40L)),
      "mapped survivors must land under physical names")
    // a racing append between replay and commit: the delete retries,
    // re-validates its affected files (still live), and commits after
    val dirR = Files.createTempDirectory("dfdel_race").toFile.getAbsolutePath + "/t"
    new java.io.File(dirR).mkdirs()
    writeDeltaPart(dirR, "f1.parquet", (1L to 6L).map(i => (i, i)))
    writeDeltaCommit(dirR, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(partitioned = false),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fDel = Future(DeltaExport.deleteForeign(spark, dirR, col("id") <= 2L))
    val fApp = Future(DeltaExport.appendForeign(spark,
      Seq((100L, 100L)).toDF("id", "v"), dirR))
    val Seq(vDel, vApp) = Await.result(Future.sequence(Seq(fDel, fApp)), 120.seconds)
    assert(Set(vDel, vApp) == Set(1L, 2L), s"both commits land: $vDel, $vApp")
    assert(DeltaRead.read(spark, dirR).select("id").as[Long].collect().toSet ==
      Set(3L, 4L, 5L, 6L, 100L), "no commit may be lost, no row resurrected")
    // a racing commit that REWRITES an affected file is a loud
    // conflict even when it lands BEFORE the writer's version listing
    // (the anchored-validation contract, not just put-if-absent): the
    // seam plants a compaction of f1 into f2 inside the race window —
    // for the copy-on-write delete and the vector (MoR) delete alike
    Seq[(String, String, String => Long)](
      ("deleteForeign", """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        d => DeltaExport.deleteForeign(spark, d, col("id") === 1L)),
      ("deleteForeignMoR",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        d => DeltaExport.deleteForeignMoR(spark, d, col("id") === 1L))
    ).foreach { case (op, protocol, write) =>
      val dirX = Files.createTempDirectory("dfdel_conflict").toFile.getAbsolutePath + "/t"
      new java.io.File(dirX).mkdirs()
      writeDeltaPart(dirX, "f1.parquet", (1L to 3L).map(i => (i, i)))
      writeDeltaPart(dirX, "f2.parquet", (1L to 3L).map(i => (i, i)))
      writeDeltaCommit(dirX, 0, Seq(protocol, metaAction(partitioned = false),
        """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
      val eX = intercept[IllegalStateException] {
        graft.sources.ForeignCommit.beforeCommit.withValue(() =>
          writeDeltaCommit(dirX, 1, Seq(
            """{"remove":{"path":"f1.parquet","deletionTimestamp":2,"dataChange":true}}""",
            """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""")))(
          write(dirX))
      }
      assert(eX.getMessage.contains("removed or rewrote"), s"$op: ${eX.getMessage}")
      assert(!new java.io.File(s"$dirX/_delta_log/00000000000000000002.json").exists(),
        s"the conflicted $op must not have committed anything")
    }
  }

  test("delta foreign DML: seeded randomized interleave of append/delete/update/MoR vs model") {
    // r15: the whole foreign Delta write family under randomized
    // shapes — copy-on-write deletes and updates interleaved with
    // vector (MoR) deletes and appends on partitioned and flat,
    // DV-speaking fixtures; the replay must equal an in-memory model
    // after every trial, resurrections included.
    import graft.sources.{DeltaExport, DeltaRead}
    import spark.implicits._
    val rnd = new scala.util.Random(0xDE17AD31L)
    (1 to 4).foreach { trial =>
      val partitioned = rnd.nextBoolean()
      val dir = Files.createTempDirectory(s"dfsw$trial").toFile.getAbsolutePath + "/t"
      new java.io.File(dir).mkdirs()
      val seed = (1L to (2 + rnd.nextInt(4))).map(i =>
        (i, rnd.nextInt(50).toLong))
      writeDeltaPart(dir, "f0.parquet", seed)
      val pv = if (partitioned) """"p":"a"""" else ""
      writeDeltaCommit(dir, 0, Seq(
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
        metaAction(partitioned = partitioned),
        s"""{"add":{"path":"f0.parquet","partitionValues":{$pv},"size":1,"modificationTime":1,"dataChange":true}}"""))
      // model rows: (id, v, band); the flat fixture has no band
      var model: Set[(Long, Long, String)] =
        seed.map(t => (t._1, t._2, "a")).toSet
      val deadIds = scala.collection.mutable.Set.empty[Long]
      var nextId = 100L
      def anchoredPred(): (Long, Long) = {
        val anchor = model.map(_._1).toSeq.sorted.apply(rnd.nextInt(model.size))
        val m = 2L + rnd.nextInt(4)
        (m, anchor % m)
      }
      (1 to 4 + rnd.nextInt(3)).foreach { step =>
        rnd.nextInt(4) match {
          case 0 if model.nonEmpty => // copy-on-write delete
            val (m, r) = anchoredPred()
            DeltaExport.deleteForeign(spark, dir, col("id") % m === r): Unit
            val hit = model.filter(_._1 % m == r)
            model --= hit; deadIds ++= hit.map(_._1)
          case 1 if model.nonEmpty => // merge-on-read (vector) delete
            val (m, r) = anchoredPred()
            DeltaExport.deleteForeignMoR(spark, dir, col("id") % m === r): Unit
            val hit = model.filter(_._1 % m == r)
            model --= hit; deadIds ++= hit.map(_._1)
          case 2 if model.nonEmpty => // copy-on-write update
            val (m, r) = anchoredPred()
            val bump = 1000L * step
            DeltaExport.updateForeign(spark, dir, col("id") % m === r,
              Map("v" -> (col("v") + bump))): Unit
            model = model.map(t =>
              if (t._1 % m == r) (t._1, t._2 + bump, t._3) else t)
          case _ => // append (with possible resurrection)
            val rows = (0 until 1 + rnd.nextInt(4)).map { _ =>
              val id =
                if (deadIds.nonEmpty && rnd.nextInt(3) == 0) {
                  val x = deadIds.head; deadIds -= x; x
                } else { val x = nextId; nextId += 1; x }
              (id, rnd.nextInt(50).toLong,
                if (partitioned) s"b${rnd.nextInt(2)}" else "a")
            }
            val df =
              if (partitioned) rows.toDF("id", "v", "p")
              else rows.map(t => (t._1, t._2)).toDF("id", "v")
            DeltaExport.appendForeign(spark, df, dir): Unit
            model ++= rows
        }
      }
      val got: Set[(Long, Long, String)] =
        if (partitioned)
          DeltaRead.read(spark, dir).select("id", "v", "p")
            .as[(Long, Long, String)].collect().toSet
        else DeltaRead.read(spark, dir).select("id", "v")
          .as[(Long, Long)].collect().toSet.map((t: (Long, Long)) =>
            (t._1, t._2, "a"))
      assert(got == model,
        s"trial $trial partitioned=$partitioned:\n got=$got\nwant=$model")
    }
  }

  test("delta foreign MoR delete: cumulative deletion vectors, data files untouched") {
    // r15: deleteForeignMoR — O(matched) tombstones for DV-speaking
    // tables: each affected file re-adds with ONE cumulative vector
    // (existing DV positions folded in), bytes never rewritten
    import graft.sources.{DeltaDv, DeltaExport, DeltaRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("dfmor").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 10L).map(i => (i, i * 10)))
    writeDeltaPart(dir, "f2.parquet", (11L to 15L).map(i => (i, i * 10)))
    // f1 arrives with an existing DV killing positions 0, 9 (ids 1, 10)
    val uuid0 = java.util.UUID.fromString("11112222-3333-4444-5555-666677778888")
    val d0 = DeltaDv.writeDvFile(spark, dir, uuid0, Seq(0L, 9L))
    val dvJson0 =
      s"""{"storageType":"${d0.storageType}","pathOrInlineDv":"${d0.pathOrInlineDv}",""" +
        s""""offset":${d0.offset.get},"sizeInBytes":${d0.sizeInBytes},"cardinality":${d0.cardinality}}"""
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""",
      metaAction(partitioned = false),
      s"""{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,"deletionVector":$dvJson0}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val f1Bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/f1.parquet"))
    val v = DeltaExport.deleteForeignMoR(spark, dir,
      col("id") === 2L || col("id") === 12L)
    assert(v == 1L)
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      ((3L to 9L) ++ Seq(11L, 13L, 14L, 15L)).toSet,
      "new tombstones apply WITH the pre-existing DV")
    assert(java.util.Arrays.equals(f1Bytes, java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/f1.parquet"))),
      "merge-on-read must not rewrite data bytes")
    val v1Json = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dir/_delta_log/00000000000000000001.json"))
    assert(v1Json.contains(""""cardinality":3"""),
      s"f1's vector must be cumulative (0,1,9): $v1Json")
    assert(v1Json.contains(""""cardinality":1"""),
      s"f2 gets a fresh single-position vector: $v1Json")
    // a SECOND MoR delete folds onto the new vector
    DeltaExport.deleteForeignMoR(spark, dir, col("id") === 3L)
    assert(DeltaRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      ((4L to 9L) ++ Seq(11L, 13L, 14L, 15L)).toSet,
      "repeated MoR deletes keep folding")
    // zero matches: no commit
    val before = new java.io.File(s"$dir/_delta_log").listFiles().length
    DeltaExport.deleteForeignMoR(spark, dir, col("id") > 1000L): Unit
    assert(new java.io.File(s"$dir/_delta_log").listFiles().length == before)
    // nondeterministic predicates decline: the vectors must be the rows
    // the caller saw match
    val eN = intercept[UnsupportedOperationException](
      DeltaExport.deleteForeignMoR(spark, dir, rand() < 0.5))
    assert(eN.getMessage.contains("deterministic"), eN.getMessage)
    assert(new java.io.File(s"$dir/_delta_log").listFiles().length == before)
    // a table that does not speak deletionVectors declines by name
    val dirP = Files.createTempDirectory("dfmor_p").toFile.getAbsolutePath + "/t"
    new java.io.File(dirP).mkdirs()
    writeDeltaPart(dirP, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dirP, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(partitioned = false),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eP = intercept[UnsupportedOperationException](
      DeltaExport.deleteForeignMoR(spark, dirP, col("id") === 1L))
    assert(eP.getMessage.contains("deletionVectors"), eP.getMessage)
  }

  test("delta foreign update: copy-on-write SET rewrites matched rows in place") {
    // r15: updateForeign — matched rows take their SET values, every
    // other row of an affected file is value-preserved, untouched
    // files are never rewritten; CDF tables publish the matched rows
    // BOTH ways (update_preimage / update_postimage).
    import graft.sources.{DeltaExport, DeltaRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("dfupd").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 5L).map(i => (i, i * 10)))
    writeDeltaPart(dir, "f2.parquet", (6L to 10L).map(i => (i, i * 10)))
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      metaAction(partitioned = true).replace(""""configuration":{}""",
        """"configuration":{"delta.enableChangeDataFeed":"true"}"""),
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":1,"dataChange":true}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{"p":"b"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val f1Bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/f1.parquet"))
    // ids 8..10 in partition b double their v; f1 (p=a) untouched
    val v = DeltaExport.updateForeign(spark, dir,
      col("id") >= 8L && col("p") === "b", Map("v" -> col("v") * 2L))
    assert(v == 1L)
    val got = DeltaRead.read(spark, dir)
      .select("id", "v").as[(Long, Long)].collect().toMap
    val expect = ((1L to 7L).map(i => i -> i * 10) ++
      (8L to 10L).map(i => i -> i * 20)).toMap
    assert(got == expect, s"got $got")
    assert(java.util.Arrays.equals(f1Bytes, java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/f1.parquet"))),
      "the untouched file stays byte-identical")
    val v1Json = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dir/_delta_log/00000000000000000001.json"))
    assert(v1Json.contains(""""remove":{"path":"f2.parquet"""") &&
      !v1Json.contains("f1.parquet"), v1Json)
    // the change feed serves pre AND post images of exactly the matches
    val ch = DeltaRead.changes(spark, dir, 0L, 1L)
    val pre = ch.filter(col("_change_type") === "update_preimage")
      .select("id", "v").as[(Long, Long)].collect().toSet
    val post = ch.filter(col("_change_type") === "update_postimage")
      .select("id", "v").as[(Long, Long)].collect().toSet
    assert(pre == (8L to 10L).map(i => (i, i * 10)).toSet, s"pre $pre")
    assert(post == (8L to 10L).map(i => (i, i * 20)).toSet, s"post $post")
    // a zero-match update is commit-free
    assert(DeltaExport.updateForeign(spark, dir,
      col("id") > 1000L, Map("v" -> lit(0L))) == 1L)
    assert(!new java.io.File(s"$dir/_delta_log/00000000000000000002.json").exists())
  }

  test("delta foreign update: value-creating obligations and type drift decline") {
    import graft.sources.{DeltaExport, DeltaRead}
    import spark.implicits._
    // CHECK constraints return for updates (they are value-creating)
    val dirC = Files.createTempDirectory("dfupd_ck").toFile.getAbsolutePath + "/t"
    new java.io.File(dirC).mkdirs()
    writeDeltaPart(dirC, "f1.parquet", Seq((1L, 1L)))
    writeDeltaCommit(dirC, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":3}}""",
      metaAction(partitioned = false).replace(""""configuration":{}""",
        """"configuration":{"delta.constraints.positive":"v > 0"}"""),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eC = intercept[UnsupportedOperationException](
      DeltaExport.updateForeign(spark, dirC, col("id") === 1L,
        Map("v" -> lit(-1L))))
    assert(eC.getMessage.contains("CHECK constraint"), eC.getMessage)
    // plain table: SET of a partition column / type drift / rand decline
    val dir = Files.createTempDirectory("dfupd_g").toFile.getAbsolutePath + "/t"
    new java.io.File(dir).mkdirs()
    writeDeltaPart(dir, "f1.parquet", (1L to 4L).map(i => (i, i)))
    writeDeltaCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(partitioned = true),
      """{"add":{"path":"f1.parquet","partitionValues":{"p":"a"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eP = intercept[UnsupportedOperationException](
      DeltaExport.updateForeign(spark, dir, col("id") === 1L,
        Map("p" -> lit("b"))))
    assert(eP.getMessage.contains("partition column"), eP.getMessage)
    val eT = intercept[UnsupportedOperationException](
      DeltaExport.updateForeign(spark, dir, col("id") === 1L,
        Map("v" -> lit("oops"))))
    assert(eT.getMessage.contains("cast explicitly"), eT.getMessage)
    val eR = intercept[UnsupportedOperationException](
      DeltaExport.updateForeign(spark, dir, col("id") === 1L,
        Map("v" -> (rand() * 100).cast("long"))))
    assert(eR.getMessage.contains("deterministic"), eR.getMessage)
    // a successful update through the same fixture still lands
    DeltaExport.updateForeign(spark, dir, col("id") <= 2L,
      Map("v" -> (col("v") + 100L)))
    assert(DeltaRead.read(spark, dir).select("id", "v")
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 101L), (2L, 102L), (3L, 3L), (4L, 4L)))
    // a racing compaction under the update is a loud conflict
    val dirX = Files.createTempDirectory("dfupd_x").toFile.getAbsolutePath + "/t"
    new java.io.File(dirX).mkdirs()
    writeDeltaPart(dirX, "f1.parquet", (1L to 3L).map(i => (i, i)))
    writeDeltaPart(dirX, "f2.parquet", (1L to 3L).map(i => (i, i)))
    writeDeltaCommit(dirX, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(partitioned = false),
      """{"add":{"path":"f1.parquet","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val eX = intercept[IllegalStateException] {
      graft.sources.ForeignCommit.beforeCommit.withValue(() =>
        writeDeltaCommit(dirX, 1, Seq(
          """{"remove":{"path":"f1.parquet","deletionTimestamp":2,"dataChange":true}}""",
          """{"add":{"path":"f2.parquet","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true}}""")))(
        DeltaExport.updateForeign(spark, dirX, col("id") === 1L, Map("v" -> lit(9L))))
    }
    assert(eX.getMessage.contains("removed or rewrote"), eX.getMessage)
  }

  test("iceberg ref writes: branch/tag CRUD, branch commits, expire guard, CALL face") {
    // r14 verdict #6: the write half of readRef. createRef/dropRef are
    // metadata-only OCC commits; appendForeign(ref=...) moves ONLY the
    // named branch — main, the current pointer, and the snapshot-log
    // stay put; tags are immutable; expire keeps ref'd snapshots.
    import graft.sources.{IcebergExport, IcebergMaintenance, IcebergRead, TimeTravel}
    import spark.implicits._
    val src = Files.createTempDirectory("iref_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iref_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite((1L to 4L).map(i => (i, i)).toDF("k", "v"), src)
    IcebergExport.snapshot(spark, src, tgt)
    val mainSid = currentIcebergMeta(spark, tgt).get("current-snapshot-id").asLong()
    // branch off the current snapshot, commit to it, read both sides
    IcebergExport.createRef(spark, tgt, "dev")
    IcebergExport.appendForeign(spark,
      Seq((100L, 1L)).toDF("k", "v"), tgt, ref = Some("dev"))
    assert(IcebergRead.readRef(spark, tgt, "dev")
      .select("k").as[Long].collect().toSet == Set(1L, 2L, 3L, 4L, 100L),
      "the branch serves main's base plus the branch commit")
    assert(IcebergRead.read(spark, tgt)
      .select("k").as[Long].collect().toSet == (1L to 4L).toSet,
      "main must NOT see the branch commit")
    val meta1 = currentIcebergMeta(spark, tgt)
    assert(meta1.get("current-snapshot-id").asLong() == mainSid,
      "the current pointer stays on main's head")
    assert(meta1.get("refs").get("main").get("snapshot-id").asLong() == mainSid)
    // branch head ≡ snapshot-id read
    val devSid = meta1.get("refs").get("dev").get("snapshot-id").asLong()
    assert(IcebergRead.read(spark, tgt, snapshotId = Some(devSid))
      .select("k").as[Long].collect().toSet ==
      IcebergRead.readRef(spark, tgt, "dev")
        .select("k").as[Long].collect().toSet)
    // tags pin and refuse commits; duplicate names and main-drop refuse
    IcebergExport.createRef(spark, tgt, "v1", refType = "tag",
      snapshotId = Some(mainSid))
    val eTag = intercept[UnsupportedOperationException](
      IcebergExport.appendForeign(spark,
        Seq((200L, 1L)).toDF("k", "v"), tgt, ref = Some("v1")))
    assert(eTag.getMessage.contains("TAG"), eTag.getMessage)
    val eDup = intercept[IllegalArgumentException](
      IcebergExport.createRef(spark, tgt, "dev"))
    assert(eDup.getMessage.contains("already exists"), eDup.getMessage)
    val eMain = intercept[IllegalArgumentException](
      IcebergExport.dropRef(spark, tgt, "main"))
    assert(eMain.getMessage.contains("main"), eMain.getMessage)
    // the expire guard covers CREATED refs: advance main past the
    // branch head, then a sweep that would expire it refuses BY NAME
    IcebergExport.appendForeign(spark, Seq((300L, 1L)).toDF("k", "v"), tgt)
    val eExp = intercept[IllegalArgumentException](
      IcebergMaintenance.expireSnapshots(spark, tgt,
        retainLast = 1, dryRun = true))
    assert(eExp.getMessage.contains("'dev'") ||
      eExp.getMessage.contains("'v1'"), eExp.getMessage)
    // the SQL CALL face
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val curSid = currentIcebergMeta(spark, tgt)
      .get("current-snapshot-id").asLong()
    val bSid = spark.sql(s"CALL graft.create_branch('$tgt', 'exp')")
      .head.getLong(0)
    assert(bSid == curSid, "a fresh branch pins the current snapshot")
    spark.sql(s"CALL graft.create_tag('$tgt', 'rel', $mainSid)")
    assert(IcebergRead.readRef(spark, tgt, "rel").count() == 4)
    assert(spark.sql(s"CALL graft.drop_ref('$tgt', 'exp')")
      .head.getString(0) == "exp")
    val eGone = intercept[IllegalArgumentException](
      IcebergRead.readRef(spark, tgt, "exp"))
    assert(eGone.getMessage.contains("no ref"), eGone.getMessage)
  }

  test("iceberg v3 row lineage: _row_id survives appends and deletes, nulls inherit") {
    // r14 verdict #5: expose the v3 row-lineage metadata columns.
    // _row_id = file first_row_id + position — stable across later
    // appends AND merge-on-read deletes (survivors keep their ids);
    // _last_updated_sequence_number = the file's data sequence number.
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import graft.sources.IcebergRead.EntryInfo
    import spark.implicits._
    val src = Files.createTempDirectory("irl_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("irl_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite((1L to 6L).map(i => (i, i * 10)).toDF("k", "v")
      .coalesce(1).sortWithinPartitions("k"), src)
    IcebergExport.snapshot(spark, src, tgt, formatVersion = 3)
    def lineage() = IcebergRead.read(spark, tgt, withLineage = true)
      .select("k", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().toSet
    assert(lineage() == (1L to 6L).map(k => (k, k - 1, 1L)).toSet,
      "first snapshot assigns ids 0..5 at sequence 1")
    TimeTravel.commitAppend((7L to 9L).map(i => (i, i * 10)).toDF("k", "v")
      .coalesce(1).sortWithinPartitions("k"), src)
    IcebergExport.append(spark, src, tgt)
    val before = lineage()
    assert(before == ((1L to 6L).map(k => (k, k - 1, 1L)) ++
      (7L to 9L).map(k => (k, k - 1, 2L))).toSet,
      s"appended file continues at next-row-id with its own sequence: $before")
    // MoR delete (publishes v3 deletion vectors): survivors keep ids
    TimeTravel.deleteMoR(spark, src, col("k") === 2L || col("k") === 7L)
    IcebergExport.append(spark, src, tgt)
    assert(lineage() == before.filterNot(t => t._1 == 2L || t._1 == 7L),
      "deletes drop rows, never renumber")
    // next-row-id keeps advancing on export (maintained, not frozen)
    val metaTxt = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgt/metadata/version-hint.text")).trim
    val meta = currentIcebergMeta(spark, tgt)
    assert(meta.get("next-row-id").asLong() == 9L, s"v$metaTxt: $meta")
    // INHERITANCE: a foreign list-level first_row_id fills null
    // entries in manifest order by record_count
    val dirF = Files.createTempDirectory("irl_f").toFile.getAbsolutePath + "/t"
    val f0 = writeIcebergPart(dirF, "f0.parquet", (1L to 4L).map(i => (i, i, "b0")))
    val f1 = writeIcebergPart(dirF, "f1.parquet", (5L to 7L).map(i => (i, i, "b0")))
    val m0 = graft.sources.IcebergRead.Fixture.manifestV2(dirF, "m0.avro", Seq(
      EntryInfo(1, f0, 0, 1L, Nil, recordCount = Some(4L),
        sizeInBytes = Some(new java.io.File(f0).length())),
      EntryInfo(1, f1, 0, 1L, Nil, recordCount = Some(3L),
        sizeInBytes = Some(new java.io.File(f1).length()))))
    val mlF = graft.sources.IcebergRead.Fixture.manifestListFull(
      dirF, "snap-1.avro", 9L, Seq((m0, 1L, 0)),
      firstRowIds = Map(m0 -> 100L))
    graft.sources.IcebergRead.Fixture.metadataMulti(dirF, 1, formatVersion = 3,
      currentSnapshotId = 9L, snapshots = Seq((9L, mlF)),
      fields = Seq((1, "id", true, "long"), (2, "v", false, "long"),
        (3, "band", false, "string")),
      extraJson = ""","next-row-id":107""")
    val gotF = IcebergRead.read(spark, dirF, withLineage = true)
      .select("id", "_row_id").as[(Long, Long)].collect().toSet
    assert(gotF == ((1L to 4L).map(i => (i, 99L + i)) ++
      (5L to 7L).map(i => (i, 99L + i))).toSet,
      s"null first_row_id inherits list base + preceding record counts: $gotF")
    // a table without row lineage declines by name
    val dirV2 = Files.createTempDirectory("irl_v2").toFile.getAbsolutePath + "/t"
    val fV = writeIcebergPart(dirV2, "f0.parquet", Seq((1L, 1L, "b0")))
    val mV = graft.sources.IcebergRead.Fixture.manifestV2(dirV2, "m0.avro",
      Seq(EntryInfo(1, fV, 0, 1L, Nil)))
    val mlV = graft.sources.IcebergRead.Fixture.manifestList(dirV2, "snap-1.avro", Seq(mV))
    graft.sources.IcebergRead.Fixture.metadataMulti(dirV2, 1, formatVersion = 2,
      currentSnapshotId = 1L, snapshots = Seq((1L, mlV)),
      fields = Seq((1, "id", true, "long"), (2, "v", false, "long"),
        (3, "band", false, "string")))
    val e = intercept[UnsupportedOperationException](
      IcebergRead.read(spark, dirV2, withLineage = true).collect())
    assert(e.getMessage.contains("row lineage"), e.getMessage)
  }

  test("iceberg export: days(ts) publishes the day transform with per-file day tuples") {
    // r14 verdict #4: the common Iceberg time layout — partition
    // values are days-from-epoch INTs derived from footer stats, the
    // spec rides "day" transforms, and files must be DAY-pure (same
    // day, timestamps within it free to differ)
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import spark.implicits._
    val src = Files.createTempDirectory("iexpd_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexpd_tgt").toFile.getAbsolutePath + "/i"
    // NTZ: parquet INT64 micros with real statistics (zone-adjusted
    // TimestampType writes INT96 by default — no stats, so a days()
    // export over it declines on the purity check by design)
    def dayDf(day: String, ids: Seq[Long]) = ids.toDF("k")
      .withColumn("ts", expr(s"timestamp_ntz'$day 00:00:00' + make_interval(0,0,0,0,cast(k % 24 as int),0,0)"))
    TimeTravel.commitOverwrite(dayDf("2024-03-01", 1L to 5L).coalesce(1), src)
    TimeTravel.commitAppend(dayDf("2024-03-02", 6L to 9L).coalesce(1), src)
    assert(IcebergExport.snapshot(spark, src, tgt,
      partitionBy = Seq("days(ts)")) == 2)
    val metaTxt = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgt/metadata/v1.metadata.json"))
    assert(metaTxt.contains("\"transform\":\"day\"") &&
      metaTxt.contains("\"name\":\"ts_day\""), metaTxt)
    val got = IcebergRead.read(spark, tgt)
    assert(got.select("k").as[Long].collect().toSet == (1L to 9L).toSet)
    // the manifest's partition tuples are the epoch-day ints
    val mFile = new java.io.File(s"$tgt/metadata").listFiles()
      .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro")).head
    val rdr = DataFileReader.openReader(mFile,
      new GenericDatumReader[GenericRecord]())
    val days = try {
      val b = Seq.newBuilder[Int]
      while (rdr.hasNext) {
        val df = rdr.next().get("data_file").asInstanceOf[GenericRecord]
        b += df.get("partition").asInstanceOf[GenericRecord]
          .get("ts_day").asInstanceOf[Number].intValue()
      }
      b.result()
    } finally rdr.close()
    val d0 = java.time.LocalDate.parse("2024-03-01").toEpochDay.toInt
    assert(days.sorted == Seq(d0, d0 + 1),
      s"per-file day tuples must be epoch days: $days")
    // append keeps publishing the SAME day spec
    TimeTravel.commitAppend(dayDf("2024-03-03", 10L to 12L).coalesce(1), src)
    assert(IcebergExport.append(spark, src, tgt) == 1)
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet ==
      (1L to 12L).toSet)
    // a file spanning two days declines loudly
    val src2 = Files.createTempDirectory("iexpd_src2").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (dayDf("2024-03-01", Seq(1L)) union dayDf("2024-03-02", Seq(2L)))
        .coalesce(1), src2)
    val e = intercept[UnsupportedOperationException](
      IcebergExport.snapshot(spark, src2,
        Files.createTempDirectory("iexpd_t2").toFile.getAbsolutePath + "/i",
        partitionBy = Seq("days(ts)")))
    assert(e.getMessage.contains("partition-pure"), e.getMessage)
    // a non-time column under days() declines by name
    val e2 = intercept[UnsupportedOperationException](
      IcebergExport.snapshot(spark, src,
        Files.createTempDirectory("iexpd_t3").toFile.getAbsolutePath + "/i",
        partitionBy = Seq("days(k)")))
    assert(e2.getMessage.contains("timestamp or date"), e2.getMessage)
  }

  test("iceberg export: bucket(N,k) publishes the spec murmur3 bucketing") {
    // r15: the full transform family — bucket is NOT monotonic, so
    // per-file tuples derive from one distinct-per-file scan instead
    // of footer bounds; the published values must match the spec's
    // pinned murmur3 (IcebergTransformSpec pins the hash itself)
    import graft.expressions.IcebergTransforms
    import graft.functions.IcebergPartitionFns.icebergBucket
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import spark.implicits._
    val src = Files.createTempDirectory("iexpb_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iexpb_tgt").toFile.getAbsolutePath + "/i"
    val base = (1L to 40L).toDF("k").withColumn("v", col("k") * 10)
      .withColumn("__b", icebergBucket(4, col("k")))
    // one bucket-pure file per commit (the layout a bucketed writer
    // produces; the column face is what makes pre-partitioning possible)
    TimeTravel.commitOverwrite(
      base.filter(col("__b") === 0).drop("__b").coalesce(1), src)
    (1 to 3).foreach(b => TimeTravel.commitAppend(
      base.filter(col("__b") === b).drop("__b").coalesce(1), src))
    val nFiles = IcebergExport.snapshot(spark, src, tgt,
      partitionBy = Seq("bucket(4, k)"))
    val metaTxt = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tgt/metadata/v1.metadata.json"))
    assert(metaTxt.contains("\"transform\":\"bucket[4]\"") &&
      metaTxt.contains("\"name\":\"k_bucket\""), metaTxt)
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet ==
      (1L to 40L).toSet)
    // every manifest tuple is the murmur3 bucket of its file's keys
    val mFile = new java.io.File(s"$tgt/metadata").listFiles()
      .filter(f => f.getName.startsWith("m-") && f.getName.endsWith(".avro")).head
    val rdr = DataFileReader.openReader(mFile,
      new GenericDatumReader[GenericRecord]())
    val buckets = try {
      val b = Seq.newBuilder[Int]
      while (rdr.hasNext) {
        val df = rdr.next().get("data_file").asInstanceOf[GenericRecord]
        b += df.get("partition").asInstanceOf[GenericRecord]
          .get("k_bucket").asInstanceOf[Number].intValue()
      }
      b.result()
    } finally rdr.close()
    val expected = (1L to 40L).map(IcebergTransforms.bucketLong(_, 4)).distinct
    assert(buckets.toSet == expected.toSet && buckets.size == nFiles,
      s"tuples $buckets must be the spec buckets $expected")
    // append keeps publishing the same bucket spec
    TimeTravel.commitAppend(
      Seq((100L, 1000L)).toDF("k", "v").coalesce(1), src)
    assert(IcebergExport.append(spark, src, tgt) == 1)
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet ==
      ((1L to 40L) :+ 100L).toSet)
    // a file MIXING buckets declines loudly at the purity gate
    val src2 = Files.createTempDirectory("iexpb_src2").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite((1L to 40L).toDF("k")
      .withColumn("v", col("k")).coalesce(1), src2)
    val e = intercept[UnsupportedOperationException](
      IcebergExport.snapshot(spark, src2,
        Files.createTempDirectory("iexpb_t2").toFile.getAbsolutePath + "/i",
        partitionBy = Seq("bucket(4, k)")))
    assert(e.getMessage.contains("partition-pure"), e.getMessage)
  }

  test("iceberg read: bucket tuples prune point lookups at plan time") {
    // r15: transform-aware partition pruning — a bucket-partitioned
    // table's min/max bounds span everything (hash layout), so only
    // the TUPLE can prune; an equality probe must plan exactly the
    // matching bucket's files
    import graft.expressions.IcebergTransforms
    import graft.functions.IcebergPartitionFns.icebergBucket
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    def plannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
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
    val src = Files.createTempDirectory("iprune_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("iprune_tgt").toFile.getAbsolutePath + "/i"
    val base = (1L to 40L).toDF("k").withColumn("v", col("k") * 10)
      .withColumn("__b", icebergBucket(4, col("k")))
    TimeTravel.commitOverwrite(
      base.filter(col("__b") === 0).drop("__b").coalesce(1), src)
    (1 to 3).foreach(b => TimeTravel.commitAppend(
      base.filter(col("__b") === b).drop("__b").coalesce(1), src))
    IcebergExport.snapshot(spark, src, tgt, partitionBy = Seq("bucket(4, k)"))
    // control: the full read plans every file (collect on the SAME
    // frame whose metrics we read)
    val full = IcebergRead.read(spark, tgt).agg(count(lit(1)))
    assert(full.collect().head.getLong(0) == 40L)
    assert(plannedFiles(full) == 4, "unfiltered read plans all buckets")
    // point lookup: exactly ONE bucket's file plans
    val probe = IcebergRead.read(spark, tgt).filter(col("k") === 34L)
      .agg(count(lit(1)))
    assert(probe.collect().head.getLong(0) == 1L, "the row is still served")
    assert(plannedFiles(probe) == 1,
      s"k=34 must plan only bucket ${IcebergTransforms.bucketLong(34L, 4)}'s file")
    // IN-list: at most the matching buckets
    val probes = IcebergRead.read(spark, tgt)
      .filter(col("k").isin(34L, 35L)).agg(count(lit(1)))
    assert(probes.collect().head.getLong(0) == 2L)
    val wantBuckets = Set(34L, 35L).map(IcebergTransforms.bucketLong(_, 4)).size
    assert(plannedFiles(probes) == wantBuckets,
      s"IN (34, 35) must plan $wantBuckets bucket file(s)")
    // a filter on a NON-partition column must not prune by tuple
    val off = IcebergRead.read(spark, tgt).filter(col("v") === 340L)
      .agg(count(lit(1)))
    assert(off.collect().head.getLong(0) == 1L,
      "non-partition filters stay correct (bounds may prune, tuples must not)")
  }

  test("iceberg export: hours/months/years/truncate publish their transforms") {
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    def spec(tgt: String) = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tgt/metadata/v1.metadata.json"))
    // hours(ts): two files in DIFFERENT hours of one day — a days()
    // layout could not separate them, hour tuples must
    val srcH = Files.createTempDirectory("iexph_src").toFile.getAbsolutePath + "/t"
    val tgtH = Files.createTempDirectory("iexph_tgt").toFile.getAbsolutePath + "/i"
    def hourDf(h: Int, ids: Seq[Long]) = ids.toDF("k")
      .withColumn("ts", expr(
        s"timestamp_ntz'2024-03-01 0$h:00:00' + make_interval(0,0,0,0,0,cast(k % 50 as int),0)"))
    TimeTravel.commitOverwrite(hourDf(1, 1L to 4L).coalesce(1), srcH)
    TimeTravel.commitAppend(hourDf(3, 5L to 8L).coalesce(1), srcH)
    assert(IcebergExport.snapshot(spark, srcH, tgtH,
      partitionBy = Seq("hours(ts)")) == 2)
    assert(spec(tgtH).contains("\"transform\":\"hour\""), spec(tgtH))
    assert(IcebergRead.read(spark, tgtH).select("k").as[Long].collect().toSet ==
      (1L to 8L).toSet)
    // months(d) over a DATE column
    val srcM = Files.createTempDirectory("iexpm_src").toFile.getAbsolutePath + "/t"
    val tgtM = Files.createTempDirectory("iexpm_tgt").toFile.getAbsolutePath + "/i"
    def monthDf(m: String, ids: Seq[Long]) = ids.toDF("k")
      .withColumn("d", expr(s"date'2024-$m-01' + cast(k % 25 as int)"))
    TimeTravel.commitOverwrite(monthDf("01", 1L to 4L).coalesce(1), srcM)
    TimeTravel.commitAppend(monthDf("03", 5L to 8L).coalesce(1), srcM)
    assert(IcebergExport.snapshot(spark, srcM, tgtM,
      partitionBy = Seq("months(d)")) == 2)
    assert(spec(tgtM).contains("\"transform\":\"month\""), spec(tgtM))
    assert(IcebergRead.read(spark, tgtM).select("k").as[Long].collect().toSet ==
      (1L to 8L).toSet)
    // years(d), same source shape (jan vs mar 2024 = ONE year: must
    // compact to one partition, proving the transform really floors)
    val tgtY = Files.createTempDirectory("iexpy_tgt").toFile.getAbsolutePath + "/i"
    assert(IcebergExport.snapshot(spark, srcM, tgtY,
      partitionBy = Seq("years(d)")) == 2)
    assert(spec(tgtY).contains("\"transform\":\"year\""), spec(tgtY))
    // truncate(100, k) over long + truncate(3, s) over string
    val srcT = Files.createTempDirectory("iexpt_src").toFile.getAbsolutePath + "/t"
    val tgtT = Files.createTempDirectory("iexpt_tgt").toFile.getAbsolutePath + "/i"
    def bandDf(lo: Long, pfx: String) = (lo until lo + 50L).toDF("k")
      .withColumn("s", concat(lit(pfx), col("k").cast("string")))
    TimeTravel.commitOverwrite(bandDf(0L, "abc").coalesce(1), srcT)
    TimeTravel.commitAppend(bandDf(100L, "xyz").coalesce(1), srcT)
    assert(IcebergExport.snapshot(spark, srcT, tgtT,
      partitionBy = Seq("truncate(100, k)", "truncate(3, s)")) == 2)
    val mt = spec(tgtT)
    assert(mt.contains("\"transform\":\"truncate[100]\"") &&
      mt.contains("\"transform\":\"truncate[3]\"") &&
      mt.contains("\"name\":\"k_trunc\"") && mt.contains("\"name\":\"s_trunc\""), mt)
    assert(IcebergRead.read(spark, tgtT).select("k").as[Long].collect().toSet ==
      ((0L until 50L) ++ (100L until 150L)).toSet)
    // hour over a DATE column declines by name
    val eH = intercept[UnsupportedOperationException](
      IcebergExport.snapshot(spark, srcM,
        Files.createTempDirectory("iexph_t2").toFile.getAbsolutePath + "/i",
        partitionBy = Seq("hours(d)")))
    assert(eH.getMessage.contains("timestamp"), eH.getMessage)
    // truncate over a date declines by name
    val eT = intercept[UnsupportedOperationException](
      IcebergExport.snapshot(spark, srcM,
        Files.createTempDirectory("iexpt_t2").toFile.getAbsolutePath + "/i",
        partitionBy = Seq("truncate(10, d)")))
    assert(eT.getMessage.contains("int/long/string"), eT.getMessage)
  }

  test("iceberg foreign append: transform-partitioned tables accept appends") {
    // r15: foreign appends into bucket[N]- and day-partitioned tables
    // (the common Flink-CDC layouts) — the staging pass computes the
    // transform per row, so the caller needs no pre-partitioning at all
    import graft.expressions.IcebergTransforms
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import org.apache.avro.file.DataFileReader
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    import spark.implicits._
    val src = Files.createTempDirectory("ifab_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("ifab_tgt").toFile.getAbsolutePath + "/i"
    import graft.functions.IcebergPartitionFns.icebergBucket
    val base = (1L to 20L).toDF("k").withColumn("v", col("k") * 10)
      .withColumn("__b", icebergBucket(4, col("k")))
    TimeTravel.commitOverwrite(
      base.filter(col("__b") === 0).drop("__b").coalesce(1), src)
    (1 to 3).foreach(b => TimeTravel.commitAppend(
      base.filter(col("__b") === b).drop("__b").coalesce(1), src))
    IcebergExport.snapshot(spark, src, tgt, partitionBy = Seq("bucket(4, k)"))
    // the appended frame is NOT pre-partitioned: rows of all 4 buckets
    // arrive interleaved and the staging pass must split them
    IcebergExport.appendForeign(spark,
      (21L to 40L).toDF("k").withColumn("v", col("k") * 10), tgt)
    assert(IcebergRead.read(spark, tgt).select("k").as[Long].collect().toSet ==
      (1L to 40L).toSet, "foreign append into a bucket spec")
    // the NEW manifest's tuples are the real murmur3 buckets
    val mFiles = new java.io.File(s"$tgt/metadata").listFiles()
      .filter(f => f.getName.startsWith("mf-") && f.getName.endsWith(".avro"))
    assert(mFiles.nonEmpty, "foreign append writes its own manifest")
    val pairs = mFiles.flatMap { mf =>
      val rdr = DataFileReader.openReader(mf,
        new GenericDatumReader[GenericRecord]())
      try {
        val b = Seq.newBuilder[(String, Int)]
        while (rdr.hasNext) {
          val df = rdr.next().get("data_file").asInstanceOf[GenericRecord]
          b += ((df.get("file_path").toString,
            df.get("partition").asInstanceOf[GenericRecord]
              .get("k_bucket").asInstanceOf[Number].intValue()))
        }
        b.result()
      } finally rdr.close()
    }
    pairs.foreach { case (path, bucket) =>
      val ks = spark.read.parquet(path).select("k").as[Long].collect()
      assert(ks.nonEmpty &&
        ks.forall(IcebergTransforms.bucketLong(_, 4) == bucket),
        s"file $path claims bucket $bucket but holds keys ${ks.toSeq}")
    }
    // day-partitioned foreign append (the days test's spec, new day)
    val srcD = Files.createTempDirectory("ifad_src").toFile.getAbsolutePath + "/t"
    val tgtD = Files.createTempDirectory("ifad_tgt").toFile.getAbsolutePath + "/i"
    def dayDf(day: String, ids: Seq[Long]) = ids.toDF("k")
      .withColumn("ts", expr(s"timestamp_ntz'$day 00:00:00' + make_interval(0,0,0,0,cast(k % 24 as int),0,0)"))
    TimeTravel.commitOverwrite(dayDf("2024-03-01", 1L to 5L).coalesce(1), srcD)
    IcebergExport.snapshot(spark, srcD, tgtD, partitionBy = Seq("days(ts)"))
    IcebergExport.appendForeign(spark,
      dayDf("2024-03-02", 6L to 9L) union dayDf("2024-03-03", 10L to 11L), tgtD)
    assert(IcebergRead.read(spark, tgtD).select("k").as[Long].collect().toSet ==
      (1L to 11L).toSet, "foreign append into a day spec, multi-day frame")
  }

  test("iceberg foreign delete: predicate tombstones publish as position deletes and v3 DVs") {
    // r15: the positional sibling of equality deletes — matched rows'
    // (file, position) coordinates become a v2 position-delete file or
    // v3 deletion vectors, data files untouched
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    // v2, FOREIGN fixture with java-style field ids
    val dir = Files.createTempDirectory("ifdel").toFile.getAbsolutePath + "/t"
    val fields = Seq((4, "id", true, "long"), (7, "v", false, "long"),
      (9, "band", false, "string"))
    val f0 = writeIcebergPart(dir, "f0.parquet", (1L to 10L).map(i => (i, i * 10, "b0")))
    val m0 = graft.sources.IcebergRead.Fixture.manifestV2(dir, "m0.avro",
      Seq(graft.sources.IcebergRead.EntryInfo(1, f0, 0, 1L, Nil)))
    val ml = graft.sources.IcebergRead.Fixture.manifestListFull(
      dir, "snap-ext-1.avro", 77L, Seq((m0, 1L, 0)), javaNames = true)
    graft.sources.IcebergRead.Fixture.metadataMulti(dir, 1, formatVersion = 2,
      currentSnapshotId = 77L, snapshots = Seq((77L, ml)), fields,
      extraJson = ""","last-sequence-number":1,""" +
        """"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0""")
    // v % 20 == 0 → even ids tombstone
    val sid = IcebergExport.deleteForeign(spark, dir, col("v") % 20L === 0L)
    assert(IcebergRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 7L, 9L), "position deletes must apply on re-read")
    // the delete file carries the spec's reserved field ids, sorted rows
    val pd = new java.io.File(s"$dir/deletes").listFiles()
      .filter(f => f.getName.startsWith("pdf-") && f.getName.endsWith(".parquet"))
    assert(pd.length == 1, "one position-delete parquet")
    val conf = spark.sessionState.newHadoopConf()
    val pschema = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(pd.head.getAbsolutePath), conf))
      .getFooter.getFileMetaData.getSchema
    assert(pschema.getType(Seq("file_path"): _*).getId.intValue() == 2147483546 &&
      pschema.getType(Seq("pos"): _*).getId.intValue() == 2147483545,
      s"reserved delete-file field ids: $pschema")
    val pdRows = spark.read.parquet(pd.head.getAbsolutePath)
      .select("pos").as[Long].collect()
    assert(pdRows.toSeq == pdRows.toSeq.sorted && pdRows.length == 5,
      s"positions sorted per spec: ${pdRows.toSeq}")
    // rows appended AFTER the delete keep living even on matching values
    IcebergExport.appendForeign(spark,
      Seq((20L, 20L, "b0")).toDF("id", "v", "band"), dir)
    assert(IcebergRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      Set(1L, 3L, 5L, 7L, 9L, 20L), "later appends are untouched")
    // zero matches: no commit, current snapshot id returned
    val metaCount = new java.io.File(s"$dir/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json"))
    IcebergExport.deleteForeign(spark, dir, col("id") > 1000L): Unit
    assert(new java.io.File(s"$dir/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json")) == metaCount,
      "zero-match deletes must not commit")
    // nondeterministic predicates decline
    val eR = intercept[UnsupportedOperationException](
      IcebergExport.deleteForeign(spark, dir, rand() < 0.5))
    assert(eR.getMessage.contains("deterministic"), eR.getMessage)
    assert(sid != 77L)
    // v3: tombstones publish as puffin DELETION VECTORS
    val src3 = Files.createTempDirectory("ifdel3_src").toFile.getAbsolutePath + "/t"
    val tgt3 = Files.createTempDirectory("ifdel3_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite(
      (1L to 10L).map(i => (i, i * 10)).toDF("k", "v").coalesce(1), src3)
    IcebergExport.snapshot(spark, src3, tgt3, formatVersion = 3)
    IcebergExport.deleteForeign(spark, tgt3, col("k") <= 3L): Unit
    assert(IcebergRead.read(spark, tgt3).select("k").as[Long].collect().toSet ==
      (4L to 10L).toSet, "v3 DV tombstones must apply on re-read")
    assert(new java.io.File(s"$tgt3/deletes").listFiles()
      .exists(_.getName.endsWith(".puffin")), "v3 publishes puffin DVs")
    assert(!new java.io.File(s"$tgt3/deletes").listFiles()
      .exists(_.getName.startsWith("pdf-")),
      "v3 must not publish position-delete FILES")
    // a second delete of the SAME file SUPERSEDES: one cumulative
    // vector (old 1..3 ∪ new 5), prior DV entry dropped per the
    // at-most-one-DV rule
    IcebergExport.deleteForeign(spark, tgt3, col("k") === 5L): Unit
    assert(IcebergRead.read(spark, tgt3).select("k").as[Long].collect().toSet ==
      Set(4L, 6L, 7L, 8L, 9L, 10L),
      "the superseding vector must hold old AND new tombstones")
    // at most one live DV per data file across ALL delete manifests
    val meta3 = graft.sources.IcebergRead.currentMetadata(spark, tgt3)
    val live3 = graft.sources.IcebergRead.liveEntries(spark, tgt3, meta3, None)
    val dvRefs = live3.filter(e => e.content == 1 && e.dv.nonEmpty)
      .map(_.dv.get._1)
    assert(dvRefs.size == dvRefs.distinct.size,
      s"one DV per data file after supersede, got $dvRefs")
    // and a delete that only touches un-DV'd files lands beside it
    IcebergExport.appendForeign(spark,
      (11L to 14L).map(i => (i, i * 10)).toDF("k", "v"), tgt3)
    IcebergExport.deleteForeign(spark, tgt3, col("k") === 12L): Unit
    assert(IcebergRead.read(spark, tgt3).select("k").as[Long].collect().toSet ==
      ((4L to 10L).toSet - 5L ++ Seq(11L, 13L, 14L)),
      "fresh-file v3 deletes land beside the superseded history")
  }

  test("iceberg foreign DML: racing writers are safe; a rewritten affected file fails loudly") {
    // the seam plants a commit that REWRITES the matched data file (f0
    // compacted into f1, same rows) between staging and the first
    // publish attempt. Tombstones staged against f0 would name a dead
    // path and the matched rows would live on in f1, so delete and
    // update must fail loudly with nothing lost; a global equality
    // delete names no file and commits after the rewrite
    import graft.sources.{ForeignCommit, IcebergExport, IcebergRead}
    import graft.sources.IcebergRead.{EntryInfo, Fixture}
    import spark.implicits._
    val fields = Seq((4, "id", true, "long"), (7, "v", false, "long"),
      (9, "band", false, "string"))
    val rows = (1L to 10L).map(i => (i, i * 10, "b0"))
    for {
      fv <- Seq(2, 3)
      (op, conflicts, write) <- Seq[(String, Boolean, String => Long)](
        ("delete", true, d => IcebergExport.deleteForeign(spark, d, col("id") <= 3L)),
        ("update", true, d => IcebergExport.updateForeign(spark, d, col("id") <= 3L,
          Map("v" -> lit(0L)))),
        ("equality delete", false, d => IcebergExport.appendEqualityDeletes(spark, d,
          Seq(1L, 2L, 3L).toDF("id"))))
    } {
      val dir = Files.createTempDirectory(s"ifrace_v$fv").toFile.getAbsolutePath + "/t"
      // metadata v`v`: snapshot `sid` holding ONE data file, `file`
      def commitFile(v: Int, sid: Long, file: String,
          prior: Seq[(Long, String)]): Seq[(Long, String)] = {
        val m = Fixture.manifestV2(dir, s"m$v.avro", Seq(EntryInfo(1, file, 0, v.toLong,
          Nil, recordCount = Some(10L), sizeInBytes = Some(new java.io.File(file).length()))))
        val ml = Fixture.manifestListFull(dir, s"snap-ext-$v.avro", sid,
          Seq((m, v.toLong, 0)), javaNames = true,
          firstRowIds = if (fv == 3) Map(m -> 10L * (v - 1)) else Map.empty)
        val snaps = prior :+ (sid -> ml)
        Fixture.metadataMulti(dir, v, formatVersion = fv, currentSnapshotId = sid,
          snapshots = snaps, fields,
          extraJson = s""","last-sequence-number":$v,""" +
            """"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0""" +
            (if (fv == 3) s""","next-row-id":${10 * v}""" else ""))
        snaps
      }
      val base = commitFile(1, 77L, writeIcebergPart(dir, "f0.parquet", rows), Nil)
      def rewrite(): Unit =
        commitFile(2, 78L, writeIcebergPart(dir, "f1.parquet", rows), base): Unit
      if (conflicts) {
        val e = intercept[IllegalStateException](
          ForeignCommit.beforeCommit.withValue(() => rewrite())(write(dir)))
        assert(e.getMessage.contains(s"under this $op"), s"v$fv $op: ${e.getMessage}")
        assert(!new java.io.File(s"$dir/metadata/v3.metadata.json").exists(),
          s"v$fv: the conflicted $op must not commit")
      } else ForeignCommit.beforeCommit.withValue(() => rewrite())(write(dir)): Unit
      val survivors = if (conflicts) 1L to 10L else 4L to 10L
      assert(IcebergRead.read(spark, dir).select("id", "v").as[(Long, Long)]
        .collect().toSet == survivors.map(i => (i, i * 10)).toSet,
        s"v$fv $op: no row lost, none resurrected")
    }
  }

  test("iceberg foreign update: one overwrite snapshot tombstones and re-stages") {
    // r15: updateForeign — matched rows' positions publish as deletes
    // AND the updated rows land as new data files in the SAME
    // snapshot; a SET may move a row across partitions
    import graft.sources.{IcebergExport, IcebergRead, TimeTravel}
    import spark.implicits._
    // v2, identity-partitioned by band: move one row to another band
    val src = Files.createTempDirectory("ifupd_src").toFile.getAbsolutePath + "/t"
    val tgt = Files.createTempDirectory("ifupd_tgt").toFile.getAbsolutePath + "/i"
    val base = (1L to 8L).map(i => (i, i * 10, if (i <= 4) "a" else "b"))
      .toDF("k", "v", "band")
    TimeTravel.commitOverwrite(base.filter(col("band") === "a").coalesce(1), src)
    TimeTravel.commitAppend(base.filter(col("band") === "b").coalesce(1), src)
    IcebergExport.snapshot(spark, src, tgt, partitionBy = Seq("band"))
    val metaBefore = new java.io.File(s"$tgt/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json"))
    // k <= 2: double v AND move to band c
    IcebergExport.updateForeign(spark, tgt, col("k") <= 2L,
      Map("v" -> col("v") * 2L, "band" -> lit("c"))): Unit
    val got = IcebergRead.read(spark, tgt)
      .select("k", "v", "band").as[(Long, Long, String)].collect().toSet
    val expect = ((3L to 4L).map(i => (i, i * 10, "a")) ++
      (5L to 8L).map(i => (i, i * 10, "b")) ++
      (1L to 2L).map(i => (i, i * 20, "c"))).toSet
    assert(got == expect, s"got $got")
    // ONE new metadata version: both halves committed atomically
    assert(new java.io.File(s"$tgt/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json")) == metaBefore + 1,
      "delete + re-add must be one snapshot")
    // zero matches commit nothing
    IcebergExport.updateForeign(spark, tgt, col("k") > 1000L,
      Map("v" -> lit(0L))): Unit
    assert(new java.io.File(s"$tgt/metadata").listFiles()
      .count(_.getName.endsWith(".metadata.json")) == metaBefore + 1)
    // type drift and nondeterminism decline
    val eT = intercept[UnsupportedOperationException](
      IcebergExport.updateForeign(spark, tgt, col("k") === 3L,
        Map("v" -> lit("oops"))))
    assert(eT.getMessage.contains("cast explicitly"), eT.getMessage)
    val eR = intercept[UnsupportedOperationException](
      IcebergExport.updateForeign(spark, tgt, col("k") === 3L,
        Map("v" -> (rand() * 10).cast("long"))))
    assert(eR.getMessage.contains("deterministic"), eR.getMessage)
    // v3: the update's tombstones ride DVs, and a SECOND update of the
    // same file supersedes cumulatively
    val src3 = Files.createTempDirectory("ifupd3_src").toFile.getAbsolutePath + "/t"
    val tgt3 = Files.createTempDirectory("ifupd3_tgt").toFile.getAbsolutePath + "/i"
    TimeTravel.commitOverwrite(
      (1L to 6L).map(i => (i, i * 10)).toDF("k", "v").coalesce(1), src3)
    IcebergExport.snapshot(spark, src3, tgt3, formatVersion = 3)
    IcebergExport.updateForeign(spark, tgt3, col("k") === 1L,
      Map("v" -> lit(111L))): Unit
    IcebergExport.updateForeign(spark, tgt3, col("k") === 2L,
      Map("v" -> lit(222L))): Unit
    assert(IcebergRead.read(spark, tgt3)
      .select("k", "v").as[(Long, Long)].collect().toSet ==
      (Set((1L, 111L), (2L, 222L)) ++ (3L to 6L).map(i => (i, i * 10))),
      "successive v3 updates supersede cumulatively")
    // updating an UPDATED row finds it in its NEW file
    IcebergExport.updateForeign(spark, tgt3, col("v") === 111L,
      Map("v" -> lit(1111L))): Unit
    assert(IcebergRead.read(spark, tgt3)
      .select("k", "v").as[(Long, Long)].collect().toSet ==
      (Set((1L, 1111L), (2L, 222L)) ++ (3L to 6L).map(i => (i, i * 10))),
      "re-updating a re-staged row works")
  }

  test("iceberg foreign append: commits into a table another engine created") {
    // r14 verdict #1: stage data files + a snapshot into a FOREIGN
    // Iceberg table built by the independent fixture path — honoring
    // its REAL (non-positional) field ids, preserving its properties
    // verbatim, put-if-absent on the metadata version
    import graft.sources.{IcebergExport, IcebergRead}
    import spark.implicits._
    val dir = Files.createTempDirectory("iforeign").toFile.getAbsolutePath + "/t"
    val fields = Seq((4, "id", true, "long"), (7, "v", false, "long"),
      (9, "band", false, "string"))
    val f0 = writeIcebergPart(dir, "f0.parquet", (1L to 5L).map(i => (i, i * 10, "b0")))
    val m0 = graft.sources.IcebergRead.Fixture.manifestV2(dir, "m0.avro",
      Seq(graft.sources.IcebergRead.EntryInfo(1, f0, 0, 1L, Nil)))
    // javaNames: the reference implementation's Avro count-field names
    // (added_data_files_count/…) — carry-forward must resolve them by
    // FIELD ID (504/505/506), not by graft's spec-text names
    val ml = graft.sources.IcebergRead.Fixture.manifestListFull(
      dir, "snap-ext-1.avro", 77L, Seq((m0, 1L, 0)), javaNames = true)
    graft.sources.IcebergRead.Fixture.metadataMulti(dir, 1, formatVersion = 2,
      currentSnapshotId = 77L, snapshots = Seq((77L, ml)), fields,
      extraJson = ""","last-sequence-number":1,""" +
        """"properties":{"owner":"external-team"},""" +
        """"partition-specs":[{"spec-id":0,"fields":[]}],"default-spec-id":0""")
    val sid = IcebergExport.appendForeign(spark,
      Seq((6L, 60L, "b1"), (7L, 70L, "b0")).toDF("id", "v", "band"), dir)
    val got = IcebergRead.read(spark, dir)
    assert(got.select("id", "v").as[(Long, Long)].collect().toSet ==
      ((1L to 5L).map(i => (i, i * 10)) ++ Seq((6L, 60L), (7L, 70L))).toSet,
      "appended rows serve beside the foreign snapshot's")
    // the new metadata must carry the foreign properties VERBATIM and
    // advance the snapshot chain
    val meta = currentIcebergMeta(spark, dir)
    assert(meta.get("properties").get("owner").asText() == "external-team",
      "foreign properties survive the mutation-based commit")
    assert(meta.get("current-snapshot-id").asLong() == sid)
    assert(meta.get("last-sequence-number").asLong() == 2L)
    assert(meta.get("snapshots").size() == 2)
    // staged data files carry the table's REAL field ids (4, 7, 9) so
    // id-binding engines resolve them without name mapping
    val conf = spark.sessionState.newHadoopConf()
    val newParts = new java.io.File(s"$dir/data").listFiles()
      .filter(_.getName.startsWith("gf-"))
    assert(newParts.nonEmpty, "foreign append stages under data/")
    val pschema = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(newParts.head.getAbsolutePath), conf))
      .getFooter.getFileMetaData.getSchema
    assert(Seq("id", "v", "band").map(n =>
      pschema.getType(Seq(n): _*).getId.intValue()) == Seq(4, 7, 9),
      s"staged files must carry the table's real field ids: $pschema")
    // required columns enforce NOT NULL with one aggregate
    val eNull = intercept[IllegalArgumentException](
      IcebergExport.appendForeign(spark,
        Seq((Some(8L), Some(80L), "b0"), (None, Some(90L), "b1"))
          .toDF("id", "v", "band"), dir))
    assert(eNull.getMessage.contains("required") &&
      eNull.getMessage.contains("id"), eNull.getMessage)
    // schema mismatch is loud
    val eScm = intercept[UnsupportedOperationException](
      IcebergExport.appendForeign(spark, Seq((8L, "x")).toDF("id", "v"), dir))
    assert(eScm.getMessage.contains("does not match"), eScm.getMessage)
    // equality deletes now land in the SAME foreign table (guard
    // lifted) with the table's real field ids; spec ordering holds:
    // a key re-appended after the delete survives
    IcebergExport.appendEqualityDeletes(spark, dir, Seq(1L, 6L).toDF("id"))
    assert(IcebergRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      Set(2L, 3L, 4L, 5L, 7L), "foreign equality delete kills old rows")
    IcebergExport.appendForeign(spark,
      Seq((1L, 111L, "b9")).toDF("id", "v", "band"), dir)
    assert(IcebergRead.read(spark, dir)
      .where("id = 1").select("v").as[Long].collect().toSeq == Seq(111L),
      "a key appended AFTER the equality delete survives it")
  }

  test("iceberg foreign append: identity partition specs and concurrent writers") {
    import graft.sources.{IcebergExport, IcebergRead}
    import spark.implicits._
    // partitioned foreign table: spec id 5, identity on band (source
    // field 9) — appends must stage partition-pure files under THAT
    // spec and manifest tuples derive per file
    val dir = Files.createTempDirectory("iforeign_p").toFile.getAbsolutePath + "/t"
    val fields = Seq((4, "id", true, "long"), (7, "v", false, "long"),
      (9, "band", false, "string"))
    val f0 = writeIcebergPart(dir, "f0.parquet", (1L to 4L).map(i => (i, i, "b0")))
    val m0 = graft.sources.IcebergRead.Fixture.manifestV2(dir, "m0.avro",
      Seq(graft.sources.IcebergRead.EntryInfo(1, f0, 0, 1L, Nil)))
    val ml = graft.sources.IcebergRead.Fixture.manifestListFull(
      dir, "snap-ext-1.avro", 77L, Seq((m0, 1L, 0)), specId = 5)
    // the spec's DISPLAY name differs from the source column — tuples
    // must bind the source column (source-id 9 → band), not "band_p"
    graft.sources.IcebergRead.Fixture.metadataMulti(dir, 1, formatVersion = 2,
      currentSnapshotId = 77L, snapshots = Seq((77L, ml)), fields,
      extraJson = ""","last-sequence-number":1,"default-spec-id":5,""" +
        """"partition-specs":[{"spec-id":5,"fields":[{"name":"band_p",""" +
        """"transform":"identity","source-id":9,"field-id":1000}]}]""")
    IcebergExport.appendForeign(spark,
      Seq((5L, 50L, "b1"), (6L, 60L, "b0"), (7L, 70L, "b1"))
        .toDF("id", "v", "band"), dir)
    assert(IcebergRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      (1L to 7L).toSet)
    // per-band files: two tuples → at least two staged files, pure by
    // construction (describeFiles would have declined otherwise)
    assert(new java.io.File(s"$dir/data").listFiles()
      .count(_.getName.startsWith("gf-")) >= 2,
      "partition-pure files per appended tuple")
    // a GLOBAL equality delete on the partitioned foreign table must
    // publish (and reference) an empty spec the table didn't carry
    IcebergExport.appendEqualityDeletes(spark, dir, Seq(6L).toDF("id"))
    assert(IcebergRead.read(spark, dir).select("id").as[Long].collect().toSet ==
      (1L to 7L).toSet - 6L)
    val meta = currentIcebergMeta(spark, dir)
    val specs = meta.get("partition-specs")
    assert((0 until specs.size()).map(specs.get).exists(s =>
      s.get("fields").size() == 0 && s.get("spec-id").asInt() == 6),
      s"the commit publishes a fresh empty spec for global deletes: $specs")
    assert(meta.get("default-spec-id").asInt() == 5,
      "the table's default spec is untouched")
    // a transform OUTSIDE the served family still declines by name
    // (bucket/truncate/time units are SUPPORTED since r15 — positively
    // pinned in "transform-partitioned tables accept appends")
    val dirT = Files.createTempDirectory("iforeign_t").toFile.getAbsolutePath + "/t"
    val fT = writeIcebergPart(dirT, "f0.parquet", Seq((1L, 1L, "b0")))
    val mT = graft.sources.IcebergRead.Fixture.manifestV2(dirT, "m0.avro",
      Seq(graft.sources.IcebergRead.EntryInfo(1, fT, 0, 1L, Nil)))
    val mlT = graft.sources.IcebergRead.Fixture.manifestListFull(
      dirT, "snap-ext-1.avro", 1L, Seq((mT, 1L, 0)))
    graft.sources.IcebergRead.Fixture.metadataMulti(dirT, 1, formatVersion = 2,
      currentSnapshotId = 1L, snapshots = Seq((1L, mlT)), fields,
      extraJson = ""","default-spec-id":0,"partition-specs":[{"spec-id":0,""" +
        """"fields":[{"name":"id_z","transform":"zorder",""" +
        """"source-id":4,"field-id":1000}]}]""")
    val eT = intercept[UnsupportedOperationException](
      IcebergExport.appendForeign(spark,
        Seq((2L, 2L, "b0")).toDF("id", "v", "band"), dirT))
    assert(eT.getMessage.contains("zorder"), eT.getMessage)
    // concurrent writers: every append lands its own snapshot, no rows
    // lost — the CREATE_NEW put-if-absent shape
    val dirR = Files.createTempDirectory("iforeign_r").toFile.getAbsolutePath + "/t"
    val fR = writeIcebergPart(dirR, "f0.parquet", Seq((0L, 0L, "b0")))
    val mR = graft.sources.IcebergRead.Fixture.manifestV2(dirR, "m0.avro",
      Seq(graft.sources.IcebergRead.EntryInfo(1, fR, 0, 1L, Nil)))
    val mlR = graft.sources.IcebergRead.Fixture.manifestListFull(
      dirR, "snap-ext-1.avro", 1L, Seq((mR, 1L, 0)))
    graft.sources.IcebergRead.Fixture.metadataMulti(dirR, 1, formatVersion = 2,
      currentSnapshotId = 1L, snapshots = Seq((1L, mlR)), fields,
      extraJson = ""","last-sequence-number":1""")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val futures = (1 to 4).map { w =>
      Future(IcebergExport.appendForeign(spark,
        Seq((w.toLong * 100, w.toLong, s"b$w")).toDF("id", "v", "band"), dirR))
    }
    val sids = Await.result(Future.sequence(futures), 120.seconds)
    assert(sids.toSet.size == 4, s"each writer its own snapshot: $sids")
    assert(IcebergRead.read(spark, dirR).select("id").as[Long].collect().toSet ==
      Set(0L, 100L, 200L, 300L, 400L), "no concurrent append may be lost")
  }

  test("iceberg foreign append: seeded randomized interleave with equality deletes vs model") {
    // the r15 write path under randomized shapes: v2 AND v3 tables,
    // identity-partitioned and not, java-named and spec-named prior
    // lists, random interleavings of appendForeign and
    // appendEqualityDeletes — the replay must equal an in-memory model
    // applying the spec's strictly-older delete rule, including
    // resurrection of previously-deleted keys.
    import graft.sources.{IcebergExport, IcebergRead}
    import graft.sources.IcebergRead.{EntryInfo, Fixture}
    import spark.implicits._
    val rnd = new scala.util.Random(0x15EBE46L)
    (1 to 4).foreach { trial =>
      val fv = if (rnd.nextBoolean()) 3 else 2
      val partitioned = rnd.nextBoolean()
      val dir = Files.createTempDirectory(s"ifsw$trial").toFile.getAbsolutePath + "/t"
      val seed = (1L to (1 + rnd.nextInt(4))).map(i =>
        (i, rnd.nextInt(50).toLong, "b0")) // band-pure seed file
      val f0 = writeIcebergPart(dir, "f0.parquet", seed)
      val m0 = Fixture.manifestV2(dir, "m0.avro",
        Seq(EntryInfo(1, f0, 0, 1L, Nil)))
      val ml = Fixture.manifestListFull(dir, "snap-1.avro", 11L,
        Seq((m0, 1L, 0)), specId = if (partitioned) 3 else 0,
        javaNames = rnd.nextBoolean())
      val fields = Seq((2, "id", true, "long"), (5, "v", false, "long"),
        (8, "band", false, "string"))
      val specJson =
        if (!partitioned) ""
        else ""","default-spec-id":3,"partition-specs":[{"spec-id":3,""" +
          """"fields":[{"name":"band","transform":"identity",""" +
          """"source-id":8,"field-id":1000}]}]"""
      val rowJson = if (fv == 3) s""","next-row-id":${seed.size}""" else ""
      Fixture.metadataMulti(dir, 1, fv, 11L, Seq((11L, ml)), fields,
        extraJson = s""","last-sequence-number":1$specJson$rowJson""")
      var seq = 1L
      var model = seed.map(t => (t._1, t._2, t._3, 1L)).toSet
      val deadIds = scala.collection.mutable.Set.empty[Long]
      var nextId = 100L
      (1 to 3 + rnd.nextInt(3)).foreach { _ =>
        seq += 1
        val op = rnd.nextInt(5)
        if (op == 0 && model.nonEmpty) {
          val live = model.map(_._1).toSeq.sorted
          val ks = {
            val picked = live.filter(_ => rnd.nextBoolean()).take(3)
            if (picked.isEmpty) Seq(live.head) else picked
          }
          IcebergExport.appendEqualityDeletes(spark, dir, ks.toDF("id")): Unit
          val kset = ks.toSet
          model = model.filterNot(t => kset(t._1) && t._4 < seq)
          deadIds ++= ks
        } else if (op == 1 && model.nonEmpty) {
          // POSITIONAL delete (r15): pred chosen to match ≥ 1 live row;
          // hits exactly the CURRENT live matches, later re-appends of
          // the same ids survive (position ≠ value)
          val anchor = model.map(_._1).toSeq.sorted.apply(
            rnd.nextInt(model.size))
          val m = 2 + rnd.nextInt(4)
          val r = anchor % m
          IcebergExport.deleteForeign(spark, dir, col("id") % m === r): Unit
          val hit = model.filter(t => t._1 % m == r)
          model = model -- hit
          deadIds ++= hit.map(_._1)
        } else if (op == 2 && model.nonEmpty) {
          // UPDATE (r15): matched rows re-stage at THIS sequence number
          // — later equality deletes with older keys must not kill them
          val anchor = model.map(_._1).toSeq.sorted.apply(
            rnd.nextInt(model.size))
          val m = 2 + rnd.nextInt(4)
          val r = anchor % m
          val bump = 1000L * seq
          val newBand = if (partitioned && rnd.nextBoolean())
            Some(s"b${rnd.nextInt(3)}") else None
          val sets: Map[String, org.apache.spark.sql.Column] =
            Map("v" -> (col("v") + bump)) ++
              newBand.map(b => "band" -> lit(b))
          IcebergExport.updateForeign(spark, dir, col("id") % m === r, sets): Unit
          val (hit, kept) = model.partition(t => t._1 % m == r)
          model = kept ++ hit.map(t =>
            (t._1, t._2 + bump, newBand.getOrElse(t._3), seq))
        } else {
          val rows = (0 until 1 + rnd.nextInt(5)).map { _ =>
            val id =
              if (deadIds.nonEmpty && rnd.nextInt(3) == 0) {
                val r = deadIds.head; deadIds -= r; r // resurrection
              } else { val r = nextId; nextId += 1; r }
            (id, rnd.nextInt(50).toLong, s"b${rnd.nextInt(3)}")
          }
          IcebergExport.appendForeign(spark,
            rows.toDF("id", "v", "band"), dir): Unit
          model ++= rows.map(t => (t._1, t._2, t._3, seq))
        }
      }
      val got = IcebergRead.read(spark, dir).select("id", "v", "band")
        .as[(Long, Long, String)].collect().toSet
      assert(got == model.map(t => (t._1, t._2, t._3)),
        s"trial $trial fv=$fv partitioned=$partitioned:\n got=$got\n" +
          s"want=${model.map(t => (t._1, t._2, t._3))}")
    }
  }

  test("puffin lz4 and iceberg staging guards fail loudly, not obscurely") {
    // r14 ADVICE: a declared lz4 content size past Int range must name
    // the unsupported size, not overflow into a negative-ctor error;
    // length extensions are bounded; non-local equality-delete targets
    // decline by scheme before any file is touched
    import graft.sources.{IcebergExport, Puffin}
    import spark.implicits._
    val bb = java.nio.ByteBuffer.allocate(32)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(0x184d2204)
    bb.put(((1 << 6) | 0x08).toByte) // version 1 + content-size flag
    bb.put(0x40.toByte)              // BD
    bb.putLong(Long.MaxValue)        // absurd declared content size
    bb.put(0.toByte)                 // header checksum (unverified)
    bb.putInt(0)                     // end mark
    val eSize = intercept[IllegalArgumentException](
      Puffin.lz4FrameDecompress(java.util.Arrays.copyOf(bb.array(), bb.position())))
    assert(eSize.getMessage.contains("exceeds supported range"), eSize.getMessage)
    // a run of 0xff length extensions walks the literal length past Int
    // range long before any copy — the bound must trip first
    val block = Array[Byte](0xf0.toByte) ++
      Array.fill(9 * 1024 * 1024)(0xff.toByte) // 9M × 255 ≫ Int.MaxValue
    bb.clear()
    bb.putInt(0x184d2204); bb.put((1 << 6).toByte); bb.put(0x40.toByte)
    bb.put(0.toByte)
    val head = java.util.Arrays.copyOf(bb.array(), bb.position())
    val sized = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(block.length).array()
    val eLen = intercept[IllegalArgumentException](
      Puffin.lz4FrameDecompress(head ++ sized ++ block ++ Array.fill(4)(0.toByte)))
    assert(eLen.getMessage.contains("overflows supported range"), eLen.getMessage)
    val eScheme = intercept[UnsupportedOperationException](
      IcebergExport.appendEqualityDeletes(spark, "s3a://bucket/t",
        Seq(1L).toDF("k")))
    assert(eScheme.getMessage.contains("s3a"), eScheme.getMessage)
  }
}
