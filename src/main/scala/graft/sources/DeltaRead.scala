package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** Read-only DELTA LAKE interop: replay a real `_delta_log` (the
  * public protocol — JSON commit files plus optional parquet
  * checkpoints, last-writer-wins per file path) into the live file
  * list and scan it — so the engine queries lakehouse data IN PLACE,
  * no conversion pass. Scope:
  *
  *   - `_last_checkpoint` → the checkpoint at that version (classic
  *     single-part, classic multi-part, or a V2 UUID-named checkpoint
  *     whose file actions live in `_sidecars/` — the `v2Checkpoint`
  *     reader feature), then every `<v>.json` commit after it,
  *     ascending; actions apply in order — an `add` (re)registers its
  *     path, a `remove` tombstones it, the last `metaData` wins the
  *     schema;
  *   - add/remove paths are percent-encoded per the protocol (RFC
  *     2396) and decode on apply, so partition directories with
  *     spaces/unicode resolve;
  *   - partition values come from `add.partitionValues` (they are NOT
  *     in the data files) and are injected per file group as typed
  *     literals, exactly how Delta serves them;
  *   - DELETION VECTORS (reader version 3, feature `deletionVectors`)
  *     apply as merge-on-read: each DV'd file scans with
  *     `_metadata.row_index` and anti-joins its decoded positions
  *     ([[DeltaDv]] — the protocol's z85/RoaringBitmap format), the
  *     standard MoR read amplification until the writer OPTIMIZEs;
  *   - COLUMN MAPPING (reader version 2 / the v3 feature) serves both
  *     modes: `name` scans by the schema's physicalName metadata, `id`
  *     resolves data columns by parquet field id from each file's
  *     footer (names are arbitrary in id mode);
  *   - features this reader cannot honor fail LOUDLY, never silently
  *     mis-read: any version-3 reader feature outside
  *     `deletionVectors`/`columnMapping`/`v2Checkpoint`/`timestampNtz`/
  *     `variantType`/`typeWidening` declines with the feature named
  *     (typeWidening rides Spark 4's parquet widening promotion: old
  *     narrow files serve the table's wide type).
  *
  * Scale: log replay is driver-side O(actions) — the same planning
  * cost Delta itself pays; the scan is one parquet read per partition
  * group over exactly the live files, pushdown and pruning intact;
  * DV position sets are O(deleted rows per file) and broadcast.
  */
object DeltaRead {


  /** Reader-version-3 features this replay honors; anything else on
    * the table's protocol declines by name. `timestampNtz` (r14) is a
    * pure type-capability flag: Spark 4 carries TimestampNTZType
    * natively, the schemaString's `timestamp_ntz` parses through
    * `DataType.fromJson`, partition values cast through the same
    * zone-aware literal path, and stats bounds ride
    * [[FileSkipping.fromDeltaStats]]'s NTZ case. */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "v2Checkpoint", "timestampNtz",
      "variantType", "typeWidening")

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Delta stores add/remove/cdc paths percent-encoded (RFC 2396);
    * decode through URI→Path, which handles both relative paths and
    * absolute scheme-full URIs. A path that is not URI-parseable is
    * served raw (defensive: some writers never encode). */
  private[sources] def decodePath(p: String): String =
    try new Path(new java.net.URI(p)).toString
    catch { case _: java.net.URISyntaxException => p }

  /** `size`/`modTime` ride from the log (`add.size` is REQUIRED by the
    * protocol to be the actual byte length — planning trusts it, the
    * same stance the reference Delta implementation takes, which is
    * what keeps planning free of per-file filesystem RPCs); None only
    * for nonconforming writers, resolved by one getFileStatus each. */
  private[sources] final case class AddFile(path: String,
      partitionValues: Map[String, String],
      dv: Option[DeltaDv.Descriptor] = None,
      size: Option[Long] = None,
      modTime: Long = 0L,
      stats: Option[String] = None)

  /** A change-data file (`cdc` action): rows carry `_change_type`. */
  private[sources] final case class CdcFile(path: String,
      partitionValues: Map[String, String])

  private[sources] final case class LogState(
      adds: Map[String, AddFile],
      schemaJson: Option[String],
      partitionCols: Seq[String],
      minReader: Int,
      readerFeatures: Set[String] = Set.empty,
      config: Map[String, String] = Map.empty,
      // writer-side protocol — read-only here, consumed by the foreign
      // APPEND path ([[DeltaExport.appendForeign]]) to honor the
      // table's writer requirements before committing into it
      minWriter: Int = 1,
      writerFeatures: Set[String] = Set.empty)

  /** COLUMN MAPPING (reader version 2, or the v3 `columnMapping`
    * feature): the table's logical column names resolve to the
    * immutable physical names the parquet files carry, recorded per
    * field as `delta.columnMapping.physicalName` in the schemaString's
    * metadata. `name` mode scans by physical name and aliases to
    * logical; `id` mode resolves DATA columns by parquet field id
    * instead ([[colIdsOf]] + per-file footer ids — the spec's
    * authoritative match there), while partitionValues still key on
    * the physical names this map carries in BOTH modes. Returns
    * logical → physical, empty for unmapped tables. */
  private[sources] def colMapOf(tablePath: String, st: LogState): Map[String, String] = {
    val schema = st.schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(return Map.empty)
    val pairs = schema.fields.toSeq.flatMap { f =>
      if (f.metadata.contains("delta.columnMapping.physicalName"))
        Some(f.name -> f.metadata.getString("delta.columnMapping.physicalName"))
      else None
    }
    // physicalName metadata is authoritative even when the configuration
    // didn't survive (e.g. a checkpoint that kept only schemaString)
    if (pairs.map(_._2).distinct.size != pairs.size)
      throw new IllegalStateException(
        s"delta table at $tablePath maps two columns to one physical name")
    pairs.toMap
  }

  /** The PHYSICAL rendering of a (possibly nested) mapped data type:
    * every struct field — top-level or inside struct/array/map shells —
    * renamed to its `delta.columnMapping.physicalName` (name falls
    * through for unmapped fields), metadata stripped. The scan pins
    * this shape; casting the scanned column back to the LOGICAL type
    * restores the nested names (struct casts bind by position), which
    * is what lets name-mode tables with nested complex columns — the
    * common Databricks shape — read instead of declining (r12). */
  private[sources] def physicalType(dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map { f =>
      val phys =
        if (f.metadata.contains("delta.columnMapping.physicalName"))
          f.metadata.getString("delta.columnMapping.physicalName")
        else f.name
      org.apache.spark.sql.types.StructField(
        phys, physicalType(f.dataType), f.nullable)
    })
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = physicalType(at.elementType))
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(keyType = physicalType(mt.keyType),
        valueType = physicalType(mt.valueType))
    case other => other
  }

  /** `id`-mode column mapping: logical data column → its
    * `delta.columnMapping.id` field id. Empty unless the table's
    * configuration declares mode `id`; in id mode every mapped field —
    * top-level AND nested struct fields — must carry an id (loud
    * otherwise — a silent name fallback is exactly the mis-read the
    * mode exists to prevent). Returns the TOP-LEVEL map; nested shapes
    * resolve through [[withParquetFieldIds]] + the engine-native
    * parquet field-id matching instead of the footer-grouping path. */
  private[sources] def colIdsOf(tablePath: String, st: LogState): Map[String, Int] = {
    if (st.config.getOrElse("delta.columnMapping.mode", "") != "id") return Map.empty
    val schema = st.schemaJson.map(j =>
      DataType.fromJson(j).asInstanceOf[StructType]).getOrElse(return Map.empty)
    withParquetFieldIds(tablePath, schema): Unit // recursive id validation
    schema.fields.toSeq.map(f =>
      f.name -> f.metadata.getLong("delta.columnMapping.id").toInt).toMap
  }

  private[sources] def hasComplex(schema: StructType): Boolean =
    schema.fields.exists(f =>
      f.dataType.isInstanceOf[StructType] ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
        f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])

  /** The id-mode read schema for the ENGINE-NATIVE resolution path:
    * every struct field — top-level or nested — gains a
    * `parquet.field.id` metadata key copied from its
    * `delta.columnMapping.id`, and the scan runs under
    * `spark.sql.parquet.fieldId.read.enabled`, so Spark's own parquet
    * reader matches columns by field id at EVERY nesting level (the
    * same mechanism the reference Delta implementation rides). Names
    * in the read schema are the LOGICAL names — irrelevant to the
    * match, so no rename/cast-back pass is needed. A field missing its
    * id is loud at plan time; a FILE missing ids entirely is loud at
    * scan time (the engine's ignoreMissingIds=false stance). */
  private[sources] def withParquetFieldIds(tablePath: String,
      dt: DataType): DataType = dt match {
    case st: StructType => StructType(st.fields.map { f =>
      if (!f.metadata.contains("delta.columnMapping.id"))
        throw new IllegalStateException(
          s"delta table at $tablePath is in columnMapping mode 'id' but " +
            s"column '${f.name}' carries no delta.columnMapping.id")
      f.copy(dataType = withParquetFieldIds(tablePath, f.dataType),
        metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong("parquet.field.id", f.metadata.getLong("delta.columnMapping.id"))
          .build())
    })
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = withParquetFieldIds(tablePath, at.elementType))
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(keyType = withParquetFieldIds(tablePath, mt.keyType),
        valueType = withParquetFieldIds(tablePath, mt.valueType))
    case other => other
  }

  /** One parquet footer's top-level (fieldId → file column name) map —
    * the id-mode resolution evidence. Session-independent so it can run
    * on executors. */
  private def footerFieldIds(conf: org.apache.hadoop.conf.Configuration,
      file: String): Map[Int, String] = {
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file), conf))
    try {
      import scala.jdk.CollectionConverters._
      rdr.getFooter.getFileMetaData.getSchema.getFields.asScala.flatMap { f =>
        Option(f.getId).map(id => id.intValue() -> f.getName)
      }.toMap
    } finally rdr.close()
  }

  /** Java-serializable Hadoop-conf carrier for executor-side footer
    * reads (Configuration itself is Writable but not Serializable).
    * Shared with [[IcebergRead]]'s distributed default-probe (r15). */
  private[sources] final class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Per-file id→name resolutions, CACHED (add files are immutable, so
    * a path's footer never changes — repeated reads and every streaming
    * getBatch hit the cache) and, for large uncached batches,
    * DISTRIBUTED across executors instead of read sequentially on the
    * driver (the r12 O(files) driver-bottleneck fix). */
  private val fieldIdCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[Int, String]]()

  private def fieldIdsOfFiles(spark: SparkSession,
      files: Seq[String]): Map[String, Map[Int, String]] = {
    val distinct = files.distinct
    val missing = distinct.filterNot(fieldIdCache.containsKey)
    if (missing.nonEmpty) {
      val resolved: Seq[(String, Map[Int, String])] =
        if (missing.size <= 8)
          missing.map(f =>
            f -> footerFieldIds(spark.sessionState.newHadoopConf(), f))
        else {
          val confB = spark.sparkContext.broadcast(
            new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
          try spark.sparkContext
            .parallelize(missing, math.min(missing.size, 256))
            .map(f => f -> footerFieldIds(confB.value.value, f))
            .collect().toSeq // bounded: one (path, id→name) row per file
          finally confB.destroy() // else one leaked broadcast per batch
        }
      resolved.foreach { case (f, m) => fieldIdCache.put(f, m) }
    }
    distinct.map(f => f -> fieldIdCache.get(f)).toMap
  }

  /** The table's live snapshot as a DataFrame (`asOf` pins the replay
    * to a log version — the streaming source's first batch uses it so
    * a commit landing between offset resolution and batch planning
    * can't shear the snapshot). */
  def read(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): DataFrame = {
    val st = replay(spark, tablePath, asOf)
    requireReadable(tablePath, st)
    val schemaJson = st.schemaJson.getOrElse(throw new IllegalStateException(
      s"delta log at $tablePath has no metaData action"))
    val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    if (st.adds.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // one scan per distinct partition tuple: the values live in the log
    // (null = absent key), not the files; absolute add.paths allowed
    else scanAdds(spark, tablePath, st.adds.values.toSeq, schema,
      st.partitionCols, colMapOf(tablePath, st), colIdsOf(tablePath, st))
  }

  /** TIMESTAMP-based time travel (the `TIMESTAMP AS OF` rule): the
    * LATEST version whose commit timestamp is ≤ `tsMillis`. Per the
    * public protocol a commit's timestamp is its
    * `commitInfo.inCommitTimestamp` when the writer recorded one (the
    * in-commit-timestamps feature, where commitInfo must be the FIRST
    * action) and the log file's modification time otherwise;
    * modification times can regress (file copies, clock skew), so
    * timestamps canonicalize MONOTONIC — each commit's effective
    * timestamp is at least its predecessor's, the reference
    * implementation's adjustment. A timestamp before the first
    * available commit is loud (vacuumed history cannot resolve it). */
  def versionAtTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): Long = {
    val logDir = new Path(s"$tablePath/_delta_log")
    val f = logDir.getFileSystem(spark.sessionState.newHadoopConf())
    val commits = f.listStatus(logDir).toSeq
      .filter(_.getPath.getName.matches("""\d{20}\.json"""))
      .map(s => (s.getPath.getName.stripSuffix(".json").toLong, s))
      .sortBy(_._1)
    if (commits.isEmpty) throw new IllegalArgumentException(
      s"no commit JSONs under $logDir — timestamp travel needs the log files")
    // the ICT value, read from the commit's first line only (the
    // feature pins commitInfo first) — one bounded read per commit,
    // the same O(versions) planning class as the replay itself
    def ictOf(p: Path): Option[Long] =
      try {
        val in = f.open(p)
        try {
          val rdr = new java.io.BufferedReader(
            new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
          Option(rdr.readLine()).flatMap { line =>
            val node = Json.mapper.readTree(line)
            Option(node.get("commitInfo"))
              .flatMap(ci => Option(ci.get("inCommitTimestamp")))
              .filterNot(_.isNull).map(_.asLong())
          }
        } finally in.close()
      } catch { case _: Exception => None }
    var prev = Long.MinValue
    val stamped = commits.map { case (v, s) =>
      val raw = ictOf(s.getPath).getOrElse(s.getModificationTime)
      prev = math.max(prev, raw)
      (v, prev)
    }
    stamped.takeWhile(_._2 <= tsMillis).lastOption.map(_._1).getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis predates the first available commit of " +
          s"$tablePath (${stamped.head._2}); earlier history is not resolvable"))
  }

  /** [[read]] pinned at the snapshot [[versionAtTimestamp]] names. */
  def readAsOfTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): DataFrame =
    read(spark, tablePath, Some(versionAtTimestamp(spark, tablePath, tsMillis)))

  private def requireReadable(tablePath: String, st: LogState): Unit =
    st.minReader match {
      case 1 => ()
      // validates the mapping (nested guard; id mode: every field has
      // an id) — both name and id modes are served
      case 2 => colMapOf(tablePath, st); colIdsOf(tablePath, st): Unit
      case 3 =>
        val unsupported = st.readerFeatures -- SupportedReaderFeatures
        if (unsupported.nonEmpty) throw new UnsupportedOperationException(
          s"delta table at $tablePath requires reader feature(s) " +
            s"${unsupported.toSeq.sorted.mkString(", ")}; this reader supports " +
            s"${SupportedReaderFeatures.mkString(", ")} only")
      case other => throw new UnsupportedOperationException(
        s"delta table at $tablePath requires minReaderVersion $other; this " +
          "reader supports versions 1–3 (features: " +
          s"${SupportedReaderFeatures.toSeq.sorted.mkString(", ")})")
    }

  /** Log replay to the live state: checkpoint (if any, and at or
    * before `asOf`) then the JSON commits after it up to `asOf`
    * (default: everything). Exposed for the spec's protocol
    * assertions. */
  private[sources] def replay(spark: SparkSession, tablePath: String,
      asOf: Option[Long] = None): LogState = {
    val logDir = s"$tablePath/_delta_log"
    val f = fs(spark, tablePath)
    if (!f.exists(new Path(logDir)))
      throw new IllegalArgumentException(s"no _delta_log at $tablePath")
    val cpAll = lastCheckpoint(spark, logDir)
    val cp = cpAll.filter(v => asOf.forall(v <= _))
    val start = cp.map(_ + 1).getOrElse(0L)
    var st = cp.map(v => fromCheckpoint(spark, logDir, v))
      .getOrElse(LogState(Map.empty, None, Seq.empty, 1))
    val allJson = f.listStatus(new Path(logDir)).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit))
      .map(n => n.stripSuffix(".json").toLong)
    // a version BEFORE the last checkpoint whose commit JSONs were
    // retired by log cleanup is unrecoverable — name the retention
    // trade instead of failing as "no metaData action"
    cpAll.filter(c => asOf.exists(_ < c)).foreach { c =>
      if (!allJson.contains(0L)) throw new IllegalStateException(
        s"version ${asOf.get} of $tablePath predates the checkpoint at v$c " +
          "and its commit JSONs were retired by log-retention cleanup — the " +
          "snapshot is unrecoverable; read a version at or after the " +
          "checkpoint, or resync the stream from a fresh checkpoint")
    }
    val commits = allJson
      .filter(v => v >= start && asOf.forall(v <= _)).sorted
    // a version the log never reached is a caller error, not a gap
    val latest = (allJson ++ cpAll).reduceOption(_ max _)
    asOf.filter(a => latest.forall(a > _)).foreach { a =>
      throw new IllegalArgumentException(
        s"version $a of $tablePath does not exist" +
          latest.map(l => s" (latest is $l)").getOrElse(""))
    }
    // the fold is only correct over a CONTIGUOUS window reaching asOf:
    // a gapped log (pre-checkpoint JSONs partially removed by an
    // external cleaner or a crashed cleanupLog) would silently fold to
    // a WRONG historical snapshot — assert the exact window instead
    // (r13 ADVICE; subsumes the v0 heuristic above for partial
    // retirement, which only caught the all-retired shape)
    asOf.orElse(commits.lastOption).filter(_ >= start).foreach { hi =>
      val expect = start to hi
      if (commits != expect.toSeq) {
        val missing = (expect.toSet -- commits.toSet).toSeq.sorted
        throw new IllegalStateException(
          s"delta log at $logDir is not contiguous over versions " +
            s"[$start, $hi]: missing commit(s) " +
            missing.take(8).map(v => f"$v%020d.json").mkString(", ") +
            (if (missing.size > 8) s" (+${missing.size - 8} more)" else "") +
            " — the log was partially retired or corrupted; this " +
            "snapshot is unrecoverable")
      }
    }
    commits.foreach { v =>
      st = commitBody(spark, logDir, v).foldLeft(st)((s, line) =>
        applyAction(s, Json.mapper.readTree(line)))
    }
    st
  }

  private def commitBody(spark: SparkSession, logDir: String, v: Long): Seq[String] =
    try textLines(spark, new Path(logDir, f"$v%020d.json"))
    catch {
      case e: java.io.FileNotFoundException
          if lastCheckpoint(spark, logDir).exists(_ >= v) =>
        // an incremental window reaching behind the checkpoint after
        // log cleanup: name the retention trade, not a raw missing file
        throw new IllegalStateException(
          s"commit v$v under $logDir was retired by log-retention cleanup " +
            "(a checkpoint covers it); the incremental window cannot be " +
            "replayed — resync from a fresh snapshot", e)
    }

  /** Newline-delimited JSON action lines of one log file. */
  private def textLines(spark: SparkSession, p: Path): Seq[String] = {
    val f = fs(spark, p.toString)
    val in = f.open(p)
    val body = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      out.toString("UTF-8")
    } finally in.close()
    body.split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** The files ADDED by commits in (sinceV, toV] — the streaming
    * source's incremental batch. Anything that makes the window more
    * than an append fails loudly, the contract shared with
    * [[TimeTravel.appendedDirsSince]]: a `remove` (the diff would miss
    * deletions), a DV-bearing `add` (rows mutated), and — the r11
    * ADVICE close — a `metaData` or `protocol` action (the stream's
    * schema and physical resolution are pinned at creation; scanning
    * new files under them after a mid-stream schema or protocol change
    * would silently serve nulls or wrong columns). */
  private[sources] def addsBetween(spark: SparkSession, tablePath: String,
      sinceV: Long, toV: Long): Seq[AddFile] = {
    val logDir = s"$tablePath/_delta_log"
    ((sinceV + 1) to toV).flatMap { v =>
      commitBody(spark, logDir, v).flatMap { line =>
        val node = Json.mapper.readTree(line)
        if (node.has("remove")) throw new IllegalStateException(
          s"delta table at $tablePath removed files in commit v$v; the " +
            "append-only stream cannot represent deletions — resync from a snapshot")
        if (node.has("metaData")) throw new IllegalStateException(
          s"delta table at $tablePath changed its metaData in commit v$v; the " +
            "stream's schema is pinned at creation — resync from a snapshot")
        if (node.has("protocol")) throw new IllegalStateException(
          s"delta table at $tablePath upgraded its protocol in commit v$v; " +
            "re-validate reader support and resync from a snapshot")
        val st = applyAction(LogState(Map.empty, None, Seq.empty, 1), node)
        st.adds.values.foreach { a =>
          if (a.dv.nonEmpty) throw new IllegalStateException(
            s"delta table at $tablePath added a deletion vector in commit v$v; " +
              "the append-only stream cannot represent row deletions — " +
              "resync from a snapshot (or stream with readChangeFeed)")
        }
        st.adds.values
      }
    }
  }

  /** Count of `add` actions in one commit — the streaming source's
    * rate-limit planning probe (one driver-side JSON read, no scan). */
  private[sources] def addCountIn(spark: SparkSession, tablePath: String,
      v: Long): Int =
    commitBody(spark, s"$tablePath/_delta_log", v)
      .count(line => Json.mapper.readTree(line).has("add"))

  /** The CHANGE batches of commits in (sinceV, toV], per commit — the
    * change-data-feed face ([[DeltaSource]]'s readChangeFeed mode):
    * a commit carrying `cdc` actions serves its change files verbatim
    * (their rows carry `_change_type` — insert / delete /
    * update_preimage / update_postimage); a pure-append commit serves
    * its adds as inserts; a commit that removed files or changed DVs
    * WITHOUT writing change data cannot be represented row-level and
    * fails loudly (enable CDF on the writer). metaData/protocol
    * changes fail loudly — the stream's schema is pinned. */
  private[sources] def changesBetween(spark: SparkSession, tablePath: String,
      sinceV: Long, toV: Long): Seq[(Long, Either[Seq[AddFile], Seq[CdcFile]])] = {
    val logDir = s"$tablePath/_delta_log"
    ((sinceV + 1) to toV).map { v =>
      var cdc = Vector.empty[CdcFile]
      var adds = Vector.empty[AddFile]
      var removed = false
      commitBody(spark, logDir, v).foreach { line =>
        val node = Json.mapper.readTree(line)
        if (node.has("metaData")) throw new IllegalStateException(
          s"delta table at $tablePath changed its metaData in commit v$v; the " +
            "change stream's schema is pinned at creation — resync from a snapshot")
        if (node.has("protocol")) throw new IllegalStateException(
          s"delta table at $tablePath upgraded its protocol in commit v$v; " +
            "re-validate reader support and resync from a snapshot")
        if (node.has("cdc")) {
          val c = node.get("cdc")
          cdc :+= CdcFile(decodePath(c.get("path").asText()), partValuesOf(c))
        } else if (node.has("remove")) {
          removed = true
        } else if (node.has("add")) {
          val st = applyAction(LogState(Map.empty, None, Seq.empty, 1), node)
          adds ++= st.adds.values
        }
      }
      if (cdc.nonEmpty) (v, Right(cdc.toSeq))
      else if (removed || adds.exists(_.dv.nonEmpty)) throw new IllegalStateException(
        s"delta table at $tablePath mutated rows in commit v$v without change " +
          "data; the writer must enable changeDataFeed for row-level streaming — " +
          "resync from a snapshot")
      else (v, Left(adds.toSeq))
    }
  }

  private[sources] def resolvePath(tablePath: String, p: String): String = {
    val hp = new Path(p)
    if (hp.isAbsolute || hp.toUri.getScheme != null) hp.toString
    else s"$tablePath/$p"
  }

  /** Scheme-normalized path key: `_metadata.file_path` renders URIs
    * (`file:///…`) while resolved add paths are plain — match on one
    * canonical root-slash form (the [[IcebergRead]] normalization). */
  private def normKey(p: String): String = PathKeys.normKey(p)

  private def normPathCol(c: Column): Column =
    org.apache.spark.sql.functions.regexp_replace(
      c, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+", "/")

  /** One partition value, decoded from the log's string serialization
    * to Catalyst form (null = absent key, per the protocol). */
  private def catalystPartitionValue(raw: Option[String],
      dt: DataType, zone: String): Any = raw match {
    case None => null
    case Some(s) =>
      org.apache.spark.sql.catalyst.expressions.Cast(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType),
        dt, Some(zone)).eval(null)
  }

  /** Scan a set of adds under the table's schema — shared by [[read]]
    * and the streaming batch. The scan is ONE parquet relation over a
    * [[DeltaLogFileIndex]] (not a union of per-partition-tuple scans —
    * the r12 rework): partition values come from the log and serve as
    * real partition columns with pruning intact; file statuses come
    * from `add.size`/`add.modificationTime` (zero planning RPCs); ALL
    * deletion vectors subtract in one broadcast anti-join on
    * (file, row_index), the [[IcebergRead]] position-delete shape,
    * instead of one extra scan per DV'd file. Under a COLUMN MAPPING
    * the files (and add.partitionValues keys) carry physical names:
    * the relation pins the physical schema and the final projection
    * aliases back to logical. */
  private[sources] def scanAdds(spark: SparkSession, tablePath: String,
      adds: Seq[AddFile], schema: StructType, partCols: Seq[String],
      colMap: Map[String, String] = Map.empty,
      colIds: Map[String, Int] = Map.empty,
      fileKey: Option[String] = None,
      rowIndex: Option[String] = None): DataFrame = {
    if (colIds.nonEmpty && hasComplex(StructType(
        schema.filterNot(f => partCols.contains(f.name)).toArray)))
      return scanAddsByFieldId(spark, tablePath, adds, schema, partCols,
        colMap, fileKey, rowIndex)
    if (colIds.nonEmpty) {
      // ID MODE: the parquet field id is the authoritative match — file
      // column NAMES are arbitrary (and may differ file to file, e.g.
      // across a rename era). Resolve footer id→name maps (batched,
      // cached, distributed for large batches), group files sharing a
      // resolution, and serve each group through the name path below
      // with that map as its colMap (partition columns keep their
      // physicalName resolution — the log keys partitionValues by
      // physical name in both modes). A file missing an id maps to a
      // sentinel absent name → nulls, the schema-evolution contract
      // for files born before the column.
      //
      // Flat shapes DELIBERATELY stay on this path rather than the
      // engine-native one nested shapes use: footer resolution fails a
      // broken table at PLAN time with the offending file named (the
      // native match surfaces only at scan time, mid-job on a large
      // read), and the resolved footer names let `add.stats` bounds
      // keep binding for metadata file skipping.
      val dataNames = schema.filterNot(f => partCols.contains(f.name)).map(_.name)
      val idMaps = fieldIdsOfFiles(spark,
        adds.map(a => resolvePath(tablePath, a.path)))
      val groups = adds.groupBy { a =>
        val byId = idMaps(resolvePath(tablePath, a.path))
        // a footer with NO ids at all cannot be id-resolved — loud, not
        // all-null (only an individually absent id is schema evolution)
        if (byId.isEmpty) throw new IllegalStateException(
          s"delta table at $tablePath is in columnMapping mode 'id' but data " +
            s"file ${a.path} carries no parquet field ids — the file cannot " +
            "be resolved; rewrite the table or fix the mode")
        dataNames.map(n =>
          n -> byId.getOrElse(colIds(n), s"__graft_absent_${colIds(n)}")).toMap
      }
      return groups.toSeq.map { case (m, as) =>
        scanAdds(spark, tablePath, as, schema, partCols, colMap ++ m,
          fileKey = fileKey, rowIndex = rowIndex)
      }.reduce(_.unionByName(_))
    }
    def physOf(c: String) = colMap.getOrElse(c, c)
    val dataFields = schema.filterNot(f => partCols.contains(f.name))
    val dataSchema = StructType(dataFields.map(f =>
      org.apache.spark.sql.types.StructField(physOf(f.name),
        if (colMap.isEmpty) f.dataType else physicalType(f.dataType),
        f.nullable)))
    val partSchema = StructType(partCols.map(pc =>
      org.apache.spark.sql.types.StructField(
        physOf(pc), schema(pc).dataType, nullable = true)))
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val hadoopConf = spark.sessionState.newHadoopConf()
    val live = adds.map { a =>
      val p = new Path(resolvePath(tablePath, a.path))
      val (len, mt) = a.size match {
        case Some(sz) => (sz, a.modTime)
        case None => // nonconforming writer: one status read, loud if gone
          val st = p.getFileSystem(hadoopConf).getFileStatus(p)
          (st.getLen, st.getModificationTime)
      }
      val values = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        partCols.map { pc =>
          val raw = a.partitionValues.get(physOf(pc))
            .orElse(a.partitionValues.get(pc))
          catalystPartitionValue(raw, schema(pc).dataType, zone)
        })
      // add.stats keys columns by their FILE (physical) names — exactly
      // the names dataSchema carries, so the pushed filters bind 1:1
      val bounds = a.stats.map(FileSkipping.fromDeltaStats(_, dataSchema))
        .getOrElse(Map.empty[String, FileSkipping.ColBounds])
      LiveFile(p, len, mt, values, bounds)
    }
    val index = new DeltaLogFileIndex(new Path(tablePath), partSchema, live)
    val base0 = org.apache.spark.sql.GraftPlanApi
      .fileRelationDataFrame(spark, index, partSchema, dataSchema)
    // fileKey / rowIndex (foreign DELETE support): the caller needs
    // each row tied back to its add (and, for MoR tombstones, its
    // PHYSICAL file position) — materialize them BEFORE any
    // join/projection cuts `_metadata` availability
    val base1 = fileKey.map(k =>
      base0.withColumn(k, normPathCol(col("_metadata.file_path"))))
      .getOrElse(base0)
    val base = rowIndex.map(k =>
      base1.withColumn(k, col("_metadata.row_index")))
      .getOrElse(base1)
    // merge-on-read: ALL deletion vectors decode to (file key, position)
    // pairs — O(deleted rows), broadcast — and subtract in ONE anti-join
    // over the single scan; DV'd-row volume is bounded by the writer's
    // OPTIMIZE cadence
    val dved = adds.filter(_.dv.nonEmpty)
    val afterDv =
      if (dved.isEmpty) base
      else {
        val pairs = dved.flatMap { a =>
          val key = normKey(new Path(resolvePath(tablePath, a.path)).toString)
          DeltaDv.positions(spark, tablePath, a.dv.get).toSeq.map(pos => (key, pos))
        }
        val posDf = spark.createDataset(pairs)(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong))
          .toDF("__graft_dv_fp", "__graft_dv_pos")
        base
          .withColumn("__graft_fp", normPathCol(col("_metadata.file_path")))
          .withColumn("__graft_ri", col("_metadata.row_index"))
          .join(broadcast(posDf),
            col("__graft_fp") === col("__graft_dv_fp") &&
              col("__graft_ri") === col("__graft_dv_pos"), "left_anti")
          .drop("__graft_fp", "__graft_ri")
      }
    // physical → logical, in schema order (identity when unmapped);
    // nested shapes cast back to the logical type — struct casts bind
    // by position, restoring the logical nested field names
    afterDv.select(schema.fields.toSeq.map { f =>
      val c = col(physOf(f.name))
      val casted =
        if (colMap.nonEmpty && physicalType(f.dataType) != f.dataType)
          c.cast(f.dataType)
        else c
      casted.as(f.name)
    } ++ fileKey.map(col) ++ rowIndex.map(col): _*)
  }

  /** ID MODE over NESTED complex columns (r13): the footer-grouping
    * path resolves top-level names only, so nested shapes ride the
    * ENGINE-NATIVE field-id match instead — the read schema carries
    * `parquet.field.id` metadata at every level
    * ([[withParquetFieldIds]]) and the scan runs under
    * `spark.sql.parquet.fieldId.read.enabled` — set on a session CLONE
    * the relation captures ([[GraftPlanApi.fieldIdReadSession]]), so
    * the caller's session keeps name-binding — which makes
    * Spark's own parquet reader bind every column — nested included —
    * by field id, names ignored. Read-schema names are the LOGICAL
    * names, so no rename/cast-back pass exists at all. The single-scan
    * FileIndex shape, DV anti-join, and log-borne partition values
    * mirror the name path; `add.stats` bounds key on physical names
    * and do not bind here, so metadata file skipping is inactive on
    * this path (pruning is an optimization, never a gate). A FILE
    * without ids fails at scan time — the engine's
    * ignoreMissingIds=false stance, same loudness contract as the
    * flat path. */
  private def scanAddsByFieldId(spark: SparkSession, tablePath: String,
      adds: Seq[AddFile], schema: StructType, partCols: Seq[String],
      colMap: Map[String, String],
      fileKey: Option[String] = None,
      rowIndex: Option[String] = None): DataFrame = {
    val idSpark = org.apache.spark.sql.GraftPlanApi.fieldIdReadSession(spark)
    def physOf(c: String) = colMap.getOrElse(c, c)
    val dataFields = schema.filterNot(f => partCols.contains(f.name))
    val dataSchema = withParquetFieldIds(tablePath,
      StructType(dataFields.toArray)).asInstanceOf[StructType]
    val partSchema = StructType(partCols.map(pc =>
      org.apache.spark.sql.types.StructField(
        physOf(pc), schema(pc).dataType, nullable = true)))
    val zone = spark.sessionState.conf.sessionLocalTimeZone
    val hadoopConf = spark.sessionState.newHadoopConf()
    val live = adds.map { a =>
      val p = new Path(resolvePath(tablePath, a.path))
      val (len, mt) = a.size match {
        case Some(sz) => (sz, a.modTime)
        case None =>
          val st = p.getFileSystem(hadoopConf).getFileStatus(p)
          (st.getLen, st.getModificationTime)
      }
      val values = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
        partCols.map { pc =>
          val raw = a.partitionValues.get(physOf(pc))
            .orElse(a.partitionValues.get(pc))
          catalystPartitionValue(raw, schema(pc).dataType, zone)
        })
      LiveFile(p, len, mt, values)
    }
    val index = new DeltaLogFileIndex(new Path(tablePath), partSchema, live)
    val base0 = org.apache.spark.sql.GraftPlanApi
      .fileRelationDataFrame(idSpark, index, partSchema, dataSchema)
    val base1 = fileKey.map(k =>
      base0.withColumn(k, normPathCol(col("_metadata.file_path"))))
      .getOrElse(base0)
    val base = rowIndex.map(k =>
      base1.withColumn(k, col("_metadata.row_index")))
      .getOrElse(base1)
    val dved = adds.filter(_.dv.nonEmpty)
    val afterDv =
      if (dved.isEmpty) base
      else {
        val pairs = dved.flatMap { a =>
          val key = normKey(new Path(resolvePath(tablePath, a.path)).toString)
          DeltaDv.positions(spark, tablePath, a.dv.get).toSeq.map(pos => (key, pos))
        }
        val posDf = idSpark.createDataset(pairs)(
          org.apache.spark.sql.Encoders.tuple(
            org.apache.spark.sql.Encoders.STRING,
            org.apache.spark.sql.Encoders.scalaLong))
          .toDF("__graft_dv_fp", "__graft_dv_pos")
        base
          .withColumn("__graft_fp", normPathCol(col("_metadata.file_path")))
          .withColumn("__graft_ri", col("_metadata.row_index"))
          .join(broadcast(posDf),
            col("__graft_fp") === col("__graft_dv_fp") &&
              col("__graft_ri") === col("__graft_dv_pos"), "left_anti")
          .drop("__graft_fp", "__graft_ri")
      }
    // data columns already serve logical names; partition columns alias
    // physical → logical
    afterDv.select(schema.fields.toSeq.map { f =>
      if (partCols.contains(f.name)) col(physOf(f.name)).as(f.name)
      else col(f.name)
    } ++ fileKey.map(col) ++ rowIndex.map(col): _*)
  }

  /** Scan one commit's change files: data columns plus the file-borne
    * `_change_type`, partition values injected, `_commit_version`
    * stamped — the CDF batch shape. Change files carry physical names
    * under a column mapping, like data files. */
  private[sources] def scanCdc(spark: SparkSession, tablePath: String,
      v: Long, files: Seq[CdcFile], schema: StructType,
      partCols: Seq[String], colMap: Map[String, String] = Map.empty,
      colIds: Map[String, Int] = Map.empty): DataFrame = {
    if (colIds.nonEmpty && hasComplex(StructType(schema
        .filterNot(f => partCols.contains(f.name))
        .filterNot(f => f.name == "_change_type" || f.name == "_commit_version")
        .toArray))) {
      // nested-id change files ride the engine-native field-id match
      // (the [[scanAddsByFieldId]] stance, including the session-clone
      // isolation); `_change_type` carries no id and binds by its
      // literal name — mixed matching per field is exactly the
      // engine's contract
      val idSpark = org.apache.spark.sql.GraftPlanApi.fieldIdReadSession(spark)
      def physOf(c: String) = colMap.getOrElse(c, c)
      val dataFields = schema.filterNot(f => partCols.contains(f.name))
        .filterNot(f => f.name == "_change_type" || f.name == "_commit_version")
      val withCt = StructType(withParquetFieldIds(tablePath,
        StructType(dataFields.toArray)).asInstanceOf[StructType].fields :+
        org.apache.spark.sql.types.StructField("_change_type", StringType))
      return files.groupBy(_.partitionValues).toSeq.map { case (pv, fs0) =>
        val base = idSpark.read.schema(withCt)
          .parquet(fs0.map(f => resolvePath(tablePath, f.path)): _*)
        val withParts = partCols.foldLeft(base) { (df, pc) =>
          val pvv = pv.get(physOf(pc)).orElse(pv.get(pc))
          df.withColumn(pc, lit(pvv.orNull).cast(schema(pc).dataType))
        }
        withParts.withColumn("_commit_version", lit(v).cast(LongType))
      }.reduce(_.unionByName(_))
    }
    if (colIds.nonEmpty) {
      // ID MODE: change files carry the same physical layout as data
      // files — data columns resolve by parquet field id from each
      // file's footer (batched/cached like the data path); the
      // file-borne `_change_type` has no table field id and reads by
      // its literal name. Groups serve through the name path below.
      val dataNames = schema.filterNot(f => partCols.contains(f.name))
        .filterNot(f => f.name == "_change_type" || f.name == "_commit_version")
        .map(_.name)
      val idMaps = fieldIdsOfFiles(spark,
        files.map(f => resolvePath(tablePath, f.path)))
      val groups = files.groupBy { f =>
        val byId = idMaps(resolvePath(tablePath, f.path))
        if (byId.isEmpty) throw new IllegalStateException(
          s"delta table at $tablePath is in columnMapping mode 'id' but " +
            s"change file ${f.path} carries no parquet field ids — the file " +
            "cannot be resolved; rewrite the table or fix the mode")
        dataNames.map(n =>
          n -> byId.getOrElse(colIds(n), s"__graft_absent_${colIds(n)}")).toMap
      }
      return groups.toSeq.map { case (m, fs) =>
        scanCdc(spark, tablePath, v, fs, schema, partCols, colMap ++ m)
      }.reduce(_.unionByName(_))
    }
    def physOf(c: String) = colMap.getOrElse(c, c)
    val dataFields = schema.filterNot(f => partCols.contains(f.name))
      .filterNot(_.name == "_change_type").filterNot(_.name == "_commit_version")
    val withCt = StructType(dataFields.map(f =>
      org.apache.spark.sql.types.StructField(physOf(f.name),
        if (colMap.isEmpty) f.dataType else physicalType(f.dataType),
        f.nullable)) :+
      org.apache.spark.sql.types.StructField("_change_type", StringType))
    files.groupBy(_.partitionValues).toSeq.map { case (pv, fs0) =>
      val raw = spark.read.schema(withCt)
        .parquet(fs0.map(f => resolvePath(tablePath, f.path)): _*)
      val base =
        if (colMap.isEmpty) raw
        else raw.select((dataFields.map { f =>
          val c = col(physOf(f.name))
          val casted =
            if (physicalType(f.dataType) != f.dataType) c.cast(f.dataType) else c
          casted.as(f.name)
        } :+ col("_change_type")).toSeq: _*)
      val withParts = partCols.foldLeft(base) { (df, pc) =>
        val pvv = pv.get(physOf(pc)).orElse(pv.get(pc))
        df.withColumn(pc, lit(pvv.orNull).cast(schema(pc).dataType))
      }
      withParts.withColumn("_commit_version", lit(v).cast(LongType))
    }.reduce(_.unionByName(_))
  }

  /** Adds served as CDF inserts (the pure-append commit shape). */
  private[sources] def scanAddsAsInserts(spark: SparkSession, tablePath: String,
      v: Long, adds: Seq[AddFile], schema: StructType,
      partCols: Seq[String], colMap: Map[String, String] = Map.empty,
      colIds: Map[String, Int] = Map.empty): DataFrame = {
    val dataSchema = StructType(
      schema.filterNot(_.name == "_change_type").filterNot(_.name == "_commit_version"))
    scanAdds(spark, tablePath, adds, dataSchema, partCols, colMap, colIds)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(v).cast(LongType))
  }

  /** BATCH change-data-feed face: every change in (sinceV, toV] as one
    * DataFrame — data columns + `_change_type` + `_commit_version`. */
  def changes(spark: SparkSession, tablePath: String,
      sinceV: Long, toV: Long): DataFrame = {
    val st = replay(spark, tablePath, Some(toV))
    requireReadable(tablePath, st)
    val schema = DataType.fromJson(st.schemaJson.getOrElse(
      throw new IllegalStateException(s"no metaData at $tablePath")))
      .asInstanceOf[StructType]
    val colMap = colMapOf(tablePath, st)
    val colIds = colIdsOf(tablePath, st)
    val frames = changesBetween(spark, tablePath, sinceV, toV).flatMap {
      case (v, Right(cdcFiles)) =>
        Some(scanCdc(spark, tablePath, v, cdcFiles, schema, st.partitionCols,
          colMap, colIds))
      case (v, Left(adds)) if adds.nonEmpty =>
        Some(scanAddsAsInserts(spark, tablePath, v, adds, schema,
          st.partitionCols, colMap, colIds))
      case _ => None
    }
    if (frames.isEmpty) {
      val full = StructType(schema
        :+ org.apache.spark.sql.types.StructField("_change_type", StringType)
        :+ org.apache.spark.sql.types.StructField("_commit_version", LongType))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
    } else frames.reduce(_.unionByName(_))
  }

  private def partValuesOf(a: JsonNode): Map[String, String] =
    Option(a.get("partitionValues")).map { p =>
      val it = p.fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        if (!e.getValue.isNull) b += e.getKey -> e.getValue.asText()
      }
      b.result()
    }.getOrElse(Map.empty[String, String])

  private def dvOf(node: JsonNode): Option[DeltaDv.Descriptor] =
    Option(node.get("deletionVector")).filterNot(_.isNull).map { d =>
      DeltaDv.Descriptor(
        d.get("storageType").asText(),
        d.get("pathOrInlineDv").asText(),
        Option(d.get("offset")).filterNot(_.isNull).map(_.asLong()),
        d.get("sizeInBytes").asInt(),
        d.get("cardinality").asLong())
    }

  private def applyAction(st: LogState, node: JsonNode): LogState = {
    if (node.has("add")) {
      val a = node.get("add")
      val path = decodePath(a.get("path").asText())
      val size = Option(a.get("size")).filterNot(_.isNull).map(_.asLong())
      val mt = Option(a.get("modificationTime")).filterNot(_.isNull)
        .map(_.asLong()).getOrElse(0L)
      val stats = Option(a.get("stats")).filterNot(_.isNull).map(_.asText())
      st.copy(adds = st.adds +
        (path -> AddFile(path, partValuesOf(a), dvOf(a), size, mt, stats)))
    } else if (node.has("remove")) {
      st.copy(adds = st.adds - decodePath(node.get("remove").get("path").asText()))
    } else if (node.has("metaData")) {
      val m = node.get("metaData")
      val parts = Option(m.get("partitionColumns"))
        .map(p => (0 until p.size()).map(p.get(_).asText())).getOrElse(Seq.empty)
      val conf = Option(m.get("configuration")).map { c =>
        val it = c.fields()
        val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val e = it.next()
          if (!e.getValue.isNull) b += e.getKey -> e.getValue.asText()
        }
        b.result()
      }.getOrElse(Map.empty[String, String])
      st.copy(schemaJson = Some(m.get("schemaString").asText()),
        partitionCols = parts, config = conf)
    } else if (node.has("protocol")) {
      val p = node.get("protocol")
      def feats(field: String) = Option(p.get(field))
        .map(f => (0 until f.size()).map(f.get(_).asText()).toSet)
        .getOrElse(Set.empty[String])
      st.copy(minReader = p.get("minReaderVersion").asInt(),
        readerFeatures = feats("readerFeatures"),
        minWriter = Option(p.get("minWriterVersion"))
          .filterNot(_.isNull).map(_.asInt()).getOrElse(1),
        writerFeatures = feats("writerFeatures"))
    } else st // commitInfo, txn, cdc, domainMetadata … are snapshot-irrelevant
  }

  private def lastCheckpoint(spark: SparkSession, logDir: String): Option[Long] = {
    val f = fs(spark, logDir)
    val p = new Path(logDir, "_last_checkpoint")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        out.toString("UTF-8")
      } finally in.close()
      Some(Json.mapper.readTree(body).get("version").asLong())
    }
  }

  /** Rebuild state from a checkpoint at `v` — three shapes of the
    * public protocol:
    *
    *   - classic single-part `<v>.checkpoint.parquet`;
    *   - classic multi-part `<v>.checkpoint.<i>.<n>.parquet` (read as
    *     one set);
    *   - V2 `<v>.checkpoint.<uniqueId>.parquet|json` (reader feature
    *     `v2Checkpoint`): the top-level file carries the non-file
    *     actions plus `checkpointMetadata` and `sidecar` actions; the
    *     file actions live in the named sidecar parquet files under
    *     `_delta_log/_sidecars/` (or in the top-level file itself when
    *     the writer emitted none).
    *
    * All three are net-of-removes per the protocol (a checkpoint lists
    * only live adds plus tombstones we can ignore for reads after
    * their own commit window). */
  private def fromCheckpoint(spark: SparkSession, logDir: String, v: Long): LogState = {
    val f = fs(spark, logDir)
    val names = f.listStatus(new Path(logDir)).toSeq.map(_.getPath.getName)
    val single = f"$v%020d.checkpoint.parquet"
    val prefix = f"$v%020d.checkpoint."
    def segs(n: String) = n.stripPrefix(prefix).split('.')
    if (names.contains(single))
      stateFromActionFrame(spark, logDir, Seq(s"$logDir/$single"))
    else {
      // multi-part names carry TWO numeric segments before .parquet;
      // v2 names carry ONE non-numeric uniqueId — disjoint by shape
      val multi = names.filter { n =>
        n.startsWith(prefix) && n.endsWith(".parquet") && {
          val s = segs(n)
          s.length == 3 && s(0).nonEmpty && s(0).forall(_.isDigit) &&
            s(1).nonEmpty && s(1).forall(_.isDigit)
        }
      }.sorted
      val v2 = names.filter { n =>
        n.startsWith(prefix) && {
          val s = segs(n)
          s.length == 2 && s(0).nonEmpty && !s(0).forall(_.isDigit) &&
            (s(1) == "parquet" || s(1) == "json")
        }
      }
      if (multi.nonEmpty)
        stateFromActionFrame(spark, logDir, multi.map(n => s"$logDir/$n"))
      else if (v2.nonEmpty) fromV2Checkpoint(spark, logDir, v2.max, v)
      else throw new java.io.FileNotFoundException(
        s"_last_checkpoint names v$v but no checkpoint parquet exists in $logDir")
    }
  }

  /** V2 checkpoint replay: parse the top-level file (parquet or json),
    * validate its `checkpointMetadata.version` against the named
    * version, then merge the file actions from its sidecars. */
  private def fromV2Checkpoint(spark: SparkSession, logDir: String,
      name: String, v: Long): LogState = {
    val (st, sidecars, ckptV) =
      if (name.endsWith(".json")) {
        var s = LogState(Map.empty, None, Seq.empty, 1)
        var paths = Vector.empty[String]
        var cv: Option[Long] = None
        textLines(spark, new Path(logDir, name)).foreach { line =>
          val node = Json.mapper.readTree(line)
          if (node.has("sidecar"))
            paths :+= node.get("sidecar").get("path").asText()
          else if (node.has("checkpointMetadata"))
            cv = Some(node.get("checkpointMetadata").get("version").asLong())
          else s = applyAction(s, node)
        }
        (s, paths.toSeq, cv)
      } else {
        val df = spark.read.parquet(s"$logDir/$name")
        val s = stateFromFrame(spark, df)
        val paths =
          if (!df.columns.contains("sidecar")) Seq.empty[String]
          else df.select("sidecar.path").na.drop().collect()
            .map(_.getString(0)).toSeq
        val cv =
          if (!df.columns.contains("checkpointMetadata")) None
          else df.select("checkpointMetadata.version").na.drop().collect()
            .headOption.map(_.getLong(0))
        (s, paths, cv)
      }
    ckptV.filter(_ != v).foreach { got =>
      throw new IllegalStateException(
        s"v2 checkpoint $name declares checkpointMetadata.version $got, " +
          s"expected $v — corrupt or misnamed checkpoint")
    }
    if (sidecars.isEmpty) st
    else {
      val resolved = sidecars.map { p =>
        val hp = new Path(p)
        if (hp.isAbsolute || hp.toUri.getScheme != null) hp.toString
        else s"$logDir/_sidecars/$p"
      }
      val sdf = spark.read.parquet(resolved: _*)
      // sidecars carry the file actions; removes are tombstones a
      // post-checkpoint read can ignore, adds merge over the (usually
      // empty) top-level add set
      st.copy(adds = st.adds ++ addsFromFrame(sdf))
    }
  }

  /** Classic checkpoint parse: the whole state from one action frame. */
  private def stateFromActionFrame(spark: SparkSession, logDir: String,
      parts: Seq[String]): LogState =
    stateFromFrame(spark, spark.read.parquet(parts: _*))

  /** protocol/metaData/add extraction from a checkpoint action frame
    * (absent columns = absent actions, tolerated per the protocol). */
  private def stateFromFrame(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame): LogState = {
    val cols = df.columns.toSet
    var st = LogState(Map.empty, None, Seq.empty, 1)
    if (cols.contains("protocol")) {
      val protoFields = df.schema("protocol").dataType
        .asInstanceOf[StructType].fieldNames.toSet
      def optCol(n: String) =
        if (protoFields.contains(n)) col(s"protocol.$n") else lit(null)
      val r = df.select(col("protocol.minReaderVersion"),
        optCol("readerFeatures"), optCol("minWriterVersion"),
        optCol("writerFeatures"))
        .na.drop(Seq("minReaderVersion")).collect()
      if (r.nonEmpty) st = st.copy(minReader = r.head.getInt(0),
        readerFeatures =
          if (!r.head.isNullAt(1)) r.head.getSeq[String](1).toSet
          else Set.empty,
        minWriter = if (!r.head.isNullAt(2)) r.head.getInt(2) else 1,
        writerFeatures =
          if (!r.head.isNullAt(3)) r.head.getSeq[String](3).toSet
          else Set.empty)
    }
    if (cols.contains("metaData")) {
      val hasConf = df.schema("metaData").dataType.asInstanceOf[StructType]
        .fieldNames.contains("configuration")
      val sel = if (hasConf)
        df.select("metaData.schemaString", "metaData.partitionColumns",
          "metaData.configuration")
      else df.select("metaData.schemaString", "metaData.partitionColumns")
      val r = sel.na.drop(Seq("schemaString")).collect()
      if (r.nonEmpty) st = st.copy(
        schemaJson = Some(r.head.getString(0)),
        partitionCols = Option(r.head.getSeq[String](1)).getOrElse(Seq.empty),
        config =
          if (hasConf && !r.head.isNullAt(2))
            r.head.getMap[String, String](2).toMap
          else Map.empty)
    }
    if (cols.contains("add")) st = st.copy(adds = addsFromFrame(df))
    st
  }

  /** `add` actions of a checkpoint/sidecar action frame as the live
    * map (path → AddFile, partition values and DV descriptor intact). */
  private def addsFromFrame(
      df: org.apache.spark.sql.DataFrame): Map[String, AddFile] = {
    if (!df.columns.contains("add")) return Map.empty
    val addType = df.schema("add").dataType.asInstanceOf[StructType]
    def optCol(n: String) =
      if (addType.fieldNames.contains(n)) col(s"add.$n") else lit(null)
    val sel = df.select(col("add.path"), col("add.partitionValues"),
      optCol("deletionVector"), optCol("size"), optCol("modificationTime"),
      optCol("stats").cast("string"))
    sel.na.drop(Seq("path")).collect().map { r =>
      val dv =
        if (!r.isNullAt(2)) {
          val d = r.getStruct(2)
          def idx(n: String) = d.schema.fieldIndex(n)
          Some(DeltaDv.Descriptor(
            d.getString(idx("storageType")),
            d.getString(idx("pathOrInlineDv")),
            if (d.isNullAt(idx("offset"))) None
            else Some(d.get(idx("offset")) match {
              case i: Int => i.toLong
              case l: Long => l
              case o => o.toString.toLong
            }),
            d.getInt(idx("sizeInBytes")),
            d.getLong(idx("cardinality"))))
        } else None
      val pv = Option(r.getMap[String, String](1)).map(_.toMap)
        .getOrElse(Map.empty[String, String])
      def asLong(i: Int): Long = r.get(i) match {
        case x: Int => x.toLong
        case x: Long => x
        case o => o.toString.toLong
      }
      val size = if (r.isNullAt(3)) None else Some(asLong(3))
      val mt = if (r.isNullAt(4)) 0L else asLong(4)
      val stats = if (r.isNullAt(5)) None else Some(r.getString(5))
      val path = decodePath(r.getString(0))
      path -> AddFile(path, pv, dv, size, mt, stats)
    }.toMap
  }
}
