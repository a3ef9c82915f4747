package graft.sources

import graft.Json
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** MAINTENANCE + INTROSPECTION for the published lakehouse tables —
  * the operational half every long-lived 100 TB table needs beside
  * reads and writes:
  *
  *   - [[DeltaMaintenance]]: `DESCRIBE HISTORY`-style commit
  *     introspection, explicit checkpointing, log-retention cleanup
  *     of pre-checkpoint commit JSONs, and a VACUUM that removes
  *     deletion-vector sidecars nothing visible references any more;
  *   - [[IcebergMaintenance]]: snapshot/file metadata tables and
  *     EXPIRE SNAPSHOTS — trim the snapshot list and physically
  *     delete the manifest lists, manifests, and delete files only
  *     the expired snapshots referenced.
  *
  * Both operate on METADATA ONLY — O(log)/O(manifest entries)
  * driver-side work, the same planning class as the readers; no data
  * bytes are scanned. The physical-delete sweeps are conservative by
  * construction: a file is removed only when NO visible metadata
  * references it, and the Iceberg sweep additionally refuses to touch
  * anything outside the table root (an exported table's data files
  * live in the source graft table and are never candidates).
  */
object DeltaMaintenance {


  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def readText(spark: SparkSession, p: Path): String = {
    val in = fs(spark, p.toString).open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      out.toString("UTF-8")
    } finally in.close()
  }

  private def commitVersions(spark: SparkSession, logDir: Path): Seq[Long] =
    fs(spark, logDir.toString).listStatus(logDir).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".json") && n.stripSuffix(".json").forall(_.isDigit))
      .map(_.stripSuffix(".json").toLong).sorted

  private def checkpointVersion(spark: SparkSession, logDir: Path): Option[Long] = {
    val lc = new Path(logDir, "_last_checkpoint")
    if (!fs(spark, logDir.toString).exists(lc)) None
    else Some(Json.mapper.readTree(readText(spark, lc)).get("version").asLong())
  }

  /** `DESCRIBE HISTORY` over a `_delta_log`: one row per commit JSON
    * still present (a cleaned log starts at its checkpoint — earlier
    * history is gone by design), with the action counts and the
    * writer-recorded operation. Bounded driver-side parse, served as a
    * DataFrame for joins/filters like any metadata table. */
  def history(spark: SparkSession, tablePath: String): DataFrame = {
    val logDir = new Path(s"$tablePath/_delta_log")
    if (!fs(spark, tablePath).exists(logDir))
      throw new IllegalArgumentException(s"no _delta_log at $tablePath")
    val rows = commitVersions(spark, logDir).map { v =>
      val lines = readText(spark, new Path(logDir, f"$v%020d.json"))
        .split('\n').toSeq.map(_.trim).filter(_.nonEmpty)
      var (adds, removes, cdc) = (0L, 0L, 0L)
      var dvAdds = 0L
      var op: String = null
      var schemaChange = false
      var protoChange = false
      lines.foreach { line =>
        val node = Json.mapper.readTree(line)
        if (node.has("add")) {
          adds += 1
          if (node.get("add").hasNonNull("deletionVector")) dvAdds += 1
        }
        if (node.has("remove")) removes += 1
        if (node.has("cdc")) cdc += 1
        if (node.has("metaData")) schemaChange = true
        if (node.has("protocol")) protoChange = true
        if (node.has("commitInfo")) {
          val ci = node.get("commitInfo")
          if (ci.hasNonNull("operation")) op = ci.get("operation").asText()
        }
      }
      Row(v, op, adds, removes, dvAdds, cdc, schemaChange, protoChange)
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("operation", StringType),
      StructField("n_adds", LongType, nullable = false),
      StructField("n_removes", LongType, nullable = false),
      StructField("n_dv_adds", LongType, nullable = false),
      StructField("n_cdc", LongType, nullable = false),
      StructField("schema_change", BooleanType, nullable = false),
      StructField("protocol_change", BooleanType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** Write a classic checkpoint at the log's LATEST version on demand
    * (the interval-driven one rides [[DeltaExport.append]]): replay
    * accelerates from it, and the pre-checkpoint commit JSONs become
    * [[cleanupLog]]-removable. Exported-log only (the graft watermark
    * must survive into the checkpoint's txn row). Returns the
    * checkpointed version. */
  def checkpoint(spark: SparkSession, tablePath: String): Long = {
    val logDir = new Path(s"$tablePath/_delta_log")
    val versions = commitVersions(spark, logDir)
    val v = (versions ++ checkpointVersion(spark, logDir)).maxOption.getOrElse(
      throw new IllegalArgumentException(s"no commits at $tablePath"))
    val graftV = DeltaExport.exportedSourceVersion(spark, tablePath)
    DeltaExport.writeCheckpoint(spark, tablePath, v, graftV)
    v
  }

  /** LOG-RETENTION CLEANUP (the `delta.logRetentionDuration` sweep,
    * explicit): delete every commit JSON at or before the last
    * checkpoint — replay reconstructs those states from the checkpoint
    * alone. Time travel to versions BEFORE the checkpoint stops
    * resolving, exactly the protocol's retention trade. Returns the
    * deleted versions (empty when no checkpoint exists — without one
    * the JSONs ARE the table). */
  def cleanupLog(spark: SparkSession, tablePath: String): Seq[Long] = {
    val logDir = new Path(s"$tablePath/_delta_log")
    val cp = checkpointVersion(spark, logDir).getOrElse(return Seq.empty)
    val f = fs(spark, tablePath)
    val victims = commitVersions(spark, logDir).filter(_ <= cp)
    victims.foreach(v => f.delete(new Path(logDir, f"$v%020d.json"), false))
    victims
  }

  /** VACUUM the deletion-vector sidecars (`deletion_vector_*.bin`)
    * that NO visible log file references any more — the garbage a
    * row-level append stream leaves behind, since each re-vector of a
    * file supersedes its previous sidecar. A sidecar is KEPT while any
    * still-present commit JSON or the checkpoint mentions it (so every
    * version the log can still replay keeps its vectors — run
    * [[checkpoint]] + [[cleanupLog]] first to retire old references).
    * Candidates are `deletion_vector_*.bin` files anywhere under the
    * table root (a 'u'-type descriptor with a directory prefix puts
    * its sidecar in a SUBDIRECTORY — the walk must reach it or those
    * sidecars accumulate forever); `_delta_log` is excluded and data
    * files are never touched. Reference keys are full normalized
    * paths, not bare names — two prefixed sidecars may collide on
    * name. Returns the removed (or, with `dryRun`, removable) file
    * names. */
  def vacuum(spark: SparkSession, tablePath: String,
      dryRun: Boolean = false): Seq[String] = {
    val logDir = new Path(s"$tablePath/_delta_log")
    val f = fs(spark, tablePath)
    if (!f.exists(logDir))
      throw new IllegalArgumentException(s"no _delta_log at $tablePath")
    def normKey(p: String): String = PathKeys.normKey(p)
    // every DV referenced by a visible action file: the checkpoint's
    // adds (via replay pinned at the checkpoint version) + every add
    // in every still-present commit JSON — liveness is irrelevant, a
    // replayable version's vectors must survive
    val referenced = collection.mutable.Set.empty[String]
    def note(d: DeltaDv.Descriptor): Unit =
      DeltaDv.filePathOf(tablePath, d).foreach(p => referenced += normKey(p.toString))
    checkpointVersion(spark, logDir).foreach { cp =>
      DeltaRead.replay(spark, tablePath, Some(cp)).adds.values
        .flatMap(_.dv).foreach(note)
    }
    commitVersions(spark, logDir).foreach { v =>
      readText(spark, new Path(logDir, f"$v%020d.json"))
        .split('\n').toSeq.map(_.trim).filter(_.nonEmpty).foreach { line =>
          val node = Json.mapper.readTree(line)
          if (node.has("add") && node.get("add").hasNonNull("deletionVector")) {
            val d = node.get("add").get("deletionVector")
            note(DeltaDv.Descriptor(
              d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
              Option(d.get("offset")).filterNot(_.isNull).map(_.asLong()),
              d.get("sizeInBytes").asInt(), d.get("cardinality").asLong()))
          }
        }
    }
    // recursive walk (the real VACUUM's listing shape) so prefixed
    // sidecars in subdirectories are candidates too; _delta_log is
    // metadata, never swept here
    val candidates = {
      val buf = collection.mutable.ArrayBuffer.empty[Path]
      val it = f.listFiles(new Path(tablePath), true)
      while (it.hasNext) {
        val s = it.next()
        val n = s.getPath.getName
        if (s.isFile && n.startsWith("deletion_vector_") && n.endsWith(".bin") &&
            !normKey(s.getPath.toString).contains("/_delta_log/"))
          buf += s.getPath
      }
      buf.toSeq
    }
    val victims = candidates.filterNot(p => referenced(normKey(p.toString)))
    if (!dryRun) victims.foreach(p => f.delete(p, false))
    victims.map(_.getName).sorted
  }
}

/** See [[DeltaMaintenance]]'s module doc — this is the Iceberg half. */
object IcebergMaintenance {


  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  private def normKey(p: String): String = PathKeys.normKey(p)

  /** The metadata's snapshot table: id, sequence number, timestamp,
    * summary operation, manifest-list path — `SELECT * FROM
    * tbl.snapshots` for the replayed table. */
  def snapshots(spark: SparkSession, tablePath: String): DataFrame = {
    val meta = IcebergRead.currentMetadata(spark, tablePath)
    val snaps = Option(meta.get("snapshots"))
      .map(arr => (0 until arr.size()).map(arr.get)).getOrElse(Seq.empty)
    val rows = snaps.map { s =>
      Row(s.get("snapshot-id").asLong(),
        Option(s.get("sequence-number")).map(_.asLong()).map(Long.box).orNull,
        Option(s.get("timestamp-ms")).map(_.asLong()).map(Long.box).orNull,
        Option(s.get("summary")).flatMap(x => Option(x.get("operation")))
          .map(_.asText()).orNull,
        s.get("manifest-list").asText())
    }
    val schema = StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("sequence_number", LongType),
      StructField("timestamp_ms", LongType),
      StructField("operation", StringType),
      StructField("manifest_list", StringType)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The current (or pinned) snapshot's file table — one row per live
    * manifest entry with its content kind, manifest-recorded row/byte
    * counts, and data sequence number: `SELECT * FROM tbl.files`. The
    * counts come from metadata alone (no footer reads), which is what
    * makes `SELECT sum(record_count)` a zero-data-scan audit of a
    * 100 TB table. */
  def files(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None): DataFrame = {
    val meta = IcebergRead.currentMetadata(spark, tablePath)
    val rows = IcebergRead.liveEntries(spark, tablePath, meta, snapshotId)
      .map { e =>
        Row(e.content, e.path,
          e.recordCount.map(Long.box).orNull,
          e.sizeInBytes.map(Long.box).orNull, e.seq)
      }
    val schema = StructType(Seq(
      StructField("content", IntegerType, nullable = false),
      StructField("file_path", StringType, nullable = false),
      StructField("record_count", LongType),
      StructField("file_size_in_bytes", LongType),
      StructField("sequence_number", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** The metadata's NAMED REFS as a table (r14): one row per
    * branch/tag with its target snapshot — `SELECT * FROM tbl.refs`.
    * Empty (not an error) for tables whose writers never recorded
    * refs. */
  def refs(spark: SparkSession, tablePath: String): DataFrame = {
    val meta = IcebergRead.currentMetadata(spark, tablePath)
    val rows = IcebergRead.refsOf(meta).toSeq.sortBy(_._1).map {
      case (name, (sid, tpe)) => Row(name, tpe, sid)
    }
    val schema = StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false)))
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.asJava, schema)
  }

  /** What one [[expireSnapshots]] run did (or would do, dry-run). */
  final case class ExpireResult(expiredSnapshotIds: Seq[Long],
      manifestListsRemoved: Seq[String], manifestsRemoved: Seq[String],
      orphanFilesRemoved: Seq[String])

  /** EXPIRE SNAPSHOTS, the Iceberg maintenance op: keep the LAST
    * `retainLast` snapshots (metadata order — the commit order), write
    * the next metadata version without the expired ones, and delete
    * the files only they referenced —
    *
    *   - their manifest-list Avro files;
    *   - manifests no retained snapshot's list references;
    *   - files those manifests reference that no retained manifest
    *     references AND that live under the table root (delete files:
    *     `pd-*.parquet` position deletes, `dv-*.puffin` vectors; an
    *     exported table's DATA files live in the source graft table,
    *     outside the root, and are never candidates — refcounts aside,
    *     the sweep refuses to reach outside the table).
    *
    * The current snapshot must be among the retained (loud otherwise).
    * Time travel to expired snapshots stops resolving, and a streaming
    * reader positioned before the horizon must resync — the standard
    * expiration trade. Refcounting reads every retained AND expired
    * manifest list + manifest: O(manifest entries) driver work, the
    * planning class maintenance already pays. */
  def expireSnapshots(spark: SparkSession, tablePath: String,
      retainLast: Int, dryRun: Boolean = false): ExpireResult = {
    require(retainLast >= 1, s"retainLast must be >= 1, got $retainLast")
    val meta = IcebergRead.currentMetadata(spark, tablePath)
    val snapsNode = Option(meta.get("snapshots")).getOrElse(
      throw new IllegalStateException(s"no snapshots at $tablePath"))
    val snaps = (0 until snapsNode.size()).map(snapsNode.get)
    if (snaps.size <= retainLast)
      return ExpireResult(Nil, Nil, Nil, Nil)
    val (expired, retained) = snaps.splitAt(snaps.size - retainLast)
    val currentId = Option(meta.get("current-snapshot-id")).map(_.asLong())
      .getOrElse(throw new IllegalStateException(
        s"no current-snapshot-id at $tablePath"))
    if (!retained.exists(_.get("snapshot-id").asLong() == currentId))
      throw new IllegalArgumentException(
        s"retainLast=$retainLast would expire the CURRENT snapshot " +
          s"$currentId of $tablePath; retain at least through it")
    val expiredIds = expired.map(_.get("snapshot-id").asLong())
    // a NAMED REF pins its target like the current snapshot does (r14):
    // expiring it would dangle the branch/tag — loud, never silent
    val expiredSet = expiredIds.toSet
    IcebergRead.refsOf(meta).foreach { case (name, (sid, _)) =>
      if (expiredSet(sid)) throw new IllegalArgumentException(
        s"retainLast=$retainLast would expire snapshot $sid, the target " +
          s"of ref '$name' at $tablePath; drop or retarget the ref first")
    }
    def listPath(s: com.fasterxml.jackson.databind.JsonNode): Path =
      IcebergRead.resolve(tablePath, s.get("manifest-list").asText())
    // each distinct list read ONCE; refcounts key on normalized paths.
    // A manifest (or even a whole list — rollback by re-publish) can be
    // shared between a retained and an expired snapshot: anything a
    // retained snapshot still reaches survives the sweep.
    val manifestCache = collection.mutable.Map.empty[String, Seq[Path]]
    def manifestsOf(list: Path): Seq[Path] =
      manifestCache.getOrElseUpdate(normKey(list.toString),
        IcebergRead.manifestsWithSeq(spark, tablePath, list).map(_._1))
    val keptLists = retained.map(s => normKey(listPath(s).toString)).toSet
    val keptManifests = retained.flatMap(s => manifestsOf(listPath(s)))
      .map(p => normKey(p.toString)).toSet
    val expiredManifests = expired.flatMap(s => manifestsOf(listPath(s)))
      .groupBy(p => normKey(p.toString)).values.map(_.head).toSeq
      .filterNot(p => keptManifests(normKey(p.toString)))
    // file refcount: a file referenced only by removed manifests — and
    // under the table root — is orphaned with them. normKey is the
    // REFCOUNT key only; deletion targets the original resolved Path
    // (a scheme-stripped string re-wrapped as a Path would point a
    // non-local filesystem's sweep at nonexistent local paths while
    // still reporting the files removed — r13 ADVICE)
    def filesOf(m: Path): Seq[Path] =
      IcebergRead.entriesOf(spark, m).map(e =>
        IcebergRead.resolve(tablePath, e.path))
    val keptFiles = retained.flatMap(s => manifestsOf(listPath(s)))
      .flatMap(filesOf).map(p => normKey(p.toString)).toSet
    val rootKey = normKey(new Path(tablePath).toString).stripSuffix("/") + "/"
    val orphanFiles = expiredManifests.flatMap(filesOf)
      .groupBy(p => normKey(p.toString)).values.map(_.head).toSeq
      .filterNot(p => keptFiles(normKey(p.toString)))
      .filter(p => normKey(p.toString).startsWith(rootKey))
    val listsRemoved = expired.map(listPath).distinct
      .filterNot(p => keptLists(normKey(p.toString)))
    val result = ExpireResult(expiredIds,
      listsRemoved.map(_.getName).sorted,
      expiredManifests.map(_.getName).sorted,
      orphanFiles.map(_.getName).sorted)
    if (dryRun) return result
    // publish the trimmed metadata FIRST (readers flip atomically via
    // the version hint), then sweep the now-unreferenced files
    val metaDir = s"$tablePath/metadata"
    val hintV = readHint(spark, metaDir)
    val root = meta.deepCopy[com.fasterxml.jackson.databind.JsonNode]()
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val newSnaps = root.putArray("snapshots")
    retained.foreach(s => newSnaps.add(s))
    Option(root.get("snapshot-log")).foreach { log =>
      val retainedIds = retained.map(_.get("snapshot-id").asLong()).toSet
      val newLog = root.putArray("snapshot-log")
      (0 until log.size()).map(log.get)
        .filter(e => retainedIds(e.get("snapshot-id").asLong()))
        .foreach(newLog.add)
    }
    // metadata writes go through NIO exactly like [[IcebergExport]]'s —
    // mixing writers would leave the Hadoop local FS's .crc sidecars
    // stale for whichever writer comes second. NIO is local-only, so a
    // non-local table declines BY NAME here (before any file is
    // touched) instead of writing to a bogus relative path
    val localMeta = {
      val uri = new Path(metaDir).toUri
      Option(uri.getScheme) match {
        case None => metaDir
        case Some("file") => uri.getPath
        case Some(other) => throw new UnsupportedOperationException(
          s"expireSnapshots publishes metadata through local NIO; a table " +
            s"on scheme '$other' is unsupported (dry-run still reports)")
      }
    }
    val newMeta = java.nio.file.Paths.get(localMeta, s"v${hintV + 1}.metadata.json")
    if (java.nio.file.Files.exists(newMeta)) throw new IllegalStateException(
      s"$newMeta already exists — concurrent metadata writer; retry")
    java.nio.file.Files.writeString(newMeta,
      Json.mapper.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(localMeta, "version-hint.text"),
      String.valueOf(hintV + 1))
    val f = fs(spark, tablePath)
    (listsRemoved ++ expiredManifests ++ orphanFiles)
      .foreach(p => f.delete(p, false))
    result
  }

  /** REMOVE ORPHAN FILES, the third leg of the maintenance triad
    * (expire = snapshot-scoped, metadata cleanup = version-scoped, this
    * = everything else): delete files under the table's `metadata/` and
    * `deletes/` directories that NO snapshot of the current metadata
    * references — crashed-writer leftovers, half-published staging, a
    * prior process's abandoned exports. The reference set is every
    * snapshot's manifest list, every manifest those lists name, every
    * file those manifests name, every `v*.metadata.json`, and the
    * version hint; the sweep never looks outside the two directories
    * (data files live in the source graft table). Same conservative
    * stance as the other sweeps: anything referenced from anywhere
    * visible survives. */
  def removeOrphanFiles(spark: SparkSession, tablePath: String,
      dryRun: Boolean = false): Seq[String] = {
    val meta = IcebergRead.currentMetadata(spark, tablePath)
    val snapsNode = Option(meta.get("snapshots"))
    val referenced = collection.mutable.Set.empty[String]
    snapsNode.foreach { arr =>
      (0 until arr.size()).map(arr.get).foreach { s =>
        val list = IcebergRead.resolve(tablePath, s.get("manifest-list").asText())
        referenced += normKey(list.toString)
        IcebergRead.manifestsWithSeq(spark, tablePath, list).foreach { case (m, _) =>
          referenced += normKey(m.toString)
          IcebergRead.entriesOf(spark, m).foreach(e =>
            referenced += normKey(IcebergRead.resolve(tablePath, e.path).toString))
        }
      }
    }
    val f = fs(spark, tablePath)
    def candidates(dir: String): Seq[Path] = {
      val p = new Path(s"$tablePath/$dir")
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.filter(_.isFile).map(_.getPath)
    }
    val protectedMeta: String => Boolean = n =>
      n == "version-hint.text" || n.matches("""v\d+\.metadata\.json""")
    val victims = (candidates("metadata").filterNot(p =>
      protectedMeta(p.getName)) ++ candidates("deletes"))
      .filterNot(p => referenced(normKey(p.toString)))
    if (!dryRun) victims.foreach(p => f.delete(p, false))
    victims.map(_.getName).sorted
  }

  /** METADATA-LOG RETENTION: keep the last `keepLast` metadata versions
    * (`v*.metadata.json` at or below the current hint, which is always
    * kept) and delete the older ones — the standard
    * `write.metadata.delete-after-commit` sweep real tables run so a
    * long-lived table's metadata directory doesn't grow one JSON per
    * commit forever. Time travel THROUGH OLD METADATA FILES stops
    * resolving; snapshots themselves are untouched (expiry is
    * [[expireSnapshots]]'s job). Returns the deleted file names. */
  def cleanupMetadata(spark: SparkSession, tablePath: String,
      keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val metaDir = s"$tablePath/metadata"
    val hintV = readHint(spark, metaDir)
    val f = fs(spark, tablePath)
    val versions = f.listStatus(new Path(metaDir)).toSeq
      .map(_.getPath.getName)
      .flatMap { n =>
        """^v(\d+)\.metadata\.json$""".r.findFirstMatchIn(n)
          .map(_.group(1).toInt)
      }.sorted
    val victims = versions.filter(v => v <= hintV - keepLast)
    victims.foreach(v =>
      f.delete(new Path(metaDir, s"v$v.metadata.json"), false))
    victims.map(v => s"v$v.metadata.json")
  }

  private def readHint(spark: SparkSession, metaDir: String): Int = {
    val p = new Path(metaDir, "version-hint.text")
    val f = fs(spark, metaDir)
    if (!f.exists(p)) throw new IllegalStateException(
      s"no version-hint.text under $metaDir; expireSnapshots follows " +
        "hint-published tables")
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      out.toString("UTF-8").trim.toInt
    } finally in.close()
  }
}
