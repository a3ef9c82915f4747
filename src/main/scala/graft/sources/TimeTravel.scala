package graft.sources

import scala.annotation.meta.field
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.annotation.JsonInclude
import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Versioned table with snapshot isolation, time travel and rollback —
  * the Delta/Iceberg commit protocol reduced to its load-bearing core:
  *
  *   - data files are IMMUTABLE: each commit writes its rows to a fresh
  *     `data/v<NNNNN>-<uuid>/` directory and never touches earlier ones;
  *   - a snapshot is a MANIFEST (`_versions/v<NNNNN>.json`) listing the
  *     data directories visible at that version — append = previous
  *     listing + the new directory, overwrite = just the new one,
  *     rollback = re-publish an old listing as a NEW version (history
  *     is never rewritten);
  *   - a manifest is published by atomic rename from a staging name, so
  *     readers either see a complete snapshot or the previous one —
  *     never a half-written table. Every writer goes through this one
  *     publish, [[VectorStore]] included;
  *   - readers resolve a version (or latest) to its listing and read
  *     exactly those directories, under the schema a data file's
  *     footer records (no schema-inference job) — old snapshots stay
  *     readable until explicitly vacuumed, which is what makes
  *     reproducible training runs possible ("train on the corpus
  *     exactly as of version 12");
  *   - a commit may opt its directory into FILE-SKIPPING stats: one
  *     JSON document, `stats/v<NNNNN>-<uuid>/stats.json`, written through
  *     [[graft.Json]] and staged-then-renamed before the manifest is
  *     published. It lists the range-tracked columns with their types,
  *     the bloom columns, and per non-empty data file its
  *     `input_file_name`, row count, min/max and bloom words. Row counts
  *     and min/max come from the new files' parquet footers, read on the
  *     driver, for byte/short/int/long, date and INT64-micros timestamp
  *     columns (a date or timestamp under Spark's LEGACY calendar
  *     rebase, an INT96 timestamp, or a row group without statistics
  *     takes a data pass instead, as do bloom columns). Columns of other
  *     types are not tracked. Planning a pruned read parses the
  *     documents on the driver: no Spark job.
  *
  * Scale posture: commit cost is O(new data) + one manifest rename —
  * append NEVER rewrites history (contrast the full-table overwrite a
  * naive pipeline does); a manifest is O(commits) strings; version
  * resolution is one small-file read on the driver, the same planning
  * cost as any table format's log replay.
  */
/** The losing writer's publish failure — two writers read the same
  * latest version and raced to the same manifest name; the loser must
  * re-read and retry ([[TimeTravel.withConflictRetry]]), never replace
  * the winner. A dedicated type so retry logic catches exactly the
  * race and nothing else. */
final class CommitConflictException(msg: String) extends java.io.IOException(msg)

object TimeTravel {

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** The dirs a table keeps under its path. */
  private val LayoutDirs = Set("_versions", "data", "dv", "stats")

  private def vname(v: Long) = f"v$v%05d"
  private def manifestDir(path: String) = new Path(s"$path/_versions")
  /** A fresh name for one commit attempt's data or DV dir of version
    * `v`: two writers racing for `v` never write into one dir, so the
    * loser's rows cannot land inside the winner's snapshot. */
  private def dataDir(v: Long) = s"data/${vname(v)}-${java.util.UUID.randomUUID}"
  private def dvDir(v: Long) = s"dv/${vname(v)}-${java.util.UUID.randomUUID}"

  /** DV tombstone key columns: (file URI, row position within file) —
    * `_metadata.row_index` is stable per physical parquet file, which
    * is exactly why table formats key deletion vectors on it. */
  private[sources] val DvCols = Seq("_dv_fp", "_dv_ri")

  private val DvSchema = StructType(Seq(
    StructField(DvCols.head, StringType), StructField(DvCols.last, LongType)))

  /** The tombstones of the DV dirs `dvs` (relative to `path`), read with
    * their fixed schema: no schema-inference job. */
  private[sources] def readDvs(spark: SparkSession, path: String,
      dvs: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(dvs.map(d => s"$path/$d"): _*)

  /** The (file, pos) columns of a file scan, named [[DvCols]]. */
  private def positions: Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    Seq(col("_metadata.file_path").as(DvCols.head),
      col("_metadata.row_index").as(DvCols.last))
  }

  /** The rows of `positioned` (a scan carrying [[DvCols]]) that no
    * tombstone of `dvs` names; the positions stay. The DV side is
    * O(deleted rows), so AQE broadcasts it when small. */
  private def minusDvs(spark: SparkSession, path: String, positioned: DataFrame,
      dvs: Seq[String]): DataFrame =
    if (dvs.isEmpty) positioned
    else positioned.join(readDvs(spark, path, dvs), DvCols, "left_anti")

  /** Merge-on-read: the rows of the plain file scan `data` that no
    * tombstone of `dvs` names. */
  private[sources] def applyDvs(spark: SparkSession, path: String, data: DataFrame,
      dvs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (dvs.isEmpty) data
    else minusDvs(spark, path, data.select(col("*") +: positions: _*), dvs)
      .drop(DvCols: _*)
  }

  /** Versions in commit order (empty for a fresh path). */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val f = fs(spark, path)
    if (!f.exists(manifestDir(path))) Seq.empty
    else f.listStatus(manifestDir(path)).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") && n.endsWith(".json") =>
        n.stripPrefix("v").stripSuffix(".json").toLong }
      .sorted
  }

  private def latest(spark: SparkSession, path: String): Option[Long] =
    versions(spark, path).lastOption

  /** `version`, else the latest one; `missing` names the failure when
    * the table has none. */
  private def resolve(spark: SparkSession, path: String, version: Option[Long] = None,
      missing: String = "no versions"): Long =
    version.orElse(latest(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"$missing at $path"))

  /** The newest version committed AT OR BEFORE `tsMillis` — the
    * `TIMESTAMP AS OF` resolution rule, read from the manifests' own
    * publish mtimes (each commit is one atomic manifest rename, so its
    * mtime IS the commit instant). Loud when the timestamp predates
    * the first commit: silently serving a later snapshot would lie
    * about history. Driver-side O(commits) stat calls. */
  def versionAsOf(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val f = fs(spark, path)
    val eligible = versions(spark, path).filter { v =>
      f.getFileStatus(new Path(manifestDir(path), s"${vname(v)}.json"))
        .getModificationTime <= tsMillis
    }
    eligible.lastOption.getOrElse(throw new IllegalArgumentException(
      s"no version at $path committed at or before epoch-millis $tsMillis"))
  }

  /** Commit tags already present in the manifest history (used for
    * idempotent streaming appends: a replayed micro-batch finds its own
    * tag and skips). */
  def tags(spark: SparkSession, path: String): Set[String] =
    versions(spark, path).flatMap(manifest(spark, path, _).tag).toSet

  /** The latest version's commit tag: one manifest read, where [[tags]]
    * reads them all. */
  private[graft] def latestTag(spark: SparkSession, path: String): Option[String] =
    latest(spark, path).flatMap(manifest(spark, path, _).tag)

  /** One logical column of a MAPPED table: `logical` is the name the
    * user sees NOW, `physical` the immutable name data files carry
    * (fixed at column creation — rename never rewrites a file), and
    * `typeDdl` the current declared type (old-era files cast up to it
    * on read — widening). The Delta column-mapping design reduced to
    * the manifest model. */
  final case class ColMap(logical: String, physical: String, typeDdl: String)

  /** One version's manifest, `_versions/v<NNNNN>.json`: the data
    * directories the snapshot sees, its deletion-vector directories
    * (merge-on-read tombstones layered over the immutable data), its
    * column mapping (empty for tables that never evolved past
    * add-column) and the commit tag. Encoded and parsed by
    * [[graft.Json]]; an absent tag and empty lists stay out of the
    * file. */
  private[sources] final case class Manifest(version: Long,
      @(JsonInclude @field)(JsonInclude.Include.NON_ABSENT) tag: Option[String],
      @(JsonInclude @field)(JsonInclude.Include.NON_EMPTY) dvs: Seq[String],
      @(JsonInclude @field)(JsonInclude.Include.NON_EMPTY) cols: Seq[ColMap],
      dirs: Seq[String])

  /** Parse `version`'s manifest — one read per lookup. A manifest that
    * doesn't parse, or lists no data directory, must FAIL the read,
    * not silently resolve to an empty table (every commit lists ≥1
    * directory). */
  private[sources] def manifest(spark: SparkSession, path: String, version: Long): Manifest = {
    val name = s"${vname(version)}.json"
    def corrupt(why: String, cause: Throwable = null) =
      new java.io.IOException(s"corrupt manifest $name: $why", cause)
    val in = fs(spark, path).open(new Path(manifestDir(path), name))
    val root = try Json.mapper.readTree(in) catch {
      case e: JsonProcessingException => throw corrupt(e.getOriginalMessage, e)
    } finally in.close()
    def list(field: String): Seq[JsonNode] = root.path(field).elements().asScala.toSeq
    def text(n: JsonNode, field: String): Option[String] =
      Some(n.path(field)).filter(_.isTextual).map(_.asText)
    def colText(c: JsonNode, field: String): String =
      text(c, field).getOrElse(throw corrupt(s"cols entry without $field: $c"))
    val dirs = list("dirs").map(_.asText)
    if (dirs.isEmpty) throw corrupt(s"no dirs listing in: ${root.toString.take(200)}")
    Manifest(root.path("version").asLong(version), text(root, "tag"),
      list("dvs").map(_.asText),
      list("cols").map(c =>
        ColMap(colText(c, "logical"), colText(c, "physical"), colText(c, "typeDdl"))),
      dirs)
  }

  /** The data directories visible at `version`. */
  private[sources] def listing(spark: SparkSession, path: String, version: Long): Seq[String] =
    manifest(spark, path, version).dirs

  /** Deletion-vector directories visible at `version` (empty = none). */
  private[sources] def dvListing(spark: SparkSession, path: String, version: Long): Seq[String] =
    manifest(spark, path, version).dvs

  // ------------------------------------------ column mapping (schema v2)

  /** The column mapping visible at `version` — None for tables that
    * never evolved past add-column (the fast single-scan paths stay
    * untouched for them). */
  private[sources] def colsListing(spark: SparkSession, path: String,
      version: Long): Option[Seq[ColMap]] =
    Some(manifest(spark, path, version).cols).filter(_.nonEmpty)

  /** Project a LOGICAL-schema DataFrame into physical file shape for a
    * write under `cols` (rename-era appends keep writing the immutable
    * physical names; widened columns write the widened type — new
    * files are born wide, old ones cast on read). */
  private def toPhysical(df: DataFrame, cols: Seq[ColMap]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val have = df.columns.toSet
    val missing = cols.map(_.logical).filterNot(have)
    require(missing.isEmpty,
      s"write is missing mapped column(s): ${missing.mkString(", ")}")
    val extra = have.diff(cols.map(_.logical).toSet)
    require(extra.isEmpty,
      s"write carries column(s) outside the table's mapped schema: ${extra.mkString(", ")}")
    df.select(cols.map(c => col(c.logical).cast(c.typeDdl).as(c.physical)): _*)
  }

  /** Per-directory mapped scan (physical → logical, cast to declared
    * type, absent physical columns null) with optional (file, pos)
    * metadata columns — the read substrate every mapped-table path
    * shares. `groups` holds one directory's paths (the dir itself, or
    * some of its files) per group. One plan branch per directory: a
    * widened table's dirs legitimately disagree on parquet types, which
    * a single mixed scan cannot host; directory count is bounded by
    * commits and folds back to 1 at the next OPTIMIZE. */
  private def mappedScan(spark: SparkSession, groups: Seq[Seq[String]],
      cols: Seq[ColMap], withPos: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val frames = groups.map { g =>
      val raw = spark.read.schema(footerSchema(spark, g)).parquet(g: _*)
      val have = raw.columns.toSet
      val projected = cols.map { c =>
        (if (have(c.physical)) col(c.physical).cast(c.typeDdl)
         else lit(null).cast(c.typeDdl)).as(c.logical)
      } ++ (if (withPos) positions else Seq.empty)
      raw.select(projected: _*)
    }
    frames.reduce(_.unionByName(_))
  }

  /** Materialize the identity mapping from the CURRENT logical schema —
    * the first rename/drop/widen turns an unmapped table into a mapped
    * one (physical = logical for every existing column). */
  private def currentOrIdentityCols(spark: SparkSession, path: String,
      v: Long): Seq[ColMap] =
    colsListing(spark, path, v).getOrElse(
      read(spark, path, Some(v)).schema.fields.toSeq.map(f =>
        ColMap(f.name, f.name, f.dataType.catalogString)))

  private def publishColsChange(spark: SparkSession, path: String,
      next: Seq[ColMap]): Long = {
    val cur = resolve(spark, path)
    val v = cur + 1
    require(next.map(_.logical).distinct.size == next.size,
      "column mapping must keep logical names unique")
    val m = manifest(spark, path, cur)
    publish(spark, path, v, m.dirs, dvs = m.dvs, cols = next)
    v
  }

  /** RENAME COLUMN as a metadata-only commit: the logical name changes,
    * every data file (old and new era) keeps its immutable physical
    * name and resolves through the map. Time travel reads each version
    * with ITS OWN mapping — pre-rename snapshots still serve the old
    * name. */
  def renameColumn(spark: SparkSession, path: String, from: String, to: String): Long = {
    val cur = resolve(spark, path)
    val cols = currentOrIdentityCols(spark, path, cur)
    require(cols.exists(_.logical == from), s"no column $from to rename")
    require(!cols.exists(_.logical == to), s"column $to already exists")
    publishColsChange(spark, path,
      cols.map(c => if (c.logical == from) c.copy(logical = to) else c))
  }

  /** DROP COLUMN as a metadata-only commit: the entry leaves the map,
    * the bytes stay in the immutable files (still served to pre-drop
    * snapshots) until OPTIMIZE rewrites and VACUUM reclaims. */
  def dropColumn(spark: SparkSession, path: String, name: String): Long = {
    val cur = resolve(spark, path)
    val cols = currentOrIdentityCols(spark, path, cur)
    require(cols.exists(_.logical == name), s"no column $name to drop")
    require(cols.size > 1, "cannot drop the last column")
    publishColsChange(spark, path, cols.filterNot(_.logical == name))
  }

  /** Widening types the read-side cast is lossless for — the Delta
    * type-widening allow-list shape. */
  private val Widenings: Set[(String, String)] = Set(
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"), ("int", "double"), ("bigint", "double"),
    ("float", "double"))

  /** WIDEN a column's declared type as a metadata-only commit: old
    * files keep their narrow parquet type and cast up on read; new
    * appends write the wide type. Only lossless widenings are allowed
    * — anything else must be an explicit rewrite. */
  def widenColumn(spark: SparkSession, path: String, name: String,
      toDdl: String): Long = {
    val cur = resolve(spark, path)
    val cols = currentOrIdentityCols(spark, path, cur)
    val c = cols.find(_.logical == name).getOrElse(
      throw new IllegalArgumentException(s"no column $name to widen"))
    require(Widenings.contains((c.typeDdl, toDdl)),
      s"widening ${c.typeDdl} -> $toDdl is not lossless; " +
        s"supported: ${Widenings.map { case (a, b) => s"$a->$b" }.mkString(", ")}")
    publishColsChange(spark, path,
      cols.map(x => if (x.logical == name) x.copy(typeDdl = toDdl) else x))
  }

  /** Publish `dirs` as version `v` via write-then-atomic-rename.
    * Visible to the test package so the concurrent-publish conflict
    * (a race the public API can't interleave) is testable directly. */
  private[graft] def publish(spark: SparkSession, path: String, v: Long, dirs: Seq[String],
      tag: Option[String] = None, dvs: Seq[String] = Seq.empty,
      cols: Seq[ColMap] = Seq.empty): Unit = {
    val f = fs(spark, path)
    f.mkdirs(manifestDir(path))
    val body = Json.mapper.writeValueAsBytes(Manifest(v, tag, dvs, cols, dirs))
    val staging = new Path(manifestDir(path), s".${vname(v)}.json.staging")
    val out = f.create(staging, true)
    try out.write(body) finally out.close()
    val target = new Path(manifestDir(path), s"${vname(v)}.json")
    // OPTIMISTIC CONCURRENCY: two writers that both read "latest = N"
    // will both try to publish N+1 — the loser must FAIL (and retry on
    // a fresh read), never silently replace the winner's commit. Local
    // rename() replaces existing targets, so check-then-rename here;
    // a real deployment backs this with an atomic create-if-absent
    // (HDFS create w/o overwrite, S3 conditional put, a lock service).
    if (f.exists(target))
      throw new CommitConflictException(
        s"concurrent commit conflict: ${vname(v)} already published — " +
          "re-read latest and retry")
    if (!f.rename(staging, target))
      throw new java.io.IOException(s"manifest publish failed for ${vname(v)}")
  }

  // --------------------------------------------- multi-writer semantics

  /** What a committed version DID relative to its predecessor — the
    * classification the conflict matrix keys on:
    *   - `Append`: directories only added (or unchanged — a pure
    *     watermark commit), deletion vectors and column mapping
    *     untouched; conflicts with nothing.
    *   - `RowLevel`: directories only added but DVs changed (delete/
    *     update/replaceWhere); the row set shrank or mutated.
    *   - `SchemaChange`: data and DVs untouched but the column MAPPING
    *     changed (rename/drop/widen DDL, or a rollback across one) —
    *     the rows are intact but their logical shape moved.
    *   - `Rewrite`: directories DROPPED (overwrite/merge/rollback/
    *     optimize/purge); the snapshot was replaced wholesale. */
  sealed trait CommitKind
  case object Append extends CommitKind
  case object RowLevel extends CommitKind
  case object SchemaChange extends CommitKind
  case object Rewrite extends CommitKind

  /** Classify version `v` against `v - 1` (the first version of a
    * table is an Append: it conflicts with nothing that could have
    * read an earlier state). Driver-side manifest reads only. A commit
    * that both rewrote data and changed the mapping (OPTIMIZE folding
    * a mapped era) classifies as the stronger Rewrite. */
  def classifyCommit(spark: SparkSession, path: String, v: Long): CommitKind = {
    val vs = versions(spark, path)
    val prev = vs.takeWhile(_ < v).lastOption
    prev match {
      case None => Append
      case Some(p) =>
        val before = manifest(spark, path, p)
        val after = manifest(spark, path, v)
        if (before.dirs.exists(!after.dirs.contains(_))) Rewrite
        else if (after.dvs != before.dvs) RowLevel
        else if (after.cols != before.cols) SchemaChange
        else Append
    }
  }

  /** Bounded OPTIMISTIC-CONCURRENCY retry around a commit operation —
    * the Delta conflict matrix reduced to the manifest model. `op`
    * must be a self-contained commit attempt that re-reads the LATEST
    * snapshot each time it runs (every library op does); on a
    * [[CommitConflictException]] the loser re-runs `op` against the
    * fresh snapshot, which is exactly serializing it AFTER the winner:
    *
    *   - append attempts (`rowLevel = false`) retry unconditionally —
    *     an append reads nothing, so nothing the winner did can
    *     invalidate it;
    *   - row-level attempts (delete/update/merge-by-predicate,
    *     `rowLevel = true`) retry only when every intervening commit
    *     was an Append, RowLevel, or SchemaChange — re-evaluating the
    *     predicate over more/less rows is the serialized semantics,
    *     and across a concurrent DDL commit the retried attempt
    *     resolves against the NEW schema: a rename/drop of a column
    *     outside the predicate is invisible to it, while a predicate
    *     whose own column was dropped or renamed fails LOUDLY at
    *     resolution (there is no silent path to the wrong rows).
    *     An intervening REWRITE replaced the snapshot the caller's
    *     intent targeted; re-applying a predicate to a wholesale-
    *     replaced table is a semantic decision, so it fails LOUDLY
    *     (Delta's ConcurrentWriteException for the same reason).
    *
    * `maxRetries` bounds livelock under sustained contention; the
    * final failure chains the conflict for the caller's own backoff. */
  def withConflictRetry(spark: SparkSession, path: String,
      rowLevel: Boolean, maxRetries: Int = 3)(op: => Long): Long = {
    var attempt = 0
    while (true) {
      val base = latest(spark, path).getOrElse(0L)
      try return op
      catch {
        case e: CommitConflictException =>
          attempt += 1
          if (attempt > maxRetries) throw new java.io.IOException(
            s"commit to $path still conflicting after $maxRetries retries", e)
          val now = latest(spark, path).getOrElse(0L)
          if (rowLevel) {
            val rewrites = ((base + 1) to now)
              .filter(v => classifyCommit(spark, path, v) == Rewrite)
            if (rewrites.nonEmpty) throw new IllegalStateException(
              s"concurrent rewrite commit(s) v${rewrites.mkString(",v")} at $path " +
                "replaced the snapshot this row-level operation targeted; " +
                "re-read the table and decide whether the predicate still applies", e)
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Append with bounded auto-retry — the multi-writer face of
    * [[commitAppend]]: concurrent appends all land, each as its own
    * version, in rename-race order. */
  def commitAppendRetrying(df: DataFrame, path: String,
      tag: Option[String] = None, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil, maxRetries: Int = 3): Long =
    withConflictRetry(df.sparkSession, path, rowLevel = false, maxRetries) {
      commitAppend(df, path, tag, statsCols, bloomCols)
    }

  /** Merge-on-read DELETE with bounded auto-retry: the retried attempt
    * recomputes its tombstones against the fresh snapshot (serialized
    * after the winner); an intervening rewrite fails loudly. */
  def deleteMoRRetrying(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column, maxRetries: Int = 3): Long =
    withConflictRetry(spark, path, rowLevel = true, maxRetries) {
      deleteMoR(spark, path, condition)
    }

  /** Write the data directory `dir` (a [[dataDir]] name), and its stats
    * sidecar when `statsCols` or `bloomCols` ask for one; returns `dir`.
    * A LOGICAL-shape `df` of a mapped table writes the physical names,
    * and the sidecar keys on them too: a caller's logical columns
    * translate through the era's map (the probe side translates back
    * — [[planProbes]]), so skipping keeps working across renames. */
  private def writeWithStats(df: DataFrame, path: String, dir: String,
      mapping: Option[Seq[ColMap]], statsCols: Seq[String],
      bloomCols: Seq[String]): String = {
    val written = mapping.map(toPhysical(df, _)).getOrElse(df)
    written.write.parquet(s"$path/$dir")
    def phys(c: String): String =
      mapping.flatMap(_.find(_.logical == c)).map(_.physical).getOrElse(c)
    if (statsCols.nonEmpty || bloomCols.nonEmpty)
      writeStatsFor(df.sparkSession, path, dir, written.schema,
        statsCols.map(phys), bloomCols.map(phys))
    dir
  }

  /** Append commit: new rows become visible alongside every directory
    * the previous version saw. Returns the new version number.
    * `statsCols` opts the new directory into per-file min/max/count
    * sidecars ([[readPruned]] file skipping), `bloomCols` into per-file
    * Bloom filters — read from the new files' parquet footers on the
    * driver (the commit's only Spark job stays its data write; bloom
    * columns, and columns some footer cannot bound, cost one more pass
    * over the new files), published BEFORE the manifest so a snapshot
    * never sees a half-built sidecar. */
  def commitAppend(df: DataFrame, path: String, tag: Option[String] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val cur = latest(spark, path)
    val v = cur.getOrElse(0L) + 1
    val prev = cur.map(manifest(spark, path, _))
    // existing tombstones carry forward: they key on (file, pos) of the
    // immutable old directories, which an append never touches.
    // A mapped table's appends arrive in LOGICAL shape and write the
    // immutable physical names; the mapping itself carries forward
    val mapping = prev.map(_.cols).filter(_.nonEmpty)
    val dir = writeWithStats(df, path, dataDir(v), mapping, statsCols, bloomCols)
    publish(spark, path, v, prev.map(_.dirs).getOrElse(Seq.empty) :+ dir, tag,
      prev.map(_.dvs).getOrElse(Seq.empty), mapping.getOrElse(Seq.empty))
    v
  }

  /** Idempotent tagged append — the EXACTLY-ONCE streaming sink face:
    * if `tag`'s commit already exists (an at-least-once foreachBatch
    * replay, or a retry after a crash-after-publish), the call is a
    * no-op returning the live version; otherwise it appends with the
    * tag. Tag uniqueness is the caller's batch identity (e.g.
    * "ingest:<batchId>"). */
  def appendOnce(df: DataFrame, path: String, tag: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    if (tags(spark, path).contains(tag)) latest(spark, path).get
    else commitAppend(df, path, Some(tag), statsCols, bloomCols)
  }

  /** Overwrite commit: the new version sees ONLY the new rows; earlier
    * snapshots keep their files and remain readable. `statsCols` as on
    * [[commitAppend]]; `tag` is recorded in the manifest ([[tags]]). */
  def commitOverwrite(df: DataFrame, path: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      tag: Option[String] = None): Long =
    stageOverwrite(df, path, statsCols, bloomCols, tag).publish()

  /** A commit whose data is written and whose manifest is not: nothing
    * is visible until [[publish]], which publishes `version` (failing
    * with [[CommitConflictException]] if another writer took it first),
    * runs the steps chained with [[andThen]] and returns `version`.
    * Until then its dirs are unpublished ones, which no reader lists and
    * [[vacuum]] reclaims. */
  private[graft] final class Staged private[TimeTravel] (version: Long,
      publishOp: () => Unit) {
    def publish(): Long = { publishOp(); version }

    /** This commit, with `after` run once it has published. */
    def andThen(after: => Unit): Staged = new Staged(version, () => { publishOp(); after })
  }

  /** The write half of [[commitOverwrite]]: version N+1's data dir and
    * its stats sidecar, staged against the latest version N; the
    * returned commit publishes it. */
  private[graft] def stageOverwrite(df: DataFrame, path: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      tag: Option[String] = None): Staged = {
    val spark = df.sparkSession
    val cur = latest(spark, path)
    val v = cur.getOrElse(0L) + 1
    val mapping = cur.flatMap(colsListing(spark, path, _))
    val dir = writeWithStats(df, path, dataDir(v), mapping, statsCols, bloomCols)
    new Staged(v, () => publish(spark, path, v, Seq(dir), tag, cols = mapping.getOrElse(Seq.empty)))
  }

  // ------------------------------------------------- unversioned layout

  /** The rows of a table still in the UNVERSIONED layout — parquet at
    * `path`, flat or in hive `k=v` dirs, with no published version —
    * read as plain parquet (hive discovery recovers the `k=v` columns);
    * None for a TimeTravel table or an absent path. The vector store
    * and the CDC ledger were kept that way before they became
    * TimeTravel tables: they read through [[readLatest]], and their
    * first write adopts the old rows ([[overwriteAdopting]]). */
  private[graft] def unversioned(spark: SparkSession, path: String): Option[DataFrame] =
    Some(unversionedEntries(spark, path)).filter(_.nonEmpty).map(old =>
      spark.read.option("basePath", path).parquet(old.map(_.toString): _*))

  /** The visible entries of an unversioned `path`, TimeTravel's own
    * dirs aside (a first commit that never published leaves some). */
  private def unversionedEntries(spark: SparkSession, path: String): Seq[Path] = {
    val f = fs(spark, path)
    if (!f.exists(new Path(path)) || versions(spark, path).nonEmpty) Nil
    else f.listStatus(new Path(path)).toSeq.map(_.getPath)
      .filterNot(p => p.getName.matches("[_.].*") || LayoutDirs(p.getName))
  }

  /** The latest snapshot; an unversioned table reads as plain parquet. */
  private[graft] def readLatest(spark: SparkSession, path: String): DataFrame =
    unversioned(spark, path).getOrElse(read(spark, path))

  /** [[commitOverwrite]], then delete the unversioned entries the new
    * version replaces — only once it is published, so `df` may read
    * them and a failed write leaves them readable. An unversioned
    * table's first write adopts it this way. */
  private[graft] def overwriteAdopting(df: DataFrame, path: String,
      statsCols: Seq[String] = Nil): Long =
    stageAdopting(df, path, statsCols).publish()

  /** The write half of [[overwriteAdopting]]: [[stageOverwrite]], with
    * the unversioned entries deleted once the commit publishes. */
  private[graft] def stageAdopting(df: DataFrame, path: String,
      statsCols: Seq[String] = Nil): Staged = {
    val spark = df.sparkSession
    val old = unversionedEntries(spark, path)
    stageOverwrite(df, path, statsCols).andThen(old.foreach(fs(spark, path).delete(_, true)))
  }

  /** Build a FRESH table's first N commits in one parallel staging
    * pass. The same outcome as `commitOverwrite(batches.head)` followed
    * by `commitAppend(batches(i))` in order — one data directory per
    * batch, same stats sidecars, same cumulative manifest listings —
    * but the N data writes overlap as concurrent jobs
    * ([[ParallelJobs]]), and the N manifests publish afterwards in
    * order (driver-side microseconds each). The versions are
    * pre-assigned 1..N, which is sound solely on an empty table — hence
    * the fresh-table guard (a concurrent writer would race the
    * pre-assigned manifests, so this is a bulk-build tool, not a
    * multi-writer commit path; those stay on [[commitAppendRetrying]]).
    */
  def commitSeries(batches: Seq[DataFrame], path: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Seq[Long] = {
    require(batches.nonEmpty, "commitSeries needs at least one batch")
    val spark = batches.head.sparkSession
    require(latest(spark, path).isEmpty,
      s"commitSeries pre-assigns versions 1..N and requires a fresh table at $path")
    val vs = (1L to batches.size.toLong).toSeq
    val dirs = ParallelJobs.awaitAll(vs.zip(batches).map { case (v, b) =>
      () => writeWithStats(b, path, dataDir(v), None, statsCols, bloomCols)
    })
    vs.foreach(v => publish(spark, path, v, dirs.take(v.toInt)))
    vs
  }

  /** Roll back by PUBLISHING `toVersion`'s listing as a new version —
    * an undo that is itself in the history, never a history rewrite.
    * The target's column MAPPING restores with its listing: rolling
    * back across a rename/drop/widen undoes the schema change too. */
  def rollback(spark: SparkSession, path: String, toVersion: Long): Long = {
    val v = latest(spark, path).getOrElse(0L) + 1
    val m = manifest(spark, path, toVersion)
    publish(spark, path, v, m.dirs, dvs = m.dvs, cols = m.cols)
    v
  }

  /** Read a snapshot: `version` = None for latest. `mergeSchema` unions
    * the listed directories' schemas (SCHEMA EVOLUTION across commits:
    * a widened append coexists with narrow history — old files surface
    * the added columns as null, old snapshots keep reading with their
    * own original schema). */
  def read(spark: SparkSession, path: String, version: Option[Long] = None,
      mergeSchema: Boolean = false): DataFrame = {
    val v = resolve(spark, path, version)
    val m = manifest(spark, path, v)
    // merge-on-read: the tombstoned (file, pos) pairs are subtracted —
    // the read-amplification a MoR table pays until OPTIMIZE folds the
    // DVs back into data files
    if (m.dvs.isEmpty) scan(spark, path, m, withPos = false, mergeSchema)
    else minusDvs(spark, path, scan(spark, path, m, withPos = true, mergeSchema), m.dvs)
      .drop(DvCols: _*)
  }

  /** The LOGICAL scan of a snapshot's data dirs, optionally with each
    * row's (file, pos) position: column-mapped snapshots project
    * physical→logical per directory (each version resolves through ITS
    * OWN map — time travel across a rename serves each era's names),
    * plain ones keep one mixed scan. `mergeSchema` unions the plain
    * dirs' schemas. */
  private def scan(spark: SparkSession, path: String, m: Manifest,
      withPos: Boolean, mergeSchema: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (m.cols.nonEmpty) mappedScan(spark, m.dirs.map(d => Seq(s"$path/$d")), m.cols, withPos)
    else {
      val dirs = m.dirs.map(d => s"$path/$d")
      val data =
        if (mergeSchema) spark.read.option("mergeSchema", "true").parquet(dirs: _*)
        else spark.read.schema(footerSchema(spark, dirs)).parquet(dirs: _*)
      if (withPos) data.select(col("*") +: positions: _*) else data
    }
  }

  /** The footer key Spark writes its schema of the file's rows under. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The schema Spark's parquet inference without `mergeSchema` gives a
    * read of `paths` (dirs or files), taken on the driver from the one
    * footer that inference reads: that of the first data file in path
    * order. No Spark job runs. Every data file of a table is written by
    * Spark, which records its schema in the footer; a file without that
    * record fails the read, naming the file, rather than have its schema
    * guessed from the parquet types. */
  private[graft] def footerSchema(spark: SparkSession, paths: Seq[String]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val first = paths.sorted.iterator.flatMap { p =>
      val at = new Path(p)
      val f = at.getFileSystem(conf)
      if (f.getFileStatus(at).isDirectory) dataFiles(f, at).headOption else Some(at)
    }.nextOption().getOrElse(throw new java.io.IOException(
      s"no data file to take a schema from in ${paths.mkString(", ")}"))
    val json = Option(FooterStats.footer(conf, first).getFileMetaData
      .getKeyValueMetaData.get(SparkSchemaKey)).getOrElse(throw new java.io.IOException(
        s"$first carries no Spark schema ($SparkSchemaKey) in its footer"))
    DataType.fromJson(json) match {
      case s: StructType => s
      case other => throw new java.io.IOException(
        s"$first records a ${other.typeName}, not a row schema, under $SparkSchemaKey")
    }
  }

  /** Loud decline for faces that plan a single mixed physical scan and
    * so cannot host a column mapping (file skipping, the DSv2/SQL
    * relation): silently scanning physical names would serve wrong or
    * stale columns — the same reason Delta gates column mapping behind
    * reader-version features. The exporters decline the same way, each
    * with its own `advice`. */
  private[sources] def requireUnmapped(spark: SparkSession, path: String,
      v: Long, what: String, advice: String = "read via TimeTravel.read"): Unit =
    if (colsListing(spark, path, v).nonEmpty)
      throw new UnsupportedOperationException(
        s"$what does not support column-mapped tables (rename/drop/widen " +
          s"history at $path); $advice")

  /** Loud resolution gate for row-level predicates/assignments: every
    * column an expression NAMES must exist in the snapshot's LOGICAL
    * schema. Spark's add-missing-references resolution would otherwise
    * reach through the logical projection into the files' physical
    * columns — a predicate on a just-dropped/renamed column must fail
    * loudly (the DDL half of the conflict matrix), never silently bind
    * to stale bytes. */
  private def requireRefsResolvable(spark: SparkSession, path: String, v: Long,
      what: String, exprs: Seq[org.apache.spark.sql.Column]): Unit = {
    // analyze each expression against a FRESH zero-row frame carrying
    // only the logical schema: a fresh lineage has no physical columns
    // for the analyzer to quietly add back, so a stale name fails here
    // and nowhere binds to the files' bytes
    val schema = read(spark, path, Some(v)).schema
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    exprs.foreach { c =>
      try { probe.select(c).queryExecution.analyzed; () }
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"$what does not resolve against the current schema of $path " +
              s"(${schema.fieldNames.mkString(", ")}) — a concurrent DDL may " +
              "have renamed or dropped a column it references; re-read the " +
              s"table and restate the operation (${e.getMessage})", e)
      }
    }
  }

  /** What one row-level commit changes: the live rows it tombstones
    * (carrying their [[DvCols]] positions), the rows of its one new data
    * directory (LOGICAL shape), and the data directories it drops
    * whole. With `replaceDvs` its tombstones REPLACE the snapshot's
    * deletion vectors instead of adding to them ([[fold]]). */
  private[sources] final case class RowChange(tombstones: Option[DataFrame],
      data: Option[DataFrame] = None, dropDirs: Seq[String] = Nil,
      replaceDvs: Boolean = false)

  /** The scaffold every row-level commit shares ([[deleteMoR]],
    * [[updateMoR]], [[replaceWhere]], [[commitKeyed]] and the vector
    * store's retention): resolve the latest manifest; hand `change` that
    * manifest and the live rows of any of its data directories, each
    * row with its (file, pos) position and the prior tombstones
    * subtracted; write the tombstones and the new rows it returns as
    * concurrent jobs into this attempt's own unpublished `dv/` and
    * `data/` directories (the new data carries `statsCols` sidecars);
    * then publish both, minus the dropped directories, in ONE manifest
    * rename — a reader sees the whole change or none of it, and the
    * previous snapshot stays time-travelable. `change` returning None
    * commits nothing and returns the current version.
    *
    * A crash before the publish leaves only unpublished directories,
    * which no reader lists and [[vacuum]] reclaims. A concurrent writer
    * that publishes that version first makes this one fail with
    * [[CommitConflictException]]; its dirs stay unpublished. */
  private[sources] def rowLevelCommit(spark: SparkSession, path: String, what: String,
      statsCols: Seq[String] = Nil, tag: Option[String] = None)(
      change: (Manifest, Seq[String] => DataFrame) => Option[RowChange]): Long = {
    val cur = resolve(spark, path, missing = s"nothing to $what")
    val m = manifest(spark, path, cur)
    val v = cur + 1
    val live = (dirs: Seq[String]) =>
      minusDvs(spark, path, scan(spark, path, m.copy(dirs = dirs), withPos = true), m.dvs)
    change(m, live) match {
      case None => cur
      case Some(c) =>
        val mapping = Some(m.cols).filter(_.nonEmpty)
        val dvs = c.tombstones.map(dvDir(v) -> _)
        val data = c.data.map(dataDir(v) -> _)
        val writes: Seq[() => Unit] =
          dvs.toSeq.map { case (dir, t) => () =>
            t.select(DvCols.head, DvCols.tail: _*).write.parquet(s"$path/$dir")
          } ++
          data.toSeq.map { case (dir, d) => () => {
            writeWithStats(d, path, dir, mapping, statsCols, Nil); ()
          } }
        if (writes.nonEmpty) ParallelJobs.awaitAll(writes)
        publish(spark, path, v, m.dirs.filterNot(c.dropDirs.toSet) ++ data.map(_._1), tag,
          (if (c.replaceDvs) Nil else m.dvs) ++ dvs.map(_._1), m.cols)
        v
    }
  }

  /** Merge-on-read DELETE: tombstone the live rows matching `condition`
    * by (file, row-position) in a NEW deletion-vector directory — the
    * data files are never rewritten. Cost is one scan emitting only the
    * matched positions (O(matches) output); the pre-delete snapshot
    * stays time-travelable, and [[optimize]] later folds the DVs into a
    * compacted rewrite. Rows already tombstoned are skipped, so deletes
    * compose without double-counting. This is the cheap-delete half of
    * the copy-on-write/merge-on-read trade: [[merge]]/[[purge]] rewrite
    * (CoW), deleteMoR defers the rewrite to maintenance time. */
  def deleteMoR(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column): Long =
    rowLevelCommit(spark, path, "delete") { (m, live) =>
      requireRefsResolvable(spark, path, m.version, "DELETE predicate", Seq(condition))
      Some(RowChange(Some(live(m.dirs).filter(condition))))
    }

  /** Merge-on-read UPDATE: tombstone the live rows matching `condition`
    * and append their updated copies — `sets` maps column name → new
    * value expression (unmentioned columns carry over; values are cast
    * back to the column's declared type so the table schema never
    * drifts). Both publish in one commit ([[rowLevelCommit]]). Returns
    * the new version (the current one when nothing matched — a no-op
    * update does not commit).
    *
    * Scale: cost is one scan + O(matched) tombstones + O(matched) new
    * rows — the 100 TB story for the typical low-selectivity UPDATE;
    * the unmatched bulk of the table is never rewritten ([[optimize]]
    * later folds the DVs, same as [[deleteMoR]]). */
  def updateMoR(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column,
      sets: Seq[(String, org.apache.spark.sql.Column)]): Long =
    rowLevelCommit(spark, path, "update") { (m, live) =>
      import org.apache.spark.sql.functions.col
      requireRefsResolvable(spark, path, m.version, "UPDATE predicate/assignment",
        condition +: sets.map(_._2))
      val rows = live(m.dirs)
      val origCols = rows.columns.filterNot(DvCols.contains).toSeq
      val setMap = sets.toMap
      val unknown = setMap.keySet.diff(origCols.toSet)
      require(unknown.isEmpty, s"UPDATE sets unknown column(s): ${unknown.mkString(", ")}")
      // checkpoint pins the matched set: tombstones and updated copies
      // must come from the SAME row set even under a flaky predicate
      val hit = rows.filter(condition).localCheckpoint()
      if (hit.isEmpty) None
      else Some(RowChange(Some(hit), Some(hit.select(origCols.map { c =>
        setMap.get(c).map(_.cast(rows.schema(c).dataType).as(c)).getOrElse(col(c))
      }: _*))))
    }

  /** Partition-scoped overwrite — the Delta `replaceWhere` shape:
    * delete(condition) + append(df) in ONE commit. Live rows matching
    * `condition` are tombstoned merge-on-read style and the replacement
    * rows land in a fresh data directory; both publish in a single
    * manifest rename, so a reader sees either the whole replacement or
    * none of it. Untouched files are untouched BYTES — the scoped form
    * never rewrites data outside the predicate, which is the whole
    * point at 100 TB (a full `INSERT OVERWRITE` of a date-partitioned
    * table to refresh one day rewrites nothing but that day here).
    *
    * Loud-or-exact: every replacement row must itself satisfy
    * `condition` (Delta's replaceWhere constraint) — otherwise the
    * statement would smuggle rows into partitions it promised not to
    * touch, so rows outside the predicate fail the commit up front. */
  def replaceWhere(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column, df: DataFrame): Long =
    rowLevelCommit(spark, path, "replace") { (m, live) =>
      requireRefsResolvable(spark, path, m.version, "replaceWhere predicate", Seq(condition))
      val offenders = df.filter(!condition).limit(1).count()
      if (offenders > 0) throw new IllegalArgumentException(
        "replaceWhere: replacement rows must satisfy the replace condition " +
          "(a row outside the predicate would escape the declared scope)")
      Some(RowChange(Some(live(m.dirs).filter(condition)), Some(df)))
    }

  /** Keyed row-level commit — the vector store's upsert and delete:
    * tombstone every live row whose value in a key frame's column
    * appears in that frame (`keys` are one-column frames, each named
    * after the table column it matches), and add `data` — cast to the
    * table's declared columns — as one new data directory with
    * `statsCols` sidecars, both in one manifest rename. The key frames
    * are the build side of one filter over one scan, so a few changed
    * keys broadcast and the commit costs O(changed rows), never a
    * rewrite of the rows it keeps. `tag` is recorded in the manifest
    * ([[latestTag]]). */
  private[graft] def commitKeyed(spark: SparkSession, path: String, keys: Seq[DataFrame],
      data: Option[DataFrame] = None, statsCols: Seq[String] = Nil,
      tag: Option[String] = None): Long =
    rowLevelCommit(spark, path, "change", statsCols, tag) { (m, live) =>
      import org.apache.spark.sql.functions.{col, lit}
      val rows = live(m.dirs)
      val hit = keys.map(k => col(k.columns.head).isin(k)).foldLeft(lit(false))(_ || _)
      Some(RowChange(Some(rows.filter(hit)), data.map(d =>
        d.select(rows.schema.fields.toSeq.filterNot(f => DvCols.contains(f.name))
          .map(f => col(f.name).cast(f.dataType).as(f.name)): _*))))
    }

  /** DESCRIBE HISTORY face: one row per committed version — its tag (if
    * any), how many data directories the snapshot sees, how many of
    * those the previous version's manifest did not list (0 ⇒
    * metadata-only, a pure delete, or a rollback to a listing the
    * previous version still held), and its deletion-vector count.
    * Driver-side O(commits) manifest reads, no data touched — the audit
    * surface an operator reads before rolling back or vacuuming. */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val ms = versions(spark, path).map(manifest(spark, path, _))
    val rows = ms.zip(Seq.empty[String] +: ms.map(_.dirs)).map { case (m, prev) =>
      (m.version, m.tag, m.dirs.size, m.dirs.count(d => !prev.contains(d)), m.dvs.size)
    }
    rows.toDF("version", "tag", "n_dirs", "n_added", "n_dvs")
  }

  /** Incremental consumption of an APPEND-ONLY table: the rows committed
    * after `sinceVersion`, read from exactly the data directories the
    * newer manifests added — O(new data), no key join, no rescan of
    * history (the cheap fast path [[changeFeed]] generalizes; a
    * downstream index/aggregate consumes this per poll). If any commit
    * since `sinceVersion` was NOT a pure append (an overwrite, merge,
    * rollback or purge dropped a directory the old snapshot saw), the
    * directory diff is not the row delta — fail loudly so the consumer
    * resyncs via [[changeFeed]] instead of silently double-counting.
    * `toVersion` pins the snapshot the diff targets (default latest) —
    * a consumer that resolved "latest" BEFORE calling must pass it, or
    * a commit landing in between silently widens the delta past the
    * version mark the consumer records. */
  def readAppendsSince(spark: SparkSession, path: String, sinceVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val cur = resolve(spark, path, toVersion)
    val added = appendedDirsSince(spark, path, sinceVersion, cur)
    val dirs = added.map(d => s"$path/$d")
    if (added.isEmpty) spark.emptyDataFrame
    else spark.read.schema(footerSchema(spark, dirs)).parquet(dirs: _*)
  }

  /** The directory diff behind [[readAppendsSince]] with its loud
    * append-only checks — shared with the streaming source face
    * ([[TimeTravelSource]]), whose micro-batches are exactly these
    * diffs between consecutive offsets. */
  private[sources] def appendedDirsSince(spark: SparkSession, path: String,
      sinceVersion: Long, toVersion: Long): Seq[String] = {
    val old = listing(spark, path, sinceVersion)
    val now = listing(spark, path, toVersion)
    val dropped = old.filterNot(now.toSet)
    if (dropped.nonEmpty) throw new IllegalStateException(
      s"table at $path diverged from append-only history since v$sinceVersion " +
        s"(dirs dropped: ${dropped.mkString(", ")}); resync with changeFeed")
    // a MoR delete keeps every dir but still changes the row set — the
    // added-dirs diff would silently miss the deletions
    if (dvListing(spark, path, toVersion) != dvListing(spark, path, sinceVersion))
      throw new IllegalStateException(
        s"deletion vectors changed since v$sinceVersion; resync with changeFeed")
    now.filterNot(old.toSet)
  }

  /** CHANGE DATA FEED: the row-level delta between two snapshots, keyed
    * on `key` (unique per snapshot) — every key classified as
    * `insert` / `delete` / `update_preimage`+`update_postimage` by one
    * co-partitioned FULL OUTER join with an md5 row-hash comparison;
    * unchanged rows are dropped in the same pass. This is the Delta CDF
    * read face recovered from plain snapshots: downstream consumers
    * (feature stores, index maintainers, [[InvertedIndex.append]]-style
    * incrementals) apply the feed instead of rescanning the table.
    *
    * Scale: both sides are table-sized, so the join shuffles on the key
    * and never broadcasts; output is O(changed rows). Column set is the
    * `to` snapshot's (schema evolution: a column added between the
    * versions surfaces as null on the preimage side). */
  def changeFeed(spark: SparkSession, path: String, key: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val after = read(spark, path, Some(toVersion))
    // align the preimage side to the `to` schema so the pre/post structs
    // unify (a column added between the versions reads as null here)
    val before0 = read(spark, path, Some(fromVersion))
    val bcols = before0.columns.toSet
    val before = before0.select(after.columns.toSeq.map(c =>
      if (bcols(c)) col(c)
      else lit(null).cast(after.schema(c).dataType).as(c)): _*)
    def pack(df: DataFrame) = {
      val cols = df.columns.sorted
        .map(c => coalesce(col(c).cast("string"), lit("\u0000null")))
      df.select(col(key).as("_k"),
        md5(concat_ws("\u0001", cols: _*)).as("_rh"),
        struct(df.columns.map(col).toSeq: _*).as("_row"))
    }
    val b = pack(before).withColumnsRenamed(Map("_rh" -> "_rh_b", "_row" -> "_row_b"))
    val a = pack(after).withColumnsRenamed(Map("_rh" -> "_rh_a", "_row" -> "_row_a"))
    b.join(a, Seq("_k"), "full_outer")
      .withColumn("_ct",
        when(col("_rh_b").isNull, "insert")
          .when(col("_rh_a").isNull, "delete")
          .when(col("_rh_b") =!= col("_rh_a"), "update"))
      .filter(col("_ct").isNotNull)
      .select(explode(
        when(col("_ct") === "insert",
          array(struct(col("_row_a").as("r"), lit("insert").as("t"))))
        .when(col("_ct") === "delete",
          array(struct(col("_row_b").as("r"), lit("delete").as("t"))))
        .otherwise(array(
          struct(col("_row_b").as("r"), lit("update_preimage").as("t")),
          struct(col("_row_a").as("r"), lit("update_postimage").as("t"))))).as("e"))
      .select(col("e.r.*"), col("e.t").as("_change_type"))
  }

  /** Compact the LIVE snapshot's accumulated directories into one
    * freshly-written directory published as a new version (the OPTIMIZE
    * half of the maintenance pair — [[vacuum]] then reclaims the old
    * dirs once no kept version references them). Row set is identical
    * by construction; `targetFiles` bounds the rewrite's output files.
    * History stays readable: this is a commit like any other. A table
    * already compact — one data dir of at most `targetFiles` files, and
    * no deletion vectors to fold in — is left as it is. */
  def optimize(spark: SparkSession, path: String, targetFiles: Int = 1,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil): Long = {
    val v = resolve(spark, path, missing = "nothing to optimize")
    val m = manifest(spark, path, v)
    val f = fs(spark, path)
    if (m.dvs.isEmpty && m.dirs.size <= 1 && m.dirs.forall(d =>
        dataFiles(f, new Path(s"$path/$d")).size <= targetFiles.max(1))) v
    else commitOverwrite(read(spark, path, Some(v)).coalesce(targetFiles.max(1)),
      path, statsCols, bloomCols)
  }

  /** Fold part of the live snapshot: the rows of the data dirs `dirs`,
    * every tombstone applied, become one new dir of `targetFiles` files,
    * and the tombstones that name rows of the other dirs move into one
    * new deletion-vector dir. The snapshot then lists the other dirs, the
    * new one and at most one DV dir; the row set is unchanged. Unlike
    * [[optimize]], the dirs left out are neither read nor rewritten, so
    * the commit costs the bytes of `dirs` plus the tombstones. */
  private[graft] def fold(spark: SparkSession, path: String, dirs: Seq[String],
      targetFiles: Int, statsCols: Seq[String]): Long =
    rowLevelCommit(spark, path, "fold", statsCols) { (m, live) =>
      import org.apache.spark.sql.functions.{col, regexp_extract}
      val others = m.dirs.filterNot(dirs.toSet)
      // a tombstone names its file's URI: <path>/data/<dir>/<file>
      val carried = Some(m.dvs).filter(_.nonEmpty && others.nonEmpty).map(dvs =>
        readDvs(spark, path, dvs).filter(
          regexp_extract(col(DvCols.head), "/(data/[^/]+)/[^/]+$", 1).isin(others: _*)))
      val folded = Some(dirs).filter(_.nonEmpty)
        .map(live(_).drop(DvCols: _*).coalesce(targetFiles.max(1)))
      Some(RowChange(carried, folded, dirs, replaceDvs = true))
    }

  /** OPTIMIZE ZORDER BY — the layout-maintenance command that composes
    * [[optimize]] with [[graft.operators.LayoutOps.zValue]]: the live
    * snapshot is rewritten range-partitioned-and-sorted by the Morton
    * interleave of two (non-negative long) columns and committed as a
    * new version, so subsequent min/max file skipping prunes on BOTH
    * dimensions (the measured 2-D effect in `q_zorder_skip`). Pending
    * deletion vectors fold in via the DV-applying read, same as
    * [[optimize]]. Rows identical by construction; history stays
    * readable; `targetFiles` bounds the rewrite like any compaction. */
  def optimizeZorder(spark: SparkSession, path: String, colA: String, colB: String,
      targetFiles: Int = 8, withStats: Boolean = false): Long = {
    import org.apache.spark.sql.functions.col
    val v = resolve(spark, path, missing = "nothing to optimize")
    val z = graft.operators.LayoutOps.zValue(col(colA), col(colB))
    val clustered = read(spark, path, Some(v))
      .repartitionByRange(targetFiles.max(1), z)
      .sortWithinPartitions(z)
    // withStats: the Z-layout makes BOTH dimensions' per-file ranges
    // tight, so sidecars on (colA, colB) turn [[graft.plans.StatsPrune]]
    // into 2-D file skipping over plain WHERE clauses
    commitOverwrite(clustered, path,
      statsCols = if (withStats) Seq(colA, colB) else Nil)
  }

  /** Expectation counts from a gated commit ([[commitAppendExpect]]). */
  final case class ExpectationReport(version: Long, admitted: Long,
      quarantined: Map[String, Long])

  /** Constraint-gated append (the Delta-Live-Tables "expectations"
    * shape): every named expectation is a boolean Column; rows
    * failing ANY of them are diverted to `quarantinePath` (their own
    * versioned table, tagged with the violated names) instead of the
    * main table, and the per-expectation violation counts come back in
    * the report — data quality enforced AT THE WRITE BOUNDARY, with
    * the rejects preserved for triage rather than dropped.
    *
    * One pass computes all verdicts (the expectations ride as columns);
    * the split is two narrow filters — no shuffle beyond the commits'
    * own writes. */
  def commitAppendExpect(df: DataFrame, path: String, quarantinePath: String,
      expectations: Map[String, org.apache.spark.sql.Column]): ExpectationReport = {
    require(expectations.nonEmpty)
    import org.apache.spark.sql.functions._
    val names = expectations.keys.toSeq.sorted
    val flagged = df.withColumn("_violated",
      filter(array(names.map(n => when(!coalesce(expectations(n), lit(false)), n)): _*),
        x => x.isNotNull)).localCheckpoint()
    val good = flagged.filter(size(col("_violated")) === 0).drop("_violated")
    val bad = flagged.filter(size(col("_violated")) > 0)
      .withColumn("_violated", concat_ws(",", col("_violated")))
    val v = commitAppend(good, path)
    if (bad.isEmpty) ()
    else { commitAppend(bad, quarantinePath): Unit }
    val counts = flagged.select(explode(col("_violated")).as("n"))
      .groupBy("n").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ExpectationReport(v, good.count(), counts)
  }

  /** MERGE INTO semantics as one commit — the SQL MERGE triple over the
    * live snapshot, keyed on `key`:
    *   - matched + `deleteWhen`  → target row removed;
    *   - matched (otherwise)     → target row REPLACED by the source row;
    *   - not matched             → source row inserted
    * (a `deleteWhen`-flagged source row with no match inserts nothing).
    * Runs as pure relational algebra — one left-anti join keeps the
    * untouched target rows, the filtered source supplies the rest — and
    * publishes as a normal commit, so the pre-merge snapshot stays
    * time-travelable.
    *
    * A source column named `_delete` is merge METADATA (the usual CDC
    * feed shape: rows carry their own op flag): it can drive
    * `deleteWhen` and is dropped before the union, so the committed
    * schema is the table's.
    *
    * Scale note: this face rewrites the LIVE listing (the semantic
    * form); a keyed change that must not rewrite the rows it keeps is
    * [[commitKeyed]], which [[VectorStore.upsert]] uses. */
  def merge(spark: SparkSession, path: String, source: DataFrame, key: String,
      deleteWhen: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(false)): Long = {
    val target = read(spark, path)
    val kept = target.join(source.select(key), Seq(key), "left_anti")
    val applied = source.filter(!deleteWhen).drop("_delete")
    commitOverwrite(kept.unionByName(applied).localCheckpoint(), path)
  }

  /** Right-to-be-forgotten purge: rewrite the live snapshot WITHOUT the
    * rows matching `condition`, then drop every older data directory —
    * after this, NO version (current or time-traveled) can produce the
    * purged rows. This is the documented compliance trade-off: history
    * for the whole table is truncated at the purge point, because
    * retaining any pre-purge snapshot would retain the data the purge
    * exists to destroy. Returns the new version. */
  def purge(spark: SparkSession, path: String,
      condition: org.apache.spark.sql.Column): Long = {
    val kept = read(spark, path).filter(!condition)
    // localCheckpoint pins the surviving rows before their source dirs
    // are deleted out from under the lazy plan
    val v = commitOverwrite(kept.localCheckpoint(), path)
    vacuum(spark, path, keepVersions = 1)
    // older manifests now reference deleted dirs; drop them so a
    // time-travel read fails loudly instead of half-resolving
    val f = fs(spark, path)
    versions(spark, path).dropRight(1).foreach { old =>
      f.delete(new Path(manifestDir(path), s"${vname(old)}.json"), false)
    }
    v
  }

  /** Drop data directories no LIVE version references (keeping the last
    * `keepVersions` manifests' files) — O(dropped dirs) deletes, rows
    * never read. A stats sidecar lives exactly as long as its data
    * directory. The dirs of a commit still in flight — made for a
    * version past the latest — are spared: that writer can still win
    * its publish. */
  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1): Seq[String] =
    deleteDirs(spark, path, vacuumVictims(spark, path,
      versions(spark, path).takeRight(keepVersions.max(1))))

  /** [[vacuum]] for a table that other writers commit to: it drops only
    * the dirs made for a version older than the oldest one it keeps. A
    * writer still writing for a kept version has lost its race and fails
    * with [[CommitConflictException]] at its publish, not on a dir
    * deleted under its write, so a retrying writer
    * ([[withConflictRetry]]) retries. Its dirs go once their version
    * leaves the kept window. */
  private[graft] def vacuumShared(spark: SparkSession, path: String,
      keepVersions: Int): Seq[String] = {
    val kept = versions(spark, path).takeRight(keepVersions.max(1))
    deleteDirs(spark, path, vacuumVictims(spark, path, kept, kept.headOption))
  }

  private def deleteDirs(spark: SparkSession, path: String, victims: Seq[String]): Seq[String] = {
    victims.foreach(d => fs(spark, path).delete(new Path(s"$path/$d"), true))
    if (victims.nonEmpty)
      manifestCache.keySet.removeIf(k => k._1 == path)
    victims
  }

  /** The directories [[vacuum]] WOULD drop if `keptVersions` were the
    * retained manifests — read-only (the dry-run face the SQL
    * `CALL graft.vacuum(…, dry_run => true)` procedure serves). A dir
    * made for version `spareFrom` or later is spared; by default that
    * is every version past the latest. */
  private[sources] def vacuumVictims(spark: SparkSession, path: String,
      keptVersions: Seq[Long], spareFrom: Option[Long] = None): Seq[String] = {
    val f = fs(spark, path)
    val from = spareFrom.getOrElse(latest(spark, path).getOrElse(0L) + 1)
    val live = keptVersions.flatMap(listing(spark, path, _)).toSet ++
      keptVersions.flatMap(dvListing(spark, path, _))
    val liveAll = live ++ live.collect {
      case d if d.startsWith("data/") => statsDirOf(d)
    }
    Seq("data", "dv", "stats").flatMap { root =>
      val rootPath = new Path(s"$path/$root")
      if (!f.exists(rootPath)) Seq.empty
      else f.listStatus(rootPath).toSeq
        .map(st => s"$root/${st.getPath.getName}")
        .filterNot(d => liveAll.contains(d) || madeFor(d).exists(_ >= from))
    }.sorted
  }

  /** The version a `data/`, `dv/` or `stats/` dir was made for, read
    * from its `v<NNNNN>` name. */
  private def madeFor(dir: String): Option[Long] =
    "v(\\d+)".r.findPrefixMatchOf(dir.substring(dir.indexOf('/') + 1)).map(_.group(1).toLong)

  // ------------------------------------------------------- file skipping

  /** Stats sidecar for a data directory: `stats/v<NNNNN>-<uuid>/` mirrors
    * `data/v<NNNNN>-<uuid>/` and is immutable with it. It holds one document,
    * [[StatsDocName]]. */
  private def statsDirOf(dataDirRel: String): String =
    "stats/" + dataDirRel.stripPrefix("data/")

  private val StatsDocName = "stats.json"

  private def statsDocOf(path: String, dataDirRel: String): Path =
    new Path(s"$path/${statsDirOf(dataDirRel)}/$StatsDocName")

  /** One data file's entry in a stats document: the file as
    * `input_file_name` spells it, its row count, the per-column min and
    * max in the internal integral form ([[statLong]]'s unit), and the
    * bloom words per bloom column. A column whose values in the file
    * are all null has no min/max; a file with no rows has no entry. */
  private[graft] final case class FileStats(file: String, nRows: Long,
      min: Map[String, Long], max: Map[String, Long], bloom: Map[String, Seq[Long]])

  /** A data directory's stats document: the range-tracked columns with
    * their types (`catalogString`), the bloom columns, and one
    * [[FileStats]] per non-empty data file. */
  private[graft] final case class DirStats(columns: Map[String, String],
      blooms: Seq[String], files: Seq[FileStats])

  /** The column types whose min/max sidecars track: those with an
    * internal integral form, the unit [[graft.plans.StatsPrune]] and
    * [[readPruned]] compare in. A stats column of another type is not
    * tracked, and probes on it read every file. */
  private def rangeTracked(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** `c`'s [min, max] in one file from its footer alone: Some(None) when
    * every value is null, None when the footer cannot say (the column is
    * absent or not a signed integer, date or INT64-micros timestamp; a
    * date or timestamp written under Spark's LEGACY calendar rebase;
    * a row group without statistics). */
  private def footerBounds(footer: ParquetMetadata, c: String,
      dt: DataType): Option[Option[(Long, Long)]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, IntLogicalTypeAnnotation, TimeUnit, TimestampLogicalTypeAnnotation}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    val field = footer.getFileMetaData.getSchema.getFields.asScala.find(_.getName == c)
    val readable = field.exists(_.isPrimitive) && {
      val t = field.get.asPrimitiveType
      val signedInt = t.getLogicalTypeAnnotation match {
        case null => true
        case i: IntLogicalTypeAnnotation => i.isSigned
        case _ => false
      }
      (dt, t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
        case (ByteType | ShortType | IntegerType, INT32, _) => signedInt
        case (LongType, INT64, _) => signedInt
        case (DateType, INT32, _: DateLogicalTypeAnnotation) => true
        case (TimestampType | TimestampNTZType, INT64, ts: TimestampLogicalTypeAnnotation) =>
          ts.getUnit == TimeUnit.MICROS
        case _ => false
      }
    }
    if (!readable) None
    else FooterStats.merged(footer, c).map(s =>
      if (!s.hasNonNullValue) None
      else Some((s.genericGetMin.asInstanceOf[Number].longValue,
        s.genericGetMax.asInstanceOf[Number].longValue)))
  }

  /** Per non-empty data file of `dir`: column `c`'s [min, max] as
    * [[footerBounds]] reads it (None when every value is null) and its
    * null count, from the footer alone — no Spark job; None for a file
    * whose footer cannot say. */
  private[sources] def footerRanges(spark: SparkSession, dir: Path, c: String,
      dt: DataType): Seq[Option[(Option[(Long, Long)], Long)]] = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(dir.getFileSystem(conf), dir).map(FooterStats.footer(conf, _))
      .filter(FooterStats.rows(_) > 0).map { ft =>
        for (b <- footerBounds(ft, c, dt); s <- FooterStats.merged(ft, c) if s.isNumNullsSet)
          yield (b, s.getNumNulls)
      }
  }

  /** The data files of a directory, as Spark's file listing keeps them. */
  private def dataFiles(f: FileSystem, dir: Path): Seq[Path] =
    f.listStatus(dir).toSeq.map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
      .sortBy(_.getName)

  /** The stats of the data files in `dir`, written under `schema`. Row
    * counts and the min/max of footer-readable columns ([[footerBounds]])
    * come from the footers, read on the driver. One data pass, under
    * the known schema with one row per file collected, runs only for
    * bloom columns and for range columns some footer cannot bound. */
  private def statsOf(spark: SparkSession, dir: Path, schema: StructType,
      statsCols: Seq[String], bloomCols: Seq[String]): DirStats = {
    import org.apache.spark.sql.functions.{col, input_file_name, max, md5, min, udaf}
    val conf = spark.sessionState.newHadoopConf()
    val footers = dataFiles(dir.getFileSystem(conf), dir)
      .map(p => p.toUri.toString -> FooterStats.footer(conf, p))
      .filter { case (_, ft) => FooterStats.rows(ft) > 0 }
    val tracked = statsCols.map(c => c -> schema(c).dataType)
      .filter { case (_, dt) => rangeTracked(dt) }
    val scannedCols = tracked.collect {
      case (c, dt) if footers.exists { case (_, ft) => footerBounds(ft, c, dt).isEmpty } => c
    }
    val scanned: Map[String, org.apache.spark.sql.Row] =
      if (footers.isEmpty || (scannedCols.isEmpty && bloomCols.isEmpty)) Map.empty
      else {
        val bloomAgg = udaf(new graft.operators.BloomOps.BloomAggregator(
          ZoneMaps.BloomBits, ZoneMaps.BloomHashes))
        val aggs = scannedCols.flatMap(c =>
          Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
          bloomCols.map(c => bloomAgg(md5(col(c).cast("string"))).as(s"bloom_$c"))
        spark.read.schema(StructType((scannedCols ++ bloomCols).distinct.map(schema(_))))
          .parquet(dir.toString)
          .groupBy(input_file_name().as("file"))
          .agg(aggs.head, aggs.tail: _*)
          .collect().map(r => r.getString(0) -> r).toMap
      }
    val files = footers.map { case (file, ft) =>
      lazy val row = scanned.getOrElse(file, throw new IllegalStateException(
        s"the stats pass over $dir saw no rows of $file"))
      val bounds = tracked.flatMap { case (c, dt) =>
        val b =
          if (scannedCols.contains(c))
            Option(row.getAs[Any](s"min_$c")).map(mn =>
              (statLong(mn), statLong(row.getAs[Any](s"max_$c"))))
          else footerBounds(ft, c, dt).flatten
        b.map(c -> _)
      }
      FileStats(file, FooterStats.rows(ft),
        ListMap(bounds.map { case (c, (mn, _)) => c -> mn }: _*),
        ListMap(bounds.map { case (c, (_, mx)) => c -> mx }: _*),
        ListMap(bloomCols.flatMap(c =>
          Option(row.getAs[scala.collection.Seq[Long]](s"bloom_$c")).map(c -> _.toSeq)): _*))
    }
    DirStats(ListMap(tracked.map { case (c, dt) => c -> dt.catalogString }: _*),
      bloomCols, files)
  }

  /** Write `dataDirRel`'s stats document ([[statsOf]]): staged under a
    * dot name and renamed into place, so a reader sees the whole
    * document or none. Runs before the version's manifest is
    * published; a retried commit of the same unpublished version
    * replaces its own orphan. */
  private def writeStatsFor(spark: SparkSession, path: String,
      dataDirRel: String, schema: StructType, statsCols: Seq[String],
      bloomCols: Seq[String]): Unit = {
    val stats = statsOf(spark, new Path(s"$path/$dataDirRel"), schema, statsCols, bloomCols)
    val body = Json.mapper.writeValueAsBytes(ListMap(
      "columns" -> stats.columns,
      "blooms" -> stats.blooms,
      "files" -> stats.files.map(s => ListMap("file" -> s.file, "n_rows" -> s.nRows,
        "min" -> s.min, "max" -> s.max, "bloom" -> s.bloom))))
    val f = fs(spark, path)
    val target = statsDocOf(path, dataDirRel)
    val staging = new Path(target.getParent, s".$StatsDocName.staging")
    val out = f.create(staging, true)
    try out.write(body) finally out.close()
    f.delete(target, false)
    if (!f.rename(staging, target))
      throw new java.io.IOException(s"stats publish failed for $target")
  }

  /** Parse the stats document of `dataDirRel`; None when the directory
    * has none (it is uncovered). A document that does not parse, or
    * whose fields have the wrong shape, fails with an IOException naming
    * the file: skipping on a half-read sidecar could drop rows. */
  private[graft] def readStats(spark: SparkSession, path: String,
      dataDirRel: String): Option[DirStats] = {
    val file = statsDocOf(path, dataDirRel)
    def corrupt(why: String, cause: Throwable = null) =
      new java.io.IOException(s"corrupt stats sidecar $file: $why", cause)
    val in = try fs(spark, path).open(file)
      catch { case _: java.io.FileNotFoundException => return None }
    val root = try Json.mapper.readTree(in) catch {
      case e: JsonProcessingException => throw corrupt(e.getOriginalMessage, e)
    } finally in.close()
    if (root == null || !root.isObject) throw corrupt("not a JSON object")
    def field(n: JsonNode, name: String): JsonNode = {
      val v = n.get(name)
      if (v == null) throw corrupt(s"missing $name in ${n.toString.take(200)}")
      v
    }
    def long(n: JsonNode): Long =
      if (n.isIntegralNumber && n.canConvertToLong) n.asLong
      else throw corrupt(s"not an integer: ${n.toString.take(50)}")
    def text(n: JsonNode): String =
      if (n.isTextual) n.asText else throw corrupt(s"not a string: ${n.toString.take(50)}")
    def obj[A](n: JsonNode, value: JsonNode => A): Map[String, A] =
      if (!n.isObject) throw corrupt(s"not an object: ${n.toString.take(50)}")
      else ListMap(n.properties.asScala.toSeq.map(e => e.getKey -> value(e.getValue)): _*)
    def arr[A](n: JsonNode, value: JsonNode => A): Seq[A] =
      if (!n.isArray) throw corrupt(s"not an array: ${n.toString.take(50)}")
      else n.elements.asScala.map(value).toSeq
    Some(DirStats(obj(field(root, "columns"), text), arr(field(root, "blooms"), text),
      arr(field(root, "files"), e => FileStats(text(field(e, "file")),
        long(field(e, "n_rows")), obj(field(e, "min"), long), obj(field(e, "max"), long),
        obj(field(e, "bloom"), arr(_, long))))))
  }

  /** Backfill stats sidecars for every data directory of `version`
    * (default latest) that lacks one — the maintenance face for
    * history written before opting in, or produced by [[optimize]]/
    * [[merge]] (whose rewrites don't collect stats). Returns the
    * directories it covered. */
  def collectStats(spark: SparkSession, path: String, statsCols: Seq[String],
      version: Option[Long] = None, bloomCols: Seq[String] = Nil): Seq[String] = {
    val v = resolve(spark, path, version)
    val f = fs(spark, path)
    val missing = listing(spark, path, v)
      .filterNot(d => f.exists(statsDocOf(path, d)))
    missing.foreach(d => writeStatsFor(spark, path, d,
      footerSchema(spark, Seq(s"$path/$d")), statsCols, bloomCols))
    // backfill changes an EXISTING version's sidecar coverage, which
    // the manifest-mtime cache key cannot see — drop the path's entries
    if (missing.nonEmpty)
      manifestCache.keySet.removeIf(k => k._1 == path)
    missing.sorted
  }

  /** Snapshot read with FILE SKIPPING: only files whose recorded
    * [min, max] of `statsCol` overlaps [lo, hi] are scanned, then the
    * exact residual predicate applies; directories without a stats
    * sidecar are always read (safety default — skipping is an
    * optimization, never a filter). Composes with pending deletion
    * vectors exactly like [[read]]. Returns the pruned DataFrame plus
    * files-total/files-read evidence.
    *
    * Scale: planning is one O(files) read of the snapshot's sidecars —
    * the same driver-side cost as any format's manifest pruning; with
    * commits clustered on `statsCol` (e.g. date-ordered appends), a
    * range query reads ⌈selectivity · files⌉ and history stays cheap
    * to slice. */
  def readPruned(spark: SparkSession, path: String, statsCol: String,
      lo: Long, hi: Long,
      version: Option[Long] = None): (DataFrame, ZoneMaps.PruneStats) = {
    import org.apache.spark.sql.functions.col
    val v = resolve(spark, path, version)
    val dirs = listing(spark, path, v)
    if (dirs.isEmpty) return (spark.emptyDataFrame, ZoneMaps.PruneStats(0, 0))
    val (toRead, st) = pruneFiles(spark, path, statsCol, lo, hi, v)
    val residual = col(statsCol) >= lo && col(statsCol) <= hi
    prunedRead(spark, path, v, toRead, residual, st)
  }

  /** The shared tail of [[readPruned]]/[[readPoint]]: scan the admitted
    * files under the logical schema (mapped tables re-project per
    * directory — r11, file skipping no longer opts out of column
    * mapping), apply the exact residual, subtract pending DVs. */
  private def prunedRead(spark: SparkSession, path: String, v: Long,
      toRead: Seq[String], residual: org.apache.spark.sql.Column,
      st: ZoneMaps.PruneStats): (DataFrame, ZoneMaps.PruneStats) = {
    import org.apache.spark.sql.functions.lit
    val dvs = dvListing(spark, path, v)
    val declared = read(spark, path, Some(v)).schema
    if (toRead.isEmpty)
      return (read(spark, path, Some(v)).filter(lit(false)), st)
    if (dvs.isEmpty)
      (scanFilesLogical(spark, path, v, toRead, declared).filter(residual), st)
    else (minusDvs(spark, path, scanFilesLogical(spark, path, v, toRead, declared,
      withPos = true).filter(residual), dvs).drop(DvCols: _*), st)
  }

  /** Point lookup with BLOOM file skipping: read only the files whose
    * sidecar filter admits `key` (no false negatives — the residual
    * equality makes the result exact), plus every file of a directory
    * without a bloom for the column. The probe column needs NO
    * clustering: this is the Delta bloom-column-index story — a
    * `WHERE user_id = k` over a date-laid-out 100 TB table skips on
    * the sidecars where min/max spans everything. Composes with
    * pending deletion vectors like [[read]]. */
  def readPoint(spark: SparkSession, path: String, bloomCol: String,
      key: Long,
      version: Option[Long] = None): (DataFrame, ZoneMaps.PruneStats) = {
    import org.apache.spark.sql.functions.col
    val v = resolve(spark, path, version)
    val dirs = listing(spark, path, v)
    if (dirs.isEmpty) return (spark.emptyDataFrame, ZoneMaps.PruneStats(0, 0))
    val (toRead, st) = bloomFiles(spark, path, bloomCol, key, v)
    prunedRead(spark, path, v, toRead, col(bloomCol) === key, st)
  }

  /** The snapshot's stats documents, PARSED and CACHED on the driver
    * keyed by (path, version, manifest mtime) — a version's listing and
    * its sidecars are immutable, so planning any probe of the snapshot
    * runs ZERO Spark jobs: the documents are read on the driver, and
    * the files of an uncovered directory are listed through the Hadoop
    * FS. This keeps [[graft.plans.StatsPrune]]'s planning in the same
    * cost class as a table format's manifest pruning. `columns` and
    * `blooms` are the union over the covered directories; a file whose
    * directory does not track a probe's column is kept by that probe. */
  private final case class SidecarManifest(columns: Map[String, DataType],
      blooms: Set[String], files: Seq[FileStats], uncoveredFiles: Seq[String])

  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), SidecarManifest]()

  private def sidecarManifest(spark: SparkSession, path: String,
      v: Long): SidecarManifest = {
    if (manifestCache.size > 256) manifestCache.clear() // bounded
    // the manifest file's mtime rides in the key: a table DELETED and
    // REBUILT at the same path reaches the same version numbers with
    // different content — its fresh manifest must not hit a stale entry
    val f = fs(spark, path)
    val mtime = f.getFileStatus(new Path(manifestDir(path), s"${vname(v)}.json"))
      .getModificationTime
    manifestCache.computeIfAbsent((path, v, mtime), _ => {
      val docs = listing(spark, path, v).map(d => d -> readStats(spark, path, d))
      val covered = docs.flatMap(_._2)
      SidecarManifest(
        covered.flatMap(_.columns).map { case (c, t) => c -> DataType.fromDDL(t) }.toMap,
        covered.flatMap(_.blooms).toSet,
        covered.flatMap(_.files),
        docs.collect { case (d, None) => dataFiles(f, new Path(s"$path/$d")) }
          .flatten.map(_.toUri.toString))
    })
  }

  /** The planning half of [[readPruned]]: the exact files a
    * [lo, hi] probe on `statsCol` must read at `version` — sidecar
    * range hits, files whose sidecar doesn't track the column, and
    * every file of an uncovered directory — with the files-total/
    * files-read evidence. Pure driver work over the cached manifest. */
  private[graft] def pruneFiles(spark: SparkSession, path: String,
      statsCol: String, lo: Long, hi: Long,
      v: Long): (Seq[String], ZoneMaps.PruneStats) =
    planProbes(spark, path, v, Seq((statsCol, lo, hi)), Nil)

  /** The planning half of [[readPoint]]: sidecar bloom admission
    * ([[graft.operators.BloomOps.admits]] — the same arithmetic the
    * write side packed with), files whose sidecar has no bloom for the
    * column, and every file of an uncovered directory. */
  private[graft] def bloomFiles(spark: SparkSession, path: String,
      bloomCol: String, key: Long,
      v: Long): (Seq[String], ZoneMaps.PruneStats) =
    planProbes(spark, path, v, Nil, Seq((bloomCol, Seq(key))))

  /** A min/max value as its INTERNAL integral form — the same unit
    * [[graft.plans.StatsPrune]]'s literal bounds arrive in: numbers
    * as-is, DATE as epoch days, TIMESTAMP as UTC micros (collected
    * Rows surface those columns as external Java types, either legacy
    * java.sql or java.time under the java8API flag). */
  private def statLong(v: Any): Long = v match {
    case n: Number                  => n.longValue
    case d: java.sql.Date           =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong
    case d: java.time.LocalDate     => d.toEpochDay
    case t: java.sql.Timestamp      =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(t)
    case i: java.time.Instant       =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(i)
    case l: java.time.LocalDateTime =>
      org.apache.spark.sql.catalyst.util.DateTimeUtils.localDateTimeToMicros(l)
    case other => throw new IllegalStateException(
      s"stats value of unsupported type ${other.getClass.getName}")
  }

  /** Conjunctive multi-probe planning — the substrate of
    * [[graft.plans.StatsPrune]]: a file is read only if EVERY range
    * probe's [min, max] overlaps and EVERY point probe's bloom admits
    * (each probe keeping files whose sidecar doesn't track its column
    * — intersection can only shrink what one probe admits, so a 2-D
    * `WHERE x < a AND y < b` over a Z-ordered layout prunes on BOTH
    * dimensions).
    *
    * Point probes carry a KEY SET: one key = equality, several = an
    * IN-list, where the file is kept when ANY listed key is admitted
    * (IN is a disjunction — any-of is the sound direction). Probe
    * columns arrive as LOGICAL names and re-key through the version's
    * logical→physical map (r11): sidecars carry the immutable physical
    * names, so a range predicate on a renamed column still prunes —
    * and a logical name that merely COLLIDES with some other column's
    * physical name can never match the wrong sidecar, because the
    * translation is by map entry, not by string equality. */
  private[graft] def planProbes(spark: SparkSession, path: String, v: Long,
      ranges: Seq[(String, Long, Long)],
      points: Seq[(String, Seq[Long])]): (Seq[String], ZoneMaps.PruneStats) = {
    val mi = sidecarManifest(spark, path, v)
    val toPhys: String => String = colsListing(spark, path, v) match {
      case Some(cols) =>
        val m = cols.map(c => c.logical -> c.physical).toMap
        c => m.getOrElse(c, s"__graft_unmapped_$c") // not in schema: match nothing
      case None => identity
    }
    val probes: Seq[FileStats => Boolean] =
      ranges.map { case (c0, lo, hi) =>
        val c = toPhys(c0)
        (s: FileStats) => (for (mn <- s.min.get(c); mx <- s.max.get(c))
          yield mn <= hi && mx >= lo).getOrElse(true)
      } ++ points.map { case (c0, keys) =>
        val c = toPhys(c0)
        (s: FileStats) => s.bloom.get(c).forall(bits => keys.exists(k =>
          graft.operators.BloomOps.admits(
            bits, k.toString, ZoneMaps.BloomBits, ZoneMaps.BloomHashes)))
      }
    val selected = mi.files.filter(s => probes.forall(_(s))).map(_.file)
    ((selected ++ mi.uncoveredFiles).sorted,
      ZoneMaps.PruneStats(mi.files.size.toLong + mi.uncoveredFiles.size,
        selected.size.toLong + mi.uncoveredFiles.size))
  }

  /** The stats-covered columns of `version`'s sidecars (LOGICAL name →
    * type), empty when no directory has a sidecar — [[StatsPrune]]'s
    * eligibility probe. MAPPED snapshots (r11) translate each sidecar's
    * PHYSICAL column back through the era's map: a renamed column's
    * range predicate keeps pruning, a dropped column's sidecar
    * (physical name absent from the map) surfaces to nobody, and a
    * logical name colliding with another column's physical name can't
    * mis-match — translation is by map entry, never string equality
    * (the hazard that used to force mapped tables to opt out
    * wholesale). */
  private[graft] def statsColumns(spark: SparkSession, path: String,
      v: Long): Map[String, DataType] = {
    val cols = sidecarManifest(spark, path, v).columns
    colsListing(spark, path, v) match {
      case None => cols
      case Some(m) => m.flatMap(c => cols.get(c.physical).map(c.logical -> _)).toMap
    }
  }

  /** The bloom-covered columns of `version`'s sidecars as LOGICAL
    * names — [[graft.plans.StatsPrune]]'s point-probe eligibility check
    * (per-file coverage is the null guard inside [[bloomFiles]]);
    * mapped snapshots translate physical→logical like
    * [[statsColumns]]. */
  private[graft] def bloomColumns(spark: SparkSession, path: String,
      v: Long): Set[String] = {
    val blooms = sidecarManifest(spark, path, v).blooms
    colsListing(spark, path, v) match {
      case None => blooms
      case Some(m) => m.filter(c => blooms(c.physical)).map(_.logical).toSet
    }
  }

  /** Scan a pruned FILE subset under the snapshot's LOGICAL schema —
    * the splice substrate [[graft.plans.StatsPrune]] and the pruned
    * reads share. Unmapped tables pin the declared schema over one
    * mixed scan; mapped tables project physical→logical per directory
    * (directories may disagree on parquet types after a widening),
    * optionally extending with (file, pos) for DV subtraction. */
  private[graft] def scanFilesLogical(spark: SparkSession, path: String,
      v: Long, files: Seq[String],
      declared: org.apache.spark.sql.types.StructType,
      withPos: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.col
    colsListing(spark, path, v) match {
      case None =>
        val base = spark.read.schema(declared).parquet(files: _*)
        if (!withPos) base else base.select(col("*") +: positions: _*)
      case Some(cols) =>
        mappedScan(spark, files.groupBy(f => new Path(f).getParent.toString).values.toSeq,
          cols, withPos)
    }
  }
}
