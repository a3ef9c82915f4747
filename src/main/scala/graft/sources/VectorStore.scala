package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StructType}

/** Vector-store sink surface (SURVEY.md §2.1 S10/S11/S12).
  *
  * The reference's sink is a Weaviate batch upsert: buffer rows, flush
  * every `batch_size` objects with the uuid primary key and the vector
  * attached out-of-band (`data_load_weaviate`
  * /root/reference/llmcore/cms/cmfunctions.py:177-223, batch config
  * :210-212, pk+vector :218-223), plus create-class-if-absent DDL
  * (:80-90) and predicate delete (:226-261).
  *
  * Offline the store is a [[TimeTravel]] table with the same observable
  * semantics:
  *   - [[createIfAbsent]] = S11 idempotent DDL;
  *   - [[upsert]] = S10: replace-by-`chunk_id`, optionally also dropping
  *     every row of a superseded key set (IngestJob passes the names of
  *     the changed files), as ONE keyed commit
  *     ([[TimeTravel.commitKeyed]]): the replaced and superseded rows
  *     are tombstoned in a deletion-vector dir and the incoming rows
  *     land in one new data dir. No existing data file is rewritten, so
  *     the cost is O(changed chunks), not O(store);
  *   - [[deleteWhere]] = S12, the same commit with no data dir;
  *   - [[foreachBatched]] = the executor-side buffered-flush writer
  *     shape for an external store (one client per PARTITION, flush per
  *     `batchSize` — never one call per row/chunk like the reference).
  *
  * Crash safety and isolation are TimeTravel's: every write lands in
  * unpublished dirs and becomes visible in one manifest rename, so a
  * reader sees a changed file with either all its old chunks or all its
  * new ones. A crash before the publish leaves dirs no reader lists,
  * and the retried commit overwrites them; a concurrent writer that
  * loses the publish race fails with [[CommitConflictException]].
  * IngestJob's CDC ledger is a TimeTravel table too, and each round
  * ends with [[upkeep]]: superseded dirs stay on disk, and earlier
  * snapshots readable, for [[KeepVersions]] versions; the dirs of a
  * commit still in flight stay until it publishes or loses.
  *
  * Every commit that writes data carries `load_dt` file-skipping stats
  * when the rows have the column. A path that holds parquet rows but no
  * `_versions/` is a store in the earlier layout (flat, or hive
  * `load_dt=` dirs): it reads as plain parquet, and the first write
  * adopts it ([[TimeTravel.unversioned]]).
  */
object VectorStore {

  val KeyCol = "chunk_id"
  val PartitionCol = "load_dt"

  /** Executor-side batched sink. `open` runs once per partition (client
    * construction), `flush` once per buffered batch. Generic so tests
    * can count flushes; an HTTP-backed store would open a pooled client. */
  def foreachBatched[C](df: DataFrame, batchSize: Int)(
      open: () => C)(flush: (C, Seq[Row]) => Unit)(close: C => Unit): Unit =
    df.foreachPartition { (rows: Iterator[Row]) =>
      val client = open()
      try rows.grouped(batchSize).foreach(batch => flush(client, batch))
      finally close(client)
    }

  private def fileSystem(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, path: String): Boolean =
    fileSystem(spark, path).exists(new Path(path))

  private def versioned(spark: SparkSession, path: String): Boolean =
    TimeTravel.versions(spark, path).nonEmpty

  private def statsCols(schema: StructType): Seq[String] =
    Seq(PartitionCol).filter(schema.fieldNames.contains)

  /** Move a store in the unversioned layout onto TimeTravel: commit its
    * rows as the first version, then delete the old entries. A column
    * `like` has and the old rows lack becomes a typed null. */
  private def adopt(spark: SparkSession, path: String, like: StructType): Unit =
    TimeTravel.unversioned(spark, path).foreach { rows =>
      val aligned = like.fields.filterNot(f => rows.columns.contains(f.name))
        .foldLeft(rows)((df, f) => df.withColumn(f.name, lit(null).cast(f.dataType)))
      TimeTravel.overwriteAdopting(aligned, path, statsCols(aligned.schema))
    }

  /** S11: create the store with a fixed schema iff absent. */
  def createIfAbsent(spark: SparkSession, path: String, schema: StructType): Unit =
    if (!exists(spark, path))
      TimeTravel.commitOverwrite(
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema), path,
        statsCols(schema))

  /** The latest snapshot (an unversioned store reads as plain parquet). */
  def read(spark: SparkSession, path: String): DataFrame = TimeTravel.readLatest(spark, path)

  /** S10: upsert keyed on `chunk_id` — existing rows with incoming keys
    * are replaced, others kept. `superseded` is a one-column frame named
    * after a store column: every store row whose value in that column
    * appears in it is dropped in the same commit. IngestJob passes the
    * names of the changed files, so an update that shrinks a file — even
    * to zero chunks — leaves none of its old chunks behind. Incoming
    * rows are cast to the store's columns; the first upsert of an absent
    * store defines them. `tag` names the commit in its manifest
    * ([[TimeTravel.latestTag]]). */
  def upsert(spark: SparkSession, path: String, incoming: DataFrame,
      superseded: Option[DataFrame] = None, tag: Option[String] = None): Unit = {
    adopt(spark, path, incoming.schema)
    if (!versioned(spark, path))
      TimeTravel.commitOverwrite(incoming, path, statsCols(incoming.schema), tag = tag)
    else TimeTravel.commitKeyed(spark, path, incoming.select(KeyCol) +: superseded.toSeq,
      Some(incoming), statsCols(incoming.schema), tag)
  }

  /** Full replace (the V2 TRUNCATE/overwrite path): the store's
    * contents become exactly `incoming`, which may read the store it
    * replaces. */
  def replaceAll(spark: SparkSession, path: String, incoming: DataFrame): Unit =
    TimeTravel.overwriteAdopting(incoming, path, statsCols(incoming.schema))

  /** S12: delete rows whose `keyCol` value appears in `keys`. */
  def deleteWhere(spark: SparkSession, path: String, keys: DataFrame, keyCol: String): Unit = {
    adopt(spark, path, new StructType())
    TimeTravel.commitKeyed(spark, path, Seq(keys.select(col(keyCol))))
  }

  /** Retention: drop every row with a `load_dt` strictly OLDER than
    * `cutoff` (ISO `yyyy-MM-dd`) in one commit. A data dir whose
    * `load_dt` values all lie before the cutoff — read from its parquet
    * footers on the driver, no Spark job — leaves the snapshot whole: no
    * row is read or rewritten. Older rows of the other dirs are
    * tombstoned by one scan of just the dirs whose footers admit them. A
    * null `load_dt` has no age and is never dropped. Returns the number
    * of data dirs dropped. */
  def dropPartitionsBefore(spark: SparkSession, path: String, cutoff: String): Int = {
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoff must be an ISO date (yyyy-MM-dd), got: $cutoff")
    if (!exists(spark, path)) return 0
    adopt(spark, path, new StructType())
    val day = java.time.LocalDate.parse(cutoff).toEpochDay
    var dropped = 0
    TimeTravel.rowLevelCommit(spark, path, "age out") { (m, live) =>
      // per data dir, per non-empty file: ([min, max] day, nulls), None
      // when the footer cannot say
      val ranges = m.dirs.map(d => d -> TimeTravel.footerRanges(
        spark, new Path(s"$path/$d"), PartitionCol, DateType))
      val victims = ranges.collect { case (d, fs) if fs.nonEmpty && fs.forall(_.exists {
        case (r, nulls) => nulls == 0 && r.exists(_._2 < day) }) => d }
      val scanned = ranges.collect { case (d, fs) if !victims.contains(d) &&
        fs.exists(_.forall { case (r, _) => r.exists(_._1 < day) }) => d }
      val old = Some(scanned).filter(_.nonEmpty).map(live)
        .filter(_.columns.contains(PartitionCol))
        .map(_.filter(col(PartitionCol) < to_date(lit(cutoff))))
      dropped = victims.size
      // a snapshot lists at least one data dir: dropping them all leaves
      // one empty dir with the store's columns
      val empty = Some(m.dirs).filter(_.size == victims.size)
        .map(live(_).filter(lit(false)).drop(TimeTravel.DvCols: _*))
      if (victims.isEmpty && old.isEmpty) None
      else Some(TimeTravel.RowChange(old, empty, victims))
    }
    dropped
  }

  /** Compact: streaming upserts (one commit per micro-batch) and CDC
    * rounds accumulate small data dirs and deletion vectors, and at
    * 100 TB the file count — not the byte count — becomes the scan
    * scheduler's bottleneck. [[TimeTravel.optimize]] folds the snapshot
    * into ceil(data bytes / `targetBytes`) files of one new dir; a store
    * already that compact is left as it is. Pure layout maintenance —
    * the row set is unchanged (asserted in PipelineSpec). */
  def compact(spark: SparkSession, path: String, targetBytes: Long = TargetBytes): Unit = {
    adopt(spark, path, new StructType())
    val v = TimeTravel.versions(spark, path).last
    TimeTravel.optimize(spark, path,
      filesFor(TimeTravel.listing(spark, path, v).map(bytesOf(spark, path, _)).sum, targetBytes),
      statsCols(read(spark, path).schema))
  }

  private val TargetBytes = 128L * 1024 * 1024

  private def bytesOf(spark: SparkSession, path: String, dir: String): Long =
    fileSystem(spark, path).getContentSummary(new Path(s"$path/$dir")).getLength

  private def filesFor(bytes: Long, targetBytes: Long): Int =
    math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt

  /** The live small data plus DV dirs past which [[upkeep]] folds them.
    * A scan lists its paths with a Spark job once they pass Spark's
    * parallel-listing threshold (`parallelPartitionDiscovery.threshold`,
    * 32); at 24 neither the data nor the DV scan of a store of small
    * dirs reaches it. A CDC round adds three dirs (a data and a DV dir
    * from the upsert, a DV dir from the file delete), so the small dirs
    * fold about every eighth round. */
  private val MaxLiveDirs = 24

  /** The versions [[upkeep]]'s vacuum keeps. An IngestJob entry point
    * publishes one store commit and at most one fold before its vacuum
    * runs, so three keep the snapshot a reader resolved before that
    * call readable until the call returns; a read that spans more
    * commits than that may find its files gone. */
  private val KeepVersions = 3

  /** Upkeep after a round's commits. Once the live snapshot lists more
    * than [[MaxLiveDirs]] data dirs smaller than [[compact]]'s target
    * size plus DV dirs, one [[TimeTravel.fold]] rewrites those small
    * dirs, tombstones applied, into one dir, and moves the tombstones of
    * the full dirs into one DV dir. A full dir is never rewritten, so a
    * fold costs the bytes of the small dirs, at most a few target sizes,
    * whatever the store's size; the rows a full dir's tombstones hide
    * stay on disk until an explicit [[compact]]. Then the dirs of every
    * version before the last [[KeepVersions]] go; a concurrent writer
    * keeps its dirs ([[TimeTravel.vacuumShared]]). An unversioned store
    * is left as it is. */
  def upkeep(spark: SparkSession, path: String): Unit =
    TimeTravel.versions(spark, path).lastOption.foreach { v =>
      val m = TimeTravel.manifest(spark, path, v)
      if (m.dirs.size + m.dvs.size > MaxLiveDirs) {
        val small = m.dirs.map(d => d -> bytesOf(spark, path, d)).filter(_._2 < TargetBytes)
        if (small.size + m.dvs.size > MaxLiveDirs)
          TimeTravel.fold(spark, path, small.map(_._1),
            filesFor(small.map(_._2).sum, TargetBytes), statsCols(read(spark, path).schema))
      }
      TimeTravel.vacuumShared(spark, path, KeepVersions)
    }
}
