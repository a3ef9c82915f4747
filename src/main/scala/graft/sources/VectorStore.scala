package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Vector-store sink surface (SURVEY.md §2.1 S10/S11/S12).
  *
  * The reference's sink is a Weaviate batch upsert: buffer rows, flush
  * every `batch_size` objects with the uuid primary key and the vector
  * attached out-of-band (`data_load_weaviate`
  * /root/reference/llmcore/cms/cmfunctions.py:177-223, batch config
  * :210-212, pk+vector :218-223), plus create-class-if-absent DDL
  * (:80-90) and predicate delete (:226-261).
  *
  * Offline the store is parquet with the same observable semantics:
  *   - [[createIfAbsent]] = S11 idempotent DDL;
  *   - [[upsert]] = S10: replace-by-`chunk_id`, optionally also dropping
  *     every row of a superseded key set (IngestJob passes the names of
  *     the changed files) in the same rewrite. When rows carry a
  *     `load_dt` column the store is laid out as `load_dt=...` hive
  *     partitions and an upsert rewrites ONLY the partitions that hold
  *     replaced or superseded keys or receive new rows — O(touched
  *     partitions) write amplification, not O(store); a store without
  *     `load_dt` falls back to a full staged rewrite.
  *   - [[deleteWhere]] = S12 anti-join rewrite, through the same
  *     partition-scoped rewrite;
  *   - [[foreachBatched]] = the executor-side buffered-flush writer
  *     shape for an external store (one client per PARTITION, flush per
  *     `batchSize` — never one call per row/chunk like the reference).
  *
  * Crash safety: every rewrite stages its output to a `.staging`
  * sibling first, so a failed staging write leaves the store as it
  * was. It then swaps with CHECKED renames via the Hadoop FileSystem
  * API (works on HDFS/S3A, not just the driver-local disk): the
  * partition-scoped path moves each touched `load_dt=` dir live →
  * `.old` and its staged replacement staging → live; the full-rewrite
  * path does the same with the whole store dir. A failed rename rolls
  * back what was already swapped. A partition-scoped rewrite that finds
  * a `.old` left by a crashed one first restores every partition whose
  * live dir is missing, so no failure mode truncates the store.
  *
  * An upsert with a superseded set takes a changed file from its old
  * chunks to its new ones in one partition swap, not in a delete and a
  * later upsert. Partitions that gain rows swap first, so there is no
  * window in which an updated file is chunkless, except the instant
  * between the two renames of a partition holding both its old and its
  * new chunks. IngestJob writes its ledger only after the store, so a
  * crash replays the same diff and converges on the same store.
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

  /** Rows migrated from a legacy store carry a null `load_dt` and live
    * in hive's default-partition dir; every partition-value comparison
    * goes through this token so null rows match their directory instead
    * of silently failing `=`/`isin` null semantics (a compact() or
    * upsert that misses them would drop or duplicate the whole legacy
    * partition). */
  private val NullPartName = "__HIVE_DEFAULT_PARTITION__"
  private def partToken(c: Column): Column =
    coalesce(c.cast("string"), lit(NullPartName))

  /** Whether the on-disk store uses `load_dt=...` hive partition dirs. */
  private def isPartitionedOnDisk(spark: SparkSession, path: String): Boolean = {
    val fs = fileSystem(spark, path)
    fs.exists(new Path(path)) &&
      fs.listStatus(new Path(path)).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith(s"$PartitionCol="))
  }

  /** S11: create the store with a fixed schema iff absent. */
  def createIfAbsent(spark: SparkSession, path: String, schema: StructType): Unit =
    if (!exists(spark, path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .write.mode(SaveMode.Overwrite).parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** S10: upsert keyed on `chunk_id` — existing rows with incoming keys
    * are replaced, others kept. `superseded` is a one-column frame named
    * after a store column: every store row whose value in that column
    * appears in it is dropped in the same rewrite. IngestJob passes the
    * names of the changed files, so an update that shrinks a file — even
    * to zero chunks — leaves none of its old chunks behind.
    * Partition-scoped when the store is `load_dt`-partitioned; a first
    * upsert (nothing to replace) or one against a legacy unpartitioned
    * store rewrites once and leaves the store partitioned for every
    * later call. */
  def upsert(spark: SparkSession, path: String, incoming: DataFrame,
      superseded: Option[DataFrame] = None): Unit = {
    val partitionable = incoming.columns.contains(PartitionCol)
    val drops = incoming.select(KeyCol) +: superseded.toSeq
    if (!exists(spark, path)) {
      write(incoming, path, partitionable)
    } else if (partitionable && isPartitionedOnDisk(spark, path)) {
      rewritePartitions(spark, path, drops, Some(incoming))
    } else {
      // legacy/unpartitioned store: one full staged rewrite. When incoming
      // carries `load_dt` and the legacy rows don't, MIGRATE instead of
      // dropping the column: legacy survivors land in the null
      // (__HIVE_DEFAULT_PARTITION__) partition, incoming keeps its dates,
      // and the store is partitioned from here on. The partitionBy flag is
      // derived from the UNIONED output inside swapRewrite, so a store that
      // lacks the column can never hit partitionBy on a missing column.
      swapRewrite(spark, path, wantPartition = partitionable) { store =>
        val base =
          if (partitionable && !store.columns.contains(PartitionCol))
            store.withColumn(PartitionCol,
              lit(null).cast(incoming.schema(PartitionCol).dataType))
          else store
        without(base, drops).unionByName(incoming.select(base.columns.map(col): _*))
      }
    }
  }

  /** Full replace (the V2 TRUNCATE/overwrite path): the store's
    * contents become exactly `incoming`. Staged-swap when a store
    * exists — `incoming`'s plan may read the store it replaces. */
  def replaceAll(spark: SparkSession, path: String, incoming: DataFrame): Unit = {
    val partitioned = incoming.columns.contains(PartitionCol)
    if (!exists(spark, path)) write(incoming, path, partitioned)
    else swapRewrite(spark, path, wantPartition = partitioned)(_ => incoming)
  }

  /** S12: delete rows whose key appears in `keys` (anti-join rewrite);
    * rewrites only the partitions that contain matching keys. */
  def deleteWhere(spark: SparkSession, path: String, keys: DataFrame, keyCol: String): Unit = {
    val k = Seq(keys.select(col(keyCol)))
    if (isPartitionedOnDisk(spark, path)) rewritePartitions(spark, path, k, None)
    else swapRewrite(spark, path, wantPartition = false)(without(_, k))
  }

  /** `store` minus every row matching one of `drops`: one-column key
    * frames, each named after the store column it matches. */
  private def without(store: DataFrame, drops: Seq[DataFrame]): DataFrame =
    drops.foldLeft(store)((s, k) => s.join(k, k.columns.toSeq, "left_anti"))

  /** The partition-scoped rewrite behind [[upsert]] and [[deleteWhere]]:
    * the affected partitions are those holding a row of `drops` (a
    * column-pruned semi-join scan) plus those receiving `incoming` rows,
    * found in ONE collect. Their rows minus `drops`, plus `incoming`,
    * replace them in one [[rewriteAffected]]; nothing affected is a
    * no-op. */
  private def rewritePartitions(spark: SparkSession, path: String,
      drops: Seq[DataFrame], incoming: Option[DataFrame]): Unit = {
    restoreSwapped(spark, path)
    val store = read(spark, path)
    val aligned = incoming.map(_
      .withColumn(PartitionCol, col(PartitionCol).cast(store.schema(PartitionCol).dataType))
      .select(store.columns.map(col): _*))
    def parts(df: DataFrame, gains: Boolean) =
      df.select(partToken(col(PartitionCol)), lit(gains))
    import spark.implicits._
    // deduplicated within each input partition: at most (input partitions
    // × partition values) rows reach the driver, and no shuffle runs
    val found = (drops.map(k => parts(store.join(k, k.columns.toSeq, "left_semi"), gains = false)) ++
      aligned.map(parts(_, gains = true))).reduce(_ union _)
      .as[(String, Boolean)].mapPartitions(_.toSet.iterator).collect()
    // partitions that gain rows first: see the object doc
    val affected = found.sortBy(!_._2).map(_._1).distinct.toSeq
    if (affected.nonEmpty) {
      val kept = without(store.filter(partToken(col(PartitionCol)).isin(affected: _*)), drops)
      rewriteAffected(spark, path, affected, aligned.fold(kept)(kept.unionByName(_)))
    }
  }

  /** Retention: drop whole `load_dt=` partitions strictly OLDER than
    * `cutoff` (ISO `yyyy-MM-dd`; hive directory values compare
    * lexicographically = chronologically for that format). This is how
    * a long-lived store stays bounded: at 100 TB the delete is
    * O(dropped partitions) directory removals — no scan, no rewrite,
    * no row ever read, and partition pruning means readers never saw
    * the dropped data as "current" anyway. Removal is per-directory
    * idempotent, so a crash mid-run leaves a store that a re-run
    * finishes. The null (legacy-migration) partition has no age and is
    * never dropped. An unpartitioned store that carries the column
    * falls back to one filter rewrite (null `load_dt` rows kept).
    * Returns the number of partition directories dropped (0 for the
    * rewrite fallback). */
  def dropPartitionsBefore(spark: SparkSession, path: String, cutoff: String): Int = {
    require(cutoff.matches("\\d{4}-\\d{2}-\\d{2}"),
      s"cutoff must be an ISO date (yyyy-MM-dd), got: $cutoff")
    if (isPartitionedOnDisk(spark, path)) {
      val fs = fileSystem(spark, path)
      val victims = fs.listStatus(new Path(path)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$PartitionCol="))
        .filter { st =>
          val v = st.getPath.getName.stripPrefix(s"$PartitionCol=")
          v != NullPartName && v < cutoff
        }
      victims.foreach(st => fs.delete(st.getPath, true))
      victims.size
    } else if (exists(spark, path) &&
        read(spark, path).columns.contains(PartitionCol)) {
      swapRewrite(spark, path, wantPartition = false)(store =>
        store.filter(col(PartitionCol).isNull ||
          col(PartitionCol) >= to_date(lit(cutoff))))
      0
    } else 0
  }

  /** Compact small files: streaming upserts (one commit per
    * micro-batch) and repeated partition rewrites accumulate files far
    * smaller than a scan-efficient parquet row group, and at 100 TB the
    * file count — not the byte count — becomes the scan scheduler's
    * bottleneck. For each `load_dt` partition whose file count exceeds
    * ceil(bytes / targetBytes), rewrite just that partition's rows into
    * that many files through the same staged dynamic-overwrite path as
    * upserts (crash-safe, other partitions untouched). Pure layout
    * maintenance — the row set is unchanged (asserted in PipelineSpec).
    * Driver work is bounded by the partition count, one rewrite job per
    * oversized partition; row data never visits the driver. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = fileSystem(spark, path)
    def dataFiles(dir: Path) = fs.listStatus(dir).toSeq.filter(st =>
      st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
    def wantFiles(bytes: Long) =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    if (isPartitionedOnDisk(spark, path)) {
      restoreSwapped(spark, path)
      val oversized = fs.listStatus(new Path(path)).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$PartitionCol="))
        .flatMap { st =>
          val files = dataFiles(st.getPath)
          val want = wantFiles(files.map(_.getLen).sum)
          if (files.length > want)
            Some(ExternalCatalogUtils.unescapePathName(
              st.getPath.getName.stripPrefix(s"$PartitionCol=")) -> want)
          else None
        }
      oversized.foreach { case (value, want) =>
        val slice = read(spark, path)
          .filter(partToken(col(PartitionCol)) === value)
          .coalesce(want)
        rewriteAffected(spark, path, Seq(value), slice)
      }
    } else {
      val files = dataFiles(new Path(path))
      val want = wantFiles(files.map(_.getLen).sum)
      if (files.length > want)
        swapRewrite(spark, path, wantPartition = false)(_.coalesce(want))
    }
  }

  private def write(df: DataFrame, path: String, partitioned: Boolean): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitioned) w.partitionBy(PartitionCol) else w).parquet(path)
  }

  private def move(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new java.io.IOException(s"vector store swap: rename $from -> $to failed")

  /** A partition swap that stopped after moving a live `load_dt=` dir to
    * `.old`, but before moving its replacement in, leaves the only copy
    * of those rows in `.old`: put back every dir whose live one is
    * missing, then drop `.old`. Runs before a partition-scoped rewrite
    * reads the store, and as the roll-back of a failed swap. */
  private def restoreSwapped(spark: SparkSession, path: String): Unit = {
    val fs = fileSystem(spark, path)
    val old = new Path(path + ".old")
    if (fs.exists(old)) {
      fs.listStatus(old).foreach { st =>
        val dir = new Path(path, st.getPath.getName)
        if (!fs.exists(dir)) move(fs, st.getPath, dir)
      }
      fs.delete(old, true)
    }
  }

  /** Rewrite exactly the `affected` partitions (in swap order) of the
    * store to hold `out`'s rows, each in ONE swap: the rows it loses and
    * the rows it gains change together. `out`'s plan reads the live
    * store, and Spark refuses to overwrite a path its plan scans — so
    * the new rows stage to a sibling dir first, and a failed staging
    * write leaves every partition as it was. Each affected partition
    * dir then swaps by checked renames: live → `.old`, staged → live;
    * staging is never re-read or copied. Every other partition's files
    * are untouched (asserted by PipelineSpec and IngestSpec). An
    * affected partition with ZERO surviving rows has no staged dir, so
    * it only moves out. A failed rename puts back every partition
    * already swapped. */
  private def rewriteAffected(spark: SparkSession, path: String,
      affected: Seq[String], out: DataFrame): Unit = {
    val fs = fileSystem(spark, path)
    val (live, staging, old) =
      (new Path(path), new Path(path + ".staging"), new Path(path + ".old"))
    if (fs.exists(staging)) fs.delete(staging, true)
    try write(out, staging.toString, partitioned = true)
    catch { case e: Throwable => fs.delete(staging, true); throw e }
    fs.mkdirs(old)
    val swapped = scala.collection.mutable.ArrayBuffer.empty[Path]
    try affected.foreach { v =>
      val name = s"$PartitionCol=${ExternalCatalogUtils.escapePathName(v)}"
      val (dir, staged) = (new Path(live, name), new Path(staging, name))
      if (fs.exists(dir)) move(fs, dir, new Path(old, name))
      swapped += dir
      if (fs.exists(staged)) move(fs, staged, dir)
    } catch { case e: Throwable =>
      // a swapped dir that is live again holds staged rows: drop it, and
      // restoreSwapped puts the old one back
      swapped.foreach(dir => if (fs.exists(dir)) fs.delete(dir, true))
      restoreSwapped(spark, path)
      fs.delete(staging, true)
      throw e
    }
    fs.delete(old, true)
    fs.delete(staging, true)
  }

  /** Full rewrite with checked rename swap. Partitions the rewritten
    * store only when the caller wants it AND the rewritten output
    * actually has the partition column — guards the legacy-migration
    * path where the pre-union store lacks `load_dt`. */
  private def swapRewrite(spark: SparkSession, path: String, wantPartition: Boolean)(
      f: DataFrame => DataFrame): Unit = {
    val staged = f(read(spark, path))
    val partitioned = wantPartition && staged.columns.contains(PartitionCol)
    val fs = fileSystem(spark, path)
    val target = new Path(path)
    val tmp = new Path(path + ".staging")
    val old = new Path(path + ".old")
    write(staged, tmp.toString, partitioned)
    if (fs.exists(old)) fs.delete(old, true)
    move(fs, target, old)
    if (!fs.rename(tmp, target)) {
      fs.rename(old, target) // roll the live store back before failing
      throw new java.io.IOException(
        s"vector store swap: rename $tmp -> $target failed; previous store restored")
    }
    fs.delete(old, true)
  }
}
