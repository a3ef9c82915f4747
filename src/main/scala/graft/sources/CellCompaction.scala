package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.col

/** Small-file compaction for the cell-partitioned index layouts
  * ([[MinHashIndex]], [[InvertedIndex]], [[TrigramIndex]] all share the
  * `cell=XX/part-*.parquet` contract): incremental appends land one
  * file set per append beside the existing cell files, and at 100 TB
  * the FILE COUNT — not the byte count — becomes the probe scheduler's
  * bottleneck (every probe lists its cells; a thousand appends = a
  * thousand files per cell). This is the index-side sibling of
  * [[TimeTravel.optimize]] (which [[VectorStore.compact]] runs): pure layout
  * maintenance, row set unchanged, probe ≡ pre-compaction probe
  * (asserted in IndexSpec).
  *
  * Mechanics: cells whose file count exceeds what their byte size
  * needs (ceil(bytes / targetBytes)) are rewritten — staged to a
  * sibling directory first (Spark refuses to overwrite a path it is
  * reading), then published by PER-CELL directory swap ([[swapIn]]);
  * right-sized cells are never touched or read, and the staged bytes
  * are never re-shuffled through a second write.
  * Driver work is O(cells) listing (bounded by each family's layout:
  * ≤256 dirs); row data never visits the driver. Oversized cells split
  * on a rows-per-file bound derived from the slice's observed
  * bytes/row, so one hot cell still produces scan-sized files.
  *
  * Single-writer contract (same as every sidecar in these layouts):
  * run compaction from the maintenance job, not concurrently with an
  * append — and not concurrently with PROBES either: the per-cell
  * publish is two renames (park live, move staged in), and a probe
  * listing the cell in the instant between them would see it missing
  * and silently return a partial result. Quiesce readers for the
  * compaction window — unlike [[VectorStore.compact]], whose one
  * manifest rename keeps readers on a whole snapshot.
  */
object CellCompaction {

  /** The index layouts' one park-and-swap, and the only place in
    * `src/main` that replaces a path through sibling dirs (table
    * commits publish through [[TimeTravel]]'s manifest instead).
    * `write` stages the new bytes into `<live>.compact-staging`; then
    * each of `live`'s `children` (the whole of `live` when Nil) is
    * parked in `<live>.compact-old`, its staged copy renamed in, and
    * the parked copy renamed back if that fails. The parked and staging
    * dirs are deleted at the end. A reader listing a swapped dir between
    * its two renames sees it missing: callers document that window. */
  private[sources] def swapIn(fs: FileSystem, live: Path, children: Seq[String] = Nil)(
      write: Path => Unit): Unit = {
    val staging = new Path(s"$live.compact-staging")
    val parked = new Path(s"$live.compact-old")
    Seq(staging, parked).foreach(p => if (fs.exists(p)) fs.delete(p, true))
    write(staging)
    val moves =
      if (children.isEmpty) Seq((staging, live, parked))
      else {
        fs.mkdirs(parked)
        children.map(c => (new Path(staging, c), new Path(live, c), new Path(parked, c)))
      }
    moves.foreach { case (staged, dst, old) =>
      if (!fs.rename(dst, old))
        throw new java.io.IOException(s"compact: park $dst failed")
      if (!fs.rename(staged, dst)) {
        fs.rename(old, dst) // roll the live dir back before failing
        throw new java.io.IOException(s"compact: publish $dst failed")
      }
    }
    fs.delete(parked, true)
    fs.delete(staging, true)
  }

  /** Compact oversized cells under `path`; returns the compacted cell
    * values (empty = layout already right-sized, nothing touched). */
  def compact(spark: SparkSession, path: String, cellCol: String = "cell",
      targetBytes: Long = 128L * 1024 * 1024): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val oversized = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$cellCol="))
      .flatMap { st =>
        val files = fs.listStatus(st.getPath).toSeq.filter(f =>
          f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
        val bytes = files.map(_.getLen).sum
        val want = math.max(1L, (bytes + targetBytes - 1) / targetBytes)
        if (files.length > want)
          Some((ExternalCatalogUtils.unescapePathName(
            st.getPath.getName.stripPrefix(s"$cellCol=")), bytes, files.map(_.getPath)))
        else None
      }
    if (oversized.isEmpty) return Nil
    val values = oversized.map(_._1)
    val slice = spark.read.parquet(path)
      .filter(col(cellCol).isin(values: _*)) // static partition pruning
    // r16 (guide §6): the rows-per-file bound needs only the slice's ROW
    // COUNT — read it from the parquet footers already listed above
    // (O(oversized files) driver-side metadata, bounded by the ≤256-cell
    // layout) instead of paying a full count() scan of the slice before
    // the rewrite. Footer row counts are exact, so the bound — and the
    // written layout — is byte-identical to the count() path.
    val conf = spark.sessionState.newHadoopConf()
    def footerRows(p: Path): Long = {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
      scala.util.Using.resource(
        org.apache.parquet.hadoop.ParquetFileReader.open(in))(_.getRecordCount)
    }
    // footer reads are IO-bound: fan the per-cell sums out on driver
    // threads (ParallelJobs) so hundreds of small footers don't serialize
    val rows = ParallelJobs.awaitAll(
      oversized.map(o => () => o._3.map(footerRows).sum)).sum
    val bytes = math.max(1L, oversized.map(_._2).sum)
    val rowsPerFile = math.max(1L, rows * targetBytes / bytes)
    // publish by PER-CELL DIRECTORY SWAP — the bytes are written
    // right-sized into staging, so re-reading and re-shuffling them
    // through a second Spark write (dynamic overwrite) would double the
    // I/O of what is pure layout maintenance
    swapIn(fs, root, values.map(v => s"$cellCol=${ExternalCatalogUtils.escapePathName(v)}")) {
      staging =>
        slice.repartition(col(cellCol))
          .write.option("maxRecordsPerFile", rowsPerFile)
          .partitionBy(cellCol).parquet(staging.toString)
    }
    values
  }
}
