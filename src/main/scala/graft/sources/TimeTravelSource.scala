package graft.sources

import org.apache.spark.sql.{DataFrame, GraftPlanApi, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.types.{StringType, StructType}

/** STREAMING SOURCE face of the versioned table — `readStream FROM the
  * table`, the consumer half the sink face ([[TimeTravel.appendOnce]],
  * [[graft.streaming.TableStreams]]) has always needed hand-wired
  * foreachBatch polling for:
  *
  * {{{
  * spark.readStream.format("graft-table").load(path)             // appends
  * spark.readStream.format("graft-table")
  *   .option("streamMode", "cdf").option("key", "k").load(path)  // updates
  * }}}
  *
  * OFFSETS ARE VERSIONS: the table's commit log is already a totally
  * ordered, replayable progress domain, so a micro-batch is exactly
  * the manifest diff between two versions — the same identification
  * Delta's streaming source makes. Concretely:
  *
  *   - `getOffset` = the latest committed version (one driver-side
  *     listing — no data touched);
  *   - the FIRST batch is the full snapshot at the stream's starting
  *     offset (or, with `startingVersion` = v, only the appends after
  *     v — the catch-up-from-a-checkpoint shape);
  *   - every later batch reads exactly the data directories the newer
  *     manifests ADDED ([[TimeTravel.appendedDirsSince]]) — O(new
  *     data) per batch, never a rescan of history;
  *   - replay is idempotent for free: offsets are durable version
  *     numbers, so a restarted query re-reads the same immutable
  *     directories for the same (start, end] and nothing else.
  *
  * DIVERGENCE FAILS LOUDLY: if a commit in (start, end] was not a pure
  * append — an overwrite/rollback dropped directories, or a
  * merge-on-read delete changed the deletion vectors — the directory
  * diff is NOT the row delta, and the batch throws with the resync
  * instruction instead of silently double-counting or missing
  * deletions. Row-level churn is what `streamMode=cdf` is for: each
  * batch is then [[TimeTravel.changeFeed]] between the offsets —
  * insert/delete/update_preimage/update_postimage rows keyed on
  * `key` — the update-mode face for tables that rewrite.
  *
  * This is deliberately a V1 `Source`: `getBatch` returns a DataFrame,
  * so the batch parquet stack (vectorized reader, pushdown, pruning,
  * the DV anti-join) is REUSED under the stream by flipping
  * `isStreaming` on the resolved file relations — the same move
  * `FileStreamSource` makes, and years of Delta's own streaming source
  * ran on exactly this face. A DSv2 MicroBatchStream would force a
  * hand-rolled row reader and lose the scan stack.
  *
  * Scale: planning per batch is O(commits) driver-side manifest reads;
  * data cost is O(appended rows). A 1000-executor job consuming a
  * 100 TB table's new commits reads only the new directories.
  */
final class TimeTravelSource(spark: SparkSession, path: String,
    params: Map[String, String]) extends Source {

  private val mode: String = params.getOrElse("streammode", "appends")
  require(mode == "appends" || mode == "cdf",
    s"graft-table streamMode must be 'appends' or 'cdf', got: $mode")

  private val cdfKey: Option[String] = params.get("key")
  require(mode != "cdf" || cdfKey.nonEmpty,
    "graft-table streamMode=cdf requires a 'key' option (unique per snapshot)")

  /** Appends-mode only: consume strictly AFTER this version (the
    * resume-from-a-known-watermark shape); absent = first batch is the
    * full starting snapshot. */
  private val startingVersion: Option[Long] =
    params.get("startingversion").map(_.toLong)

  /** Schema pinned at source creation — a stream's schema is fixed for
    * its lifetime; later wide appends surface their new columns only
    * to a NEW stream (restart to pick them up), missing columns in old
    * directories read as null via the pinned-schema scan. */
  private val dataSchema: StructType = TimeTravel.read(spark, path).schema

  override val schema: StructType =
    if (mode == "appends") dataSchema
    else new StructType(dataSchema.fields).add("_change_type", StringType)

  override def getOffset: Option[Offset] =
    TimeTravel.versions(spark, path).lastOption.map(LongOffset(_))

  private def toVersion(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json().trim.toLong
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = toVersion(end)
    mode match {
      case "appends" =>
        // a column-mapped snapshot can't stream through the pinned
        // physical-schema scan — a rename mid-stream must kill the
        // query loudly, not serve nulls (cdf mode reads logically and
        // keeps working)
        TimeTravel.requireUnmapped(spark, path, endV, "graft-table appends stream")
        start.map(toVersion).orElse(startingVersion) match {
          case Some(sinceV) =>
            val added = TimeTravel.appendedDirsSince(spark, path, sinceV, endV)
            if (added.isEmpty) emptyStreaming(schema)
            else GraftPlanApi.markFileRelationsStreaming(
              spark.read.schema(dataSchema).parquet(added.map(d => s"$path/$d"): _*))
          case None => snapshotAt(endV)
        }
      case "cdf" =>
        val fromV = start.map(toVersion).orElse(startingVersion).getOrElse(
          TimeTravel.versions(spark, path).headOption.getOrElse(
            throw new IllegalArgumentException(s"no versions at $path")))
        val feed = TimeTravel.changeFeed(spark, path, cdfKey.get, fromV, endV)
          .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
        // the feed's full-outer self-join can't host the streaming flag
        // in-plan; its (lazy, distributed) row RDD streams instead
        GraftPlanApi.streamingDataFrame(spark,
          feed.queryExecution.toRdd, feed.schema)
    }
  }

  /** The stream's first batch without `startingVersion`: the whole
    * snapshot at the starting offset. Pending deletion vectors apply
    * as a stream-static anti-join (data side streaming, DV side
    * batch). */
  private def snapshotAt(v: Long): DataFrame = {
    val dirs = TimeTravel.listing(spark, path, v)
    TimeTravel.applyDvs(spark, path, GraftPlanApi.markFileRelationsStreaming(
      spark.read.schema(dataSchema).parquet(dirs.map(d => s"$path/$d"): _*)),
      TimeTravel.dvListing(spark, path, v))
  }

  private def emptyStreaming(s: StructType): DataFrame =
    GraftPlanApi.streamingDataFrame(spark,
      spark.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow], s)

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()

  override def toString: String = s"TimeTravelSource[$path, mode=$mode]"
}
