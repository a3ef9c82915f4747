package graft.sources

import graft.Json
import org.apache.spark.sql.{DataFrame, GraftPlanApi, SparkSession, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** STREAMING SOURCE over an external ICEBERG table — completing the
  * interop matrix (read + stream × Delta/Iceberg, export → both):
  *
  * {{{ spark.readStream.format("graft-iceberg").load(path) }}}
  *
  * OFFSETS ARE SNAPSHOT IDENTITIES, not positions: each offset records
  * the snapshot-id it stood on plus that snapshot's MANIFEST LIST
  * (position rides along as a diagnostic). Positional offsets silently
  * re-mapped under routine snapshot EXPIRY — an external writer
  * dropping old `snapshots` entries shifts list indices (the r10
  * ADVICE finding). Id-keyed offsets resolve by identity, and because
  * the manifest names travel IN the checkpoint, the batch diff needs
  * no lookup of the start snapshot at all — expiry of ANY already-
  * consumed snapshot is harmless, including across restarts (the v1
  * Source contract replays the last committed batch on recovery). A
  * pre-r11 positional checkpoint, or an id-only offset whose snapshot
  * expired, dies LOUDLY with the resync instruction. The other
  * divergences keep their loud contract: a newer snapshot whose list
  * DROPPED one of the start offset's manifests (compaction rewrote
  * history), a manifest with DELETED-status entries, or delete files
  * appearing in the window are not appends and the stream dies rather
  * than mis-serve. The FIRST batch, though, is the pinned snapshot
  * MERGE-ON-READ (r13): position/equality deletes and v3 deletion
  * vectors present AT START apply through [[IcebergRead.read]] — only
  * the data scan flips streaming, the bounded delete sides stay
  * static — so streams can start from real MoR tables; only deletes
  * arriving AFTER the start offset kill the stream.
  *
  * `option("startingSnapshotId", id)` resumes strictly AFTER a known
  * snapshot (by identity — the delta source's startingVersion face):
  * no initial full-snapshot batch, just the increments since `id`.
  *
  * RATE LIMITING (`option("maxManifestsPerTrigger", n)`): incremental
  * batches advance by whole snapshots whose cumulative new-manifest
  * count stays ≤ n (always ≥ 1 snapshot) — the bounded-backfill knob,
  * symmetric with `graft-delta`'s maxFilesPerTrigger, and like it the
  * cap holds ACROSS restarts (r13): consumed progress persists
  * commit-driven under the source's metadataPath ([[SourceProgress]])
  * and re-seeds at construction.
  *
  * Scale: per trigger one metadata JSON read; per batch O(new
  * manifests) Avro reads and a schema-pinned scan of exactly the added
  * files (Iceberg data files carry all columns — no value injection).
  */
class IcebergSourceProvider extends StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-iceberg"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.map { case (k, v) => k.toLowerCase -> v }.getOrElse("path",
      throw new IllegalArgumentException("graft-iceberg requires a 'path' option"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(IcebergRead.schemaOf(
      IcebergRead.currentMetadata(sqlContext.sparkSession, pathOf(parameters)))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    if (params.contains("startingsnapshotid") && params.contains("startingtimestamp"))
      throw new IllegalArgumentException(
        "graft-iceberg accepts startingSnapshotId OR startingTimestamp, not both")
    // startingTimestamp = every change stamped AT or AFTER it: resolve
    // through the snapshot-log to the last snapshot strictly before
    // (strictly-after resume semantics); a timestamp predating the log
    // serves the full first-batch snapshot, which IS everything
    val startId = params.get("startingsnapshotid").map(_.toLong)
      .orElse(params.get("startingtimestamp").map(_.toLong).flatMap { ts =>
        try Some(IcebergRead.snapshotAtTimestamp(
          sqlContext.sparkSession, pathOf(parameters), ts - 1))
        catch {
          case e: IllegalArgumentException if e.getMessage.contains("predates") =>
            None
        }
      })
    new IcebergStreamSource(sqlContext.sparkSession, pathOf(parameters),
      params.get("maxmanifestspertrigger").map(_.toInt),
      startId,
      metadataPath = Some(metadataPath))
  }
}

/** Offset = (snapshot-id, position-when-seen, the snapshot's manifest
  * list WITH the list-level sequence numbers). Identity is the id; the
  * manifests make the batch diff self-contained (no start-snapshot
  * lookup — expiry-proof); the position is a human-readable diagnostic
  * only. The `seqs` ride because v2 manifest ENTRIES normally store
  * NULL sequence_number and inherit the list entry's value — an
  * expired-snapshot reconstruction that lost the list would otherwise
  * drop every inherited seq to 0 and mis-order equality deletes
  * against data files (the r13 ADVICE finding). Size is O(manifests
  * of one snapshot) — the same planning metadata Iceberg itself holds
  * per scan. */
private[sources] final case class IcebergOffset(sid: Long, pos: Long,
    manifests: Seq[String],
    seqs: Seq[Option[Long]] = Seq.empty) extends Offset {
  override def json: String = {
    val m = Json.mapper.createObjectNode()
    m.put("sid", sid)
    m.put("pos", pos)
    val arr = m.putArray("manifests")
    manifests.foreach(arr.add)
    if (seqs.nonEmpty) {
      val sa = m.putArray("seqs")
      seqs.foreach {
        case Some(s) => sa.add(s): Unit
        case None => sa.addNull(): Unit
      }
    }
    Json.mapper.writeValueAsString(m)
  }
}

private[sources] object IcebergOffset {
  def parse(j: String, where: String): IcebergOffset = {
    val t = j.trim
    if (t.nonEmpty && (t.head.isDigit || t.head == '-'))
      throw new IllegalStateException(
        s"checkpointed offset '$t' for $where is positional (a pre-r11 " +
          "checkpoint); positions shift under snapshot expiry — restart the " +
          "stream from a fresh checkpoint")
    val node = Json.mapper.readTree(t)
    val ms = Option(node.get("manifests")).map(a =>
      (0 until a.size()).map(a.get(_).asText())).getOrElse(Seq.empty)
    // pre-r14 checkpoints carry no seqs — reconstruction then treats
    // any inherited-seq shape as unrecoverable (loud, never guessed)
    val ss = Option(node.get("seqs")).map(a =>
      (0 until a.size()).map(i =>
        if (a.get(i).isNull) None else Some(a.get(i).asLong()))).getOrElse(Seq.empty)
    IcebergOffset(node.get("sid").asLong(), node.get("pos").asLong(), ms, ss)
  }
}

final class IcebergStreamSource(spark: SparkSession, path: String,
    maxManifestsPerTrigger: Option[Int] = None,
    startingSnapshotId: Option[Long] = None,
    metadataPath: Option[String] = None) extends Source {

  override val schema: StructType =
    IcebergRead.schemaOf(IcebergRead.currentMetadata(spark, path))

  /** `startingSnapshotId` resumes strictly AFTER a known snapshot (the
    * delta source's startingVersion, by identity): resolved and PINNED
    * at source creation — the snapshot must still be in the list here
    * (loud otherwise), after which its manifest names ride in this
    * offset and survive its expiry like any checkpointed offset. */
  private val startingOffset: Option[IcebergOffset] = startingSnapshotId.map { sid =>
    val meta = IcebergRead.currentMetadata(spark, path)
    val snaps = IcebergRead.snapshotList(spark, path, meta)
    val i = snaps.indexWhere(_._1 == sid)
    if (i < 0) throw new IllegalArgumentException(
      s"startingSnapshotId $sid is not in the snapshot list at $path " +
        "(expired or never committed); start from a live snapshot")
    val ms = IcebergRead.manifestsWithSeq(spark, path, snaps(i)._2)
    IcebergOffset(sid, (i + 1).toLong, ms.map(_._1.toString), ms.map(_._2))
  }

  /** Consumed progress for the RATE LIMIT (re-seeded by every planned
    * batch, including the recovery replay) — and across RESTARTS from
    * the commit-driven [[SourceProgress]] record, which beats the
    * pinned starting offset when present (it is always newer). */
  @volatile private var consumed: Option[IcebergOffset] =
    metadataPath.flatMap(SourceProgress.read(spark, _))
      .map(IcebergOffset.parse(_, path)).orElse(startingOffset)

  /** maxManifestsPerTrigger: advance by whole SNAPSHOTS whose
    * cumulative new-manifest count (vs the consumed offset) stays ≤
    * the limit — at least one snapshot always advances, and the first
    * batch (the full pinned snapshot) is never split. Planning cost is
    * O(snapshots ahead) manifest-list reads per trigger, the backfill
    * price of bounded batches. */
  override def getOffset: Option[Offset] = {
    val meta = IcebergRead.currentMetadata(spark, path)
    val snaps = IcebergRead.snapshotList(spark, path, meta)
    val curId = Option(meta.get("current-snapshot-id")).map(_.asLong())
    val full = curId.flatMap(id => snaps.indexWhere(_._1 == id) match {
      case -1 => None
      case i =>
        val ms = IcebergRead.manifestsWithSeq(spark, path, snaps(i)._2)
        Some(IcebergOffset(id, (i + 1).toLong,
          ms.map(_._1.toString), ms.map(_._2)))
    })
    (maxManifestsPerTrigger, consumed, full) match {
      case (Some(k), Some(c), Some(f)) if f.sid != c.sid =>
        val idx = snaps.indexWhere(_._1 == c.sid)
        if (idx < 0) Some(f) // consumed snapshot expired: serve the rest whole
        else {
          val base = c.manifests.toSet
          var chosen: Option[IcebergOffset] = None
          var i = idx + 1
          var stop = false
          while (i < snaps.size && !stop) {
            val ms = IcebergRead.manifestsWithSeq(spark, path, snaps(i)._2)
            val newCount = ms.count(m => !base(m._1.toString))
            if (chosen.nonEmpty && newCount > k) stop = true
            else {
              chosen = Some(IcebergOffset(snaps(i)._1, (i + 1).toLong,
                ms.map(_._1.toString), ms.map(_._2)))
              if (newCount >= k) stop = true
              i += 1
            }
          }
          chosen.orElse(Some(f))
        }
      case _ => full
    }
  }

  private def toOff(o: Offset): IcebergOffset = o match {
    case io: IcebergOffset => io
    case s: SerializedOffset => IcebergOffset.parse(s.json, path)
    case other => IcebergOffset.parse(other.json(), path)
  }

  /** An offset's manifest names: from the offset itself when recorded
    * (expiry-proof), else by snapshot-id lookup — loud when that
    * snapshot expired (an id-only offset has no diff basis left). */
  private def manifestsOf(snaps: Seq[(Long, org.apache.hadoop.fs.Path)],
      off: IcebergOffset): Seq[String] =
    if (off.manifests.nonEmpty) off.manifests
    else snaps.find(_._1 == off.sid) match {
      case Some((_, list)) =>
        IcebergRead.manifestsOf(spark, path, list).map(_.toString)
      case None => throw new IllegalStateException(
        s"snapshot ${off.sid} (offset position ${off.pos}) is no longer in " +
          s"the snapshot list at $path and the offset carries no manifest " +
          "names — it was expired/rewritten by the external writer; " +
          "resync from a fresh checkpoint")
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val meta = IcebergRead.currentMetadata(spark, path)
    val snaps = IcebergRead.snapshotList(spark, path, meta)
    val endOff = toOff(end)
    consumed = Some(endOff) // rate-limit progress (recovery replays land here)
    def files(p: String) = IcebergRead.resolve(path, p).toString
    start.map(toOff).orElse(startingOffset) match {
      case None =>
        // first batch: the snapshot PINNED at the starting offset,
        // MERGE-ON-READ (r13 — position/equality deletes and v3 DVs
        // apply; liveFiles refused every real MoR table). Only the
        // DATA scan flips streaming: the bounded delete sides stay
        // static so the anti-joins plan stream-static.
        //
        // RECOVERY REPLAY AFTER EXPIRY (r13 maintenance interplay): the
        // v1 contract replays the last committed batch on restart; when
        // that batch was this initial snapshot and an expireSnapshots
        // has since dropped it from the list, the offset's RECORDED
        // manifest names reconstruct the pinned entry set — identity
        // lookups must never be the only path, or routine history
        // expiry strands every checkpoint still standing on its first
        // batch. The recorded list-level sequence numbers (r14) keep
        // even inherited-seq shapes — equality deletes ordered by the
        // strictly-older rule — reconstructable; only a pre-r14 offset
        // that lost them dies loud.
        val live =
          if (snaps.exists(_._1 == endOff.sid))
            IcebergRead.liveEntries(spark, path, meta, Some(endOff.sid))
          else if (endOff.manifests.nonEmpty) {
            if (endOff.seqs.size == endOff.manifests.size)
              // r14: the offset recorded each manifest's LIST-level
              // sequence number, so null-seq ADDED entries inherit
              // exactly as a live read would — equality deletes in an
              // expired snapshot reconstruct correctly ordered
              endOff.manifests.zip(endOff.seqs).flatMap { case (m, listSeq) =>
                IcebergRead.entriesOf(spark, IcebergRead.resolve(path, m), listSeq)
              }.filter(_.status != 2)
            else {
              // pre-r14 offset (no seqs recorded): any entry resolving
              // to seq 0 on a v2+ table is an inherited value we cannot
              // reconstruct — and not just equality deletes: a DATA
              // file dropped to seq 0 looks older than every delete and
              // would over-delete — loud, never guessed
              val fv = Option(meta.get("format-version")).map(_.asInt()).getOrElse(1)
              val entries = endOff.manifests.flatMap { m =>
                IcebergRead.entriesOf(spark, IcebergRead.resolve(path, m))
              }.filter(_.status != 2)
              if (fv >= 2 && entries.exists(_.content != 0) &&
                  entries.exists(_.seq == 0L))
                throw new IllegalStateException(
                  s"snapshot ${endOff.sid} of $path expired and its recorded " +
                    "manifests carry entries whose sequence numbers were " +
                    "inherited from the (now expired) manifest list — " +
                    "equality deletes / merge-on-read ordering is " +
                    "unreconstructable from this pre-r14 offset; resync " +
                    "from a fresh checkpoint")
              entries
            }
          } else throw new IllegalStateException(
            s"snapshot ${endOff.sid} is no longer in the snapshot list at " +
              s"$path and the offset carries no manifest names — expired by " +
              "the external writer; resync from a fresh checkpoint")
        if (!live.exists(_.content == 0)) emptyBatch()
        else {
          // the data scan's FileIndex roots at the TABLE path when the
          // manifests carry file sizes (the log-backed index) and at
          // the file paths on the listing fallback — mark both; the
          // delete-side scans root at their own file paths and stay
          // static either way
          val dataRoots = live.filter(_.content == 0)
            .map(e => new org.apache.hadoop.fs.Path(files(e.path)).toString).toSet +
            new org.apache.hadoop.fs.Path(path).toString
          GraftPlanApi.markFileRelationsStreaming(
            IcebergRead.readEntries(spark, path, meta, live), dataRoots)
        }
      case Some(sinceOff) =>
        val before = manifestsOf(snaps, sinceOff)
        val after = manifestsOf(snaps, endOff)
        val dropped = before.filterNot(after.toSet)
        if (dropped.nonEmpty) throw new IllegalStateException(
          s"iceberg table at $path dropped manifest(s) ${dropped.mkString(", ")} " +
            "since the last offset (compaction/expiry rewrote history); " +
            "resync from a fresh snapshot")
        val added = after.filterNot(before.toSet).flatMap { mName =>
          val mp = IcebergRead.resolve(path, mName)
          IcebergRead.entriesOf(spark, mp).map { e =>
            if (e.status == 2) throw new IllegalStateException(
              s"iceberg manifest $mp deletes files; the append-only stream " +
                "cannot represent deletions — resync from a fresh snapshot")
            if (e.content != 0) throw new IllegalStateException(
              s"iceberg manifest $mp added DELETE files (content=${e.content}); " +
                "the append-only stream cannot represent row deletions — " +
                "resync from a fresh snapshot")
            e.path
          }
        }
        if (added.isEmpty) emptyBatch()
        else GraftPlanApi.markFileRelationsStreaming(
          // default-aware (r14 review): a v3 initial-default table's
          // incremental batch must serve the SAME values a batch read
          // of those files would — the fill's broadcast side stays
          // static, so the join plans stream-static
          IcebergRead.scanFilesWithDefaults(spark, path, meta,
            added.map(files)))
    }
  }

  private def emptyBatch(): DataFrame =
    GraftPlanApi.streamingDataFrame(spark,
      spark.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow], schema)

  override def commit(end: Offset): Unit =
    if (maxManifestsPerTrigger.nonEmpty)
      metadataPath.foreach(SourceProgress.write(spark, _, toOff(end).json))
  override def stop(): Unit = ()
  override def toString: String = s"IcebergStreamSource[$path]"
}
