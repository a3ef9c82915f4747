package graft.sources

import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Read-only APACHE ICEBERG interop — the second lakehouse format the
  * engine queries IN PLACE (the Delta face is [[DeltaRead]]): replay
  * the public table spec's metadata chain to the current snapshot's
  * live file list and scan it.
  *
  *   - `metadata/version-hint.text` (or the highest
  *     `v*.metadata.json`) names the current table metadata; its
  *     `current-snapshot-id` picks the snapshot, whose
  *     `manifest-list` is an Avro file of manifest descriptors;
  *   - each manifest is an Avro file of `manifest_entry` records:
  *     `status` 0 (EXISTING) / 1 (ADDED) keep the entry's
  *     `data_file`, 2 (DELETED) drops it — BOTH removal shapes
  *     (deleted-status entries and manifests omitted from a newer
  *     snapshot's list) resolve to the same live set;
  *   - Iceberg data files carry ALL columns (partition values are
  *     duplicated into the rows, unlike Delta/Hive layouts), so the
  *     scan is one schema-pinned parquet read of the live files —
  *     pushdown and pruning intact, no value injection;
  *   - the table schema maps from the metadata JSON's field list
  *     (current-schema-id honored); v2 merge-on-read serves BOTH
  *     delete shapes (position deletes by (file, pos); equality
  *     deletes by field-id columns with sequence-number ordering);
  *     features this reader cannot honor decline LOUDLY with the
  *     feature named: format-version > 2 and field types outside the
  *     interchange set.
  *
  * Scale: the metadata chain is driver-side O(manifest entries) —
  * exactly the planning cost Iceberg itself pays; manifests read
  * through avro-core ([[AvroIo]]'s dependency stance: the container
  * format, not the spark-avro module).
  */
object IcebergRead {


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

  /** Every record of an Avro container, decoded generically on the
    * driver (manifest metadata is bounded, never row data). */
  private def avroRecords(spark: SparkSession, p: Path): Seq[GenericRecord] = {
    val in = new FsInput(p, spark.sessionState.newHadoopConf())
    val rdr = DataFileReader.openReader(in, new GenericDatumReader[GenericRecord]())
    try {
      val out = Seq.newBuilder[GenericRecord]
      while (rdr.hasNext) out += rdr.next()
      out.result()
    } finally rdr.close()
  }

  /** Paths inside metadata may be absolute URIs (the spec's usual
    * shape) or table-relative; resolve both. */
  private[sources] def resolve(tablePath: String, p: String): Path = {
    val hp = new Path(p)
    if (hp.isAbsolute || hp.toUri.getScheme != null) hp
    else new Path(s"$tablePath/$p")
  }

  /** The current metadata JSON for the table. Visible through the
    * graft package so query evidence and tests resolve metadata by the
    * SAME hint/numeric-max rule the engine does (r15 review: three
    * hand-rolled copies had appeared). */
  private[graft] def currentMetadata(spark: SparkSession, tablePath: String): JsonNode = {
    val metaDir = s"$tablePath/metadata"
    val f = fs(spark, tablePath)
    if (!f.exists(new Path(metaDir)))
      throw new IllegalArgumentException(s"no metadata directory at $tablePath")
    val hint = new Path(metaDir, "version-hint.text")
    val metaFile =
      if (f.exists(hint)) new Path(metaDir, s"v${readText(spark, hint).trim}.metadata.json")
      else {
        val cands = f.listStatus(new Path(metaDir)).toSeq
          .map(_.getPath.getName).filter(_.endsWith(".metadata.json"))
        if (cands.isEmpty) throw new IllegalArgumentException(
          s"no *.metadata.json under $metaDir")
        // the current file is the NUMERICALLY max version: Hadoop-catalog
        // names are unpadded (`v10` sorts before `v9` lexicographically),
        // object-store names lead with a zero-padded sequence — extract
        // the first digit run and compare as numbers, names as tiebreak
        val numbered = cands.map { n =>
          ("""\d+""".r.findFirstIn(n).map(_.toLong).getOrElse(-1L), n)
        }
        new Path(metaDir, numbered.max._2)
      }
    Json.mapper.readTree(readText(spark, metaFile))
  }

  /** Iceberg primitive type name → Spark type (the interchange set;
    * anything else declines loudly). */
  private val DecimalRe = """decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)""".r

  private def sparkType(t: String): DataType = t match {
    case "long" => LongType
    case "int" => IntegerType
    case "double" => DoubleType
    case "float" => FloatType
    case "boolean" => BooleanType
    case "string" => StringType
    case "date" => DateType
    // the spec's `timestamp` is ZONELESS (stores unadjusted local
    // micros) — Spark 4's native TimestampNTZType, not an instant;
    // only `timestamptz` is the UTC-adjusted instant (r13 verdict #1)
    case "timestamp" => TimestampNTZType
    case "timestamptz" => TimestampType
    // v3 variant — Spark 4 carries the type natively and the parquet
    // encoding is the shared Variant spec (r14); geo types still
    // decline in [[requireFormatVersion]]
    case "variant" => VariantType
    case DecimalRe(p, s) => DecimalType(p.toInt, s.toInt)
    case other => throw new UnsupportedOperationException(
      s"iceberg field type '$other' is outside this reader's interchange set")
  }

  private[sources] def schemaOf(meta: JsonNode): StructType = {
    val schemaNode = Option(meta.get("schemas")).map { arr =>
      val want = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
      (0 until arr.size()).map(arr.get)
        .find(s => s.get("schema-id").asInt() == want)
        .getOrElse(throw new IllegalStateException(
          s"current-schema-id $want not present in schemas"))
    }.orElse(Option(meta.get("schema"))).getOrElse(
      throw new IllegalStateException("iceberg metadata carries no schema"))
    val fields = schemaNode.get("fields")
    StructType((0 until fields.size()).map { i =>
      val fld = fields.get(i)
      StructField(fld.get("name").asText(),
        sparkType(fld.get("type").asText()),
        nullable = !fld.get("required").asBoolean(false))
    })
  }

  /** Decline format versions BY SPECIFIC FEATURE (the Delta gate's
    * style): a format-version-3 table that uses no v3 feature reads
    * like a v2 table (the spec keeps v2 structures valid in v3), so
    * only the features actually IN USE decline — field defaults and
    * geo types change DECODED VALUES and are metadata-visible
    * here (v3 VARIANT columns now READ, r14 — Spark 4 speaks the shared
    * Variant parquet encoding natively; only geo types stay declined);
    * puffin deletion vectors are manifest-visible and READ
    * ([[entriesOf]] decodes their coordinates, [[read]] applies them
    * merge-on-read); ROW LINEAGE (`next-row-id`, mandatory on every
    * real v3 table) is TOLERATED — it assigns implicit row ids without
    * changing the visible row set, so a reader that exposes no
    * `_row_id` column safely ignores it (declining it would refuse
    * every real v3 table and make the DV support moot). Only
    * unpublished versions (4+) decline wholesale. */
  private def requireFormatVersion(tablePath: String, meta: JsonNode): Unit = {
    val fv = Option(meta.get("format-version")).map(_.asInt()).getOrElse(1)
    if (fv <= 2) return
    if (fv > 3) throw new UnsupportedOperationException(
      s"iceberg format-version $fv at $tablePath is beyond the published " +
        "spec this reader implements (1–3)")
    val inUse = Seq.newBuilder[String]
    val schemaFields = Option(meta.get("schemas")).map { arr =>
      (0 until arr.size()).map(arr.get).flatMap { s =>
        val f = s.get("fields"); (0 until f.size()).map(f.get)
      }
    }.getOrElse(Seq.empty)
    // `initial-default` is IMPLEMENTED (r14 — [[readEntries]] fills it
    // for files whose footer lacks the field); `write-default` binds
    // writers only, so a read-only engine tolerates it like row lineage
    if (schemaFields.exists(f => f.get("type").isTextual &&
        Set("geometry", "geography").contains(f.get("type").asText())))
      inUse += "geo types (geometry/geography)"
    if (inUse.result().nonEmpty) throw new UnsupportedOperationException(
      s"iceberg format-version 3 at $tablePath uses feature(s) this reader " +
        s"does not implement: ${inUse.result().mkString("; ")}")
  }

  /** The snapshot list in metadata order (the commit order real writers
    * append in): (snapshot-id, resolved manifest-list path). */
  private[sources] def snapshotList(spark: SparkSession, tablePath: String,
      meta: JsonNode): Seq[(Long, Path)] = {
    requireFormatVersion(tablePath, meta)
    val snaps = meta.get("snapshots")
    if (snaps == null) Seq.empty
    else (0 until snaps.size()).map { i =>
      val s = snaps.get(i)
      (s.get("snapshot-id").asLong(),
        resolve(tablePath, s.get("manifest-list").asText()))
    }
  }

  /** TIMESTAMP-based time travel (the `TIMESTAMP AS OF` rule): the id
    * of the LATEST snapshot whose `timestamp-ms` is ≤ `tsMillis`, per
    * the spec's `snapshot-log` (the history real writers maintain);
    * when the metadata carries no log, the snapshots' own
    * `timestamp-ms` fields serve. A timestamp before the first
    * recorded snapshot is loud (expired history cannot resolve it). */
  def snapshotAtTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): Long = {
    val meta = currentMetadata(spark, tablePath)
    def entriesOfNode(name: String, tsField: String, idField: String): Seq[(Long, Long)] =
      Option(meta.get(name)).map { arr =>
        (0 until arr.size()).map(arr.get).flatMap { n =>
          for {
            ts <- Option(n.get(tsField)).filterNot(_.isNull).map(_.asLong())
            id <- Option(n.get(idField)).filterNot(_.isNull).map(_.asLong())
          } yield (ts, id)
        }
      }.getOrElse(Seq.empty)
    val log = {
      val sl = entriesOfNode("snapshot-log", "timestamp-ms", "snapshot-id")
      if (sl.nonEmpty) sl
      else entriesOfNode("snapshots", "timestamp-ms", "snapshot-id")
    }
    if (log.isEmpty) throw new IllegalArgumentException(
      s"iceberg metadata at $tablePath records no snapshot timestamps — " +
        "timestamp travel needs a snapshot-log")
    val sorted = log.sortBy(_._1)
    sorted.takeWhile(_._1 <= tsMillis).lastOption.map(_._2).getOrElse(
      throw new IllegalArgumentException(
        s"timestamp $tsMillis predates the first recorded snapshot of " +
          s"$tablePath (${sorted.head._1}); earlier history is not resolvable"))
  }

  /** [[read]] pinned at the snapshot [[snapshotAtTimestamp]] names. */
  def readAsOfTimestamp(spark: SparkSession, tablePath: String,
      tsMillis: Long): DataFrame =
    read(spark, tablePath, Some(snapshotAtTimestamp(spark, tablePath, tsMillis)))

  /** NAMED REFS (branches/tags) from the table metadata's `refs` map:
    * name → (snapshot-id, type). A metadata without `refs` (pre-ref
    * writers) is an empty map, not an error. */
  private[sources] def refsOf(meta: JsonNode): Map[String, (Long, String)] =
    Option(meta.get("refs")).map { r =>
      val it = r.fields()
      val b = Map.newBuilder[String, (Long, String)]
      while (it.hasNext) {
        val e = it.next()
        b += e.getKey -> ((e.getValue.get("snapshot-id").asLong(),
          Option(e.getValue.get("type")).map(_.asText()).getOrElse("branch")))
      }
      b.result()
    }.getOrElse(Map.empty)

  /** [[read]] pinned to a NAMED REF — branch or tag (r14): the name
    * resolves through the metadata's `refs` map to its snapshot id;
    * an unknown name is loud and lists what exists. Reading a branch
    * reads its HEAD snapshot — identical to a snapshot-id read of the
    * ref's target, the spec's semantics. */
  def readRef(spark: SparkSession, tablePath: String, ref: String): DataFrame = {
    val meta = currentMetadata(spark, tablePath)
    val refs = refsOf(meta)
    val (sid, _) = refs.getOrElse(ref, throw new IllegalArgumentException(
      s"no ref '$ref' at $tablePath; known refs: " +
        (if (refs.isEmpty) "(none)" else refs.keys.toSeq.sorted.mkString(", "))))
    read(spark, tablePath, Some(sid))
  }

  /** The manifest paths a snapshot's list names, in list order. */
  private[sources] def manifestsOf(spark: SparkSession, tablePath: String,
      manifestList: Path): Seq[Path] =
    manifestsWithSeq(spark, tablePath, manifestList).map(_._1)

  /** Manifest paths PLUS each list entry's `sequence_number` (v2 field
    * 515; None on v1 lists, which predate sequence numbers). Real v2
    * writers store NULL sequence_number on ADDED manifest entries and
    * expect readers to inherit the list entry's value — dropping it to
    * 0 silently mis-orders equality deletes (every delete looks
    * no-newer than every data file), so the list-level number must
    * travel with the path. */
  private[sources] def manifestsWithSeq(spark: SparkSession, tablePath: String,
      manifestList: Path): Seq[(Path, Option[Long])] =
    manifestRefs(spark, tablePath, manifestList).map(r => (r._1, r._2))

  /** Manifest-list records decoded to (path, sequence number,
    * first_row_id) — the latter the v3 row-lineage base
    * [[entriesOf]]'s inheritance assigns from. */
  private def manifestRefs(spark: SparkSession, tablePath: String,
      manifestList: Path): Seq[(Path, Option[Long], Option[Long])] =
    avroRecords(spark, manifestList).map { r =>
      def optL(f: String): Option[Long] =
        if (r.getSchema.getField(f) == null) None
        else Option(r.get(f)).map(_.asInstanceOf[Number].longValue())
      (resolve(tablePath, String.valueOf(r.get("manifest_path"))),
        optL("sequence_number"), optL("first_row_id"))
    }

  /** One manifest entry, decoded: content 0 is data, 1 position
    * deletes, 2 equality deletes (both v2 merge-on-read shapes applied
    * at read). `seq` is the entry's data sequence number — explicit,
    * or INHERITED from the manifest-list entry when the manifest
    * stores null (the v2 spec's write shape for ADDED entries; real
    * writers rely on it). 0 only in the v1 world, where sequence
    * numbers don't exist. Equality deletes carry the field ids their
    * rows match on. A format-version-3 DELETION VECTOR is a content=1
    * entry whose `path` names a puffin file; `dv` carries its
    * (referenced data file, content_offset, content_size_in_bytes)
    * coordinates ([[Puffin.dvPositions]] serves the blob).
    * `sizeInBytes`/`recordCount` and the field-id-keyed
    * `lowerBounds`/`upperBounds`/`nullCounts` are the manifest's
    * per-file statistics — the metadata FILE SKIPPING plans with
    * ([[FileSkipping]]); all optional, absent on minimal fixtures. */
  final case class EntryInfo(status: Int, path: String,
      content: Int, seq: Long, equalityIds: Seq[Int],
      dv: Option[(String, Long, Long)] = None,
      sizeInBytes: Option[Long] = None,
      recordCount: Option[Long] = None,
      lowerBounds: Map[Int, Array[Byte]] = Map.empty,
      upperBounds: Map[Int, Array[Byte]] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      firstRowId: Option[Long] = None,
      partition: Map[String, AnyRef] = Map.empty)

  private[sources] def entriesOf(spark: SparkSession, manifestPath: Path,
      inheritSeq: Option[Long] = None,
      inheritFirstRow: Option[Long] = None): Seq[EntryInfo] = {
    // v3 row-lineage inheritance (r15): a data entry with null
    // first_row_id is assigned manifest.first_row_id + the record
    // counts of the manifest's PRECEDING null-first-row data entries
    var rowAcc = 0L
    avroRecords(spark, manifestPath).map { e =>
      val status = e.get("status").asInstanceOf[Number].intValue()
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val content = Option(df.get("content"))
        .map(_.asInstanceOf[Number].intValue()).getOrElse(0)
      if (content > 2) throw new UnsupportedOperationException(
        s"iceberg content=$content in $manifestPath is outside the v2 spec")
      // v3 deletion vectors are manifest-visible: a content=1 entry in
      // puffin format carrying the (referenced_data_file,
      // content_offset, content_size_in_bytes) blob coordinates — all
      // three must travel together or the DV is unapplicable (loud)
      def optDf(field: String): Option[AnyRef] =
        if (df.getSchema.getField(field) == null) None else Option(df.get(field))
      val isPuffin = optDf("file_format")
        .exists(f => String.valueOf(f).equalsIgnoreCase("puffin"))
      val dv: Option[(String, Long, Long)] =
        if (isPuffin || (content == 1 &&
            (optDf("referenced_data_file").nonEmpty ||
              optDf("content_offset").nonEmpty))) {
          val coords = for {
            ref <- optDf("referenced_data_file")
            off <- optDf("content_offset")
            len <- optDf("content_size_in_bytes")
          } yield (String.valueOf(ref),
            off.asInstanceOf[Number].longValue(),
            len.asInstanceOf[Number].longValue())
          if (content != 1 || coords.isEmpty)
            throw new UnsupportedOperationException(
              s"iceberg manifest $manifestPath carries a puffin deletion-" +
                "vector entry without the full (referenced_data_file, " +
                "content_offset, content_size_in_bytes) coordinates — " +
                "the vector is unapplicable")
          coords
        } else None
      // by-name generic decode tolerates absent OPTIONAL fields (old
      // fixtures / v1 manifests): probe the writer schema first —
      // GenericData.Record.get(name) throws on unknown fields
      def opt(r: GenericRecord, field: String): Option[AnyRef] =
        if (r.getSchema.getField(field) == null) None else Option(r.get(field))
      val seq = opt(e, "sequence_number")
        .map(_.asInstanceOf[Number].longValue()).getOrElse {
          inheritSeq match {
            // null + ADDED = inherit from the manifest list (v2 spec)
            case Some(listSeq) if status == 1 => listSeq
            // null on EXISTING/DELETED entries is a spec violation in
            // the v2 world — the original number is unrecoverable, and
            // guessing mis-orders equality deletes: loud, not 0
            case Some(_) => throw new IllegalStateException(
              s"iceberg manifest entry (status=$status) in $manifestPath " +
                "carries null sequence_number; only ADDED entries inherit " +
                "from the manifest list — the manifest is outside the v2 spec")
            // no list-level number either: a v1 manifest list, which
            // predates sequence numbers entirely (no equality deletes
            // can exist there) — 0 is the spec'd v1 reading
            case None => 0L
          }
        }
      val eqIds = opt(df, "equality_ids").map {
        case c: java.util.Collection[_] =>
          import scala.jdk.CollectionConverters._
          c.asScala.toSeq.map(_.asInstanceOf[Number].intValue())
        case other => throw new IllegalStateException(
          s"equality_ids in $manifestPath is not an array: ${other.getClass}")
      }.getOrElse(Seq.empty)
      if (content == 2 && eqIds.isEmpty) throw new IllegalStateException(
        s"iceberg EQUALITY delete file in $manifestPath carries no " +
          "equality_ids — the delete is unapplicable")
      // per-file statistics (all optional): the spec encodes the
      // field-id-keyed maps as arrays of key/value records
      def optLong(field: String): Option[Long] =
        opt(df, field).map(_.asInstanceOf[Number].longValue())
      def kvPairs(field: String): Seq[(Int, AnyRef)] = opt(df, field).map {
        case c: java.util.Collection[_] =>
          import scala.jdk.CollectionConverters._
          c.asScala.toSeq.map { r0 =>
            val r = r0.asInstanceOf[GenericRecord]
            r.get("key").asInstanceOf[Number].intValue() -> r.get("value")
          }
        case m: java.util.Map[_, _] =>
          import scala.jdk.CollectionConverters._
          m.asScala.toSeq.map { case (k, v) =>
            String.valueOf(k).toInt -> v.asInstanceOf[AnyRef]
          }
        case other => throw new IllegalStateException(
          s"$field in $manifestPath is neither a k/v array nor a map: " +
            other.getClass)
      }.getOrElse(Seq.empty)
      def binOf(v: AnyRef): Array[Byte] = v match {
        case bb: java.nio.ByteBuffer =>
          val d = bb.duplicate(); val a = new Array[Byte](d.remaining()); d.get(a); a
        case ab: Array[Byte] => ab
        case other => throw new IllegalStateException(
          s"bounds value in $manifestPath is not binary: ${other.getClass}")
      }
      def binMap(field: String): Map[Int, Array[Byte]] =
        kvPairs(field).collect { case (k, v) if v != null => k -> binOf(v) }.toMap
      val firstRowId: Option[Long] =
        if (content != 0 || dv.nonEmpty) None
        else optLong("first_row_id").orElse(inheritFirstRow.map { base =>
          val rc = optLong("record_count").getOrElse(
            throw new IllegalStateException(
              s"data entry in $manifestPath carries neither first_row_id " +
                "nor record_count; v3 row-lineage inheritance needs one"))
          val assigned = base + rowAcc
          rowAcc += rc
          assigned
        })
      // the partition tuple, by spec field name — transform-aware
      // pruning (r15) evaluates pushed filters against these values
      val partition: Map[String, AnyRef] = optDf("partition") match {
        case Some(pr: GenericRecord) =>
          import scala.jdk.CollectionConverters._
          pr.getSchema.getFields.asScala
            .map(fld => fld.name() -> pr.get(fld.name()))
            .filter(_._2 != null).toMap
        case _ => Map.empty
      }
      EntryInfo(status, String.valueOf(df.get("file_path")), content, seq, eqIds, dv,
        sizeInBytes = optLong("file_size_in_bytes"),
        recordCount = optLong("record_count"),
        lowerBounds = binMap("lower_bounds"),
        upperBounds = binMap("upper_bounds"),
        nullCounts = kvPairs("null_value_counts").collect {
          case (k, v) if v != null => k -> v.asInstanceOf[Number].longValue()
        }.toMap,
        firstRowId = firstRowId,
        partition = partition)
    }
  }

  /** A snapshot's live entries (data + delete files), net of
    * DELETED-status entries (default: the current snapshot). */
  private[graft] def liveEntries(spark: SparkSession, tablePath: String,
      meta: JsonNode, snapshotId: Option[Long] = None): Seq[EntryInfo] = {
    requireFormatVersion(tablePath, meta) // even an empty table declines v3+
    val snapId = snapshotId.orElse(
      Option(meta.get("current-snapshot-id")).map(_.asLong())).getOrElse(
      throw new IllegalStateException(s"no current-snapshot-id at $tablePath"))
    if (snapId == -1) return Seq.empty // empty table sentinel
    val listPath = snapshotList(spark, tablePath, meta)
      .find(_._1 == snapId).map(_._2)
      .getOrElse(throw new IllegalStateException(
        s"snapshot $snapId not in snapshot list at $tablePath"))
    manifestRefs(spark, tablePath, listPath)
      .flatMap { case (mp, listSeq, listFr) =>
        entriesOf(spark, mp, listSeq, listFr)
      }
      .filter(_.status != 2)
  }

  /** A snapshot's live data files (delete-free tables; callers that
    * can't host merge-on-read use this and fail loudly otherwise). */
  private[sources] def liveFiles(spark: SparkSession, tablePath: String,
      meta: JsonNode, snapshotId: Option[Long] = None): Seq[String] = {
    val live = liveEntries(spark, tablePath, meta, snapshotId)
    if (live.exists(_.content != 0)) throw new UnsupportedOperationException(
      s"iceberg snapshot at $tablePath carries delete files; " +
        "this path serves data files only — use IcebergRead.read")
    live.map(_.path)
  }

  /** Current-schema (fieldId → column name) — equality deletes name
    * their match columns by field id. */
  private[sources] def fieldNamesById(meta: JsonNode): Map[Int, String] = {
    val schemaNode = Option(meta.get("schemas")).map { arr =>
      val want = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
      (0 until arr.size()).map(arr.get)
        .find(s => s.get("schema-id").asInt() == want)
        .getOrElse(throw new IllegalStateException(
          s"current-schema-id $want not present in schemas"))
    }.orElse(Option(meta.get("schema"))).getOrElse(
      throw new IllegalStateException("iceberg metadata carries no schema"))
    val fields = schemaNode.get("fields")
    (0 until fields.size()).map { i =>
      val fld = fields.get(i)
      fld.get("id").asInt() -> fld.get("name").asText()
    }.toMap
  }

  /** SPEC-SHAPED FIXTURE EMITTERS (the `makePdf*` stance: the repo has
    * no Iceberg writer dependency, so demos/specs/queries emit the
    * minimal protocol-faithful artifacts the reader replays — manifest
    * and manifest-list Avro containers plus the metadata JSON; a real
    * Iceberg table carries more fields, which the generic by-name
    * decoding above ignores). */
  object Fixture {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}

    /** entries: (status, absoluteFilePath, content). */
    def manifest(dir: String, name: String,
        entries: Seq[(Int, String, Int)]): String =
      manifestV2(dir, name,
        entries.map { case (s, p, c) => EntryInfo(s, p, c, 0L, Nil) })

    /** Full-shape variant: sequence numbers and (for content=2)
      * equality-id lists ride the entries, the fields the
      * merge-on-read ordering rules key on. `nullSeqs` writes NULL
      * sequence_number on every entry — the shape real v2 writers emit
      * for ADDED entries, which readers must inherit from the manifest
      * list (pair with [[manifestListV2]]). */
    def manifestV2(dir: String, name: String,
        entries: Seq[EntryInfo], nullSeqs: Boolean = false,
        fileFormat: Option[String] = None): String = {
      val idsSchema = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL),
        Schema.createArray(Schema.create(Schema.Type.INT))))
      val seqSchema = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), Schema.create(Schema.Type.LONG)))
      val fmtSchema = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), Schema.create(Schema.Type.STRING)))
      val strSchema = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), Schema.create(Schema.Type.STRING)))
      val longSchema = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), Schema.create(Schema.Type.LONG)))
      val binKv = SchemaBuilder.record("k_v_bin").fields()
        .requiredInt("key").requiredBytes("value").endRecord()
      val longKv = SchemaBuilder.record("k_v_long").fields()
        .requiredInt("key").requiredLong("value").endRecord()
      val binKvArr = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), Schema.createArray(binKv)))
      val longKvArr = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), Schema.createArray(longKv)))
      val dfSchema = SchemaBuilder.record("r102").fields()
        .requiredString("file_path").requiredInt("content")
        .name("file_format").`type`(fmtSchema).withDefault(null)
        .name("equality_ids").`type`(idsSchema).withDefault(null)
        .name("referenced_data_file").`type`(strSchema).withDefault(null)
        .name("content_offset").`type`(longSchema).withDefault(null)
        .name("content_size_in_bytes").`type`(longSchema).withDefault(null)
        .name("file_size_in_bytes").`type`(longSchema).withDefault(null)
        .name("record_count").`type`(longSchema).withDefault(null)
        .name("lower_bounds").`type`(binKvArr).withDefault(null)
        .name("upper_bounds").`type`(binKvArr).withDefault(null)
        .name("null_value_counts").`type`(longKvArr).withDefault(null)
        .endRecord()
      val entrySchema = SchemaBuilder.record("manifest_entry").fields()
        .requiredInt("status")
        .name("sequence_number").`type`(seqSchema).withDefault(null)
        .name("data_file").`type`(dfSchema).noDefault().endRecord()
      val f = new java.io.File(s"$dir/metadata/$name")
      f.getParentFile.mkdirs()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](entrySchema))
      w.create(entrySchema, f)
      entries.foreach { en =>
        val dfr = new GenericData.Record(dfSchema)
        dfr.put("file_path", en.path); dfr.put("content", en.content)
        dfr.put("file_format",
          if (en.dv.nonEmpty) fileFormat.getOrElse("PUFFIN") else fileFormat.orNull)
        en.dv.foreach { case (ref, off, len) =>
          dfr.put("referenced_data_file", ref)
          dfr.put("content_offset", off: java.lang.Long)
          dfr.put("content_size_in_bytes", len: java.lang.Long)
        }
        en.sizeInBytes.foreach(v => dfr.put("file_size_in_bytes", v: java.lang.Long))
        en.recordCount.foreach(v => dfr.put("record_count", v: java.lang.Long))
        def binArr(m: Map[Int, Array[Byte]]): AnyRef =
          if (m.isEmpty) null
          else {
            val arr = new GenericData.Array[GenericRecord](m.size, binKvArr.getTypes.get(1))
            m.toSeq.sortBy(_._1).foreach { case (k, v) =>
              val r = new GenericData.Record(binKv)
              r.put("key", k); r.put("value", java.nio.ByteBuffer.wrap(v))
              arr.add(r)
            }
            arr
          }
        dfr.put("lower_bounds", binArr(en.lowerBounds))
        dfr.put("upper_bounds", binArr(en.upperBounds))
        dfr.put("null_value_counts",
          if (en.nullCounts.isEmpty) null
          else {
            val arr = new GenericData.Array[GenericRecord](
              en.nullCounts.size, longKvArr.getTypes.get(1))
            en.nullCounts.toSeq.sortBy(_._1).foreach { case (k, v) =>
              val r = new GenericData.Record(longKv)
              r.put("key", k); r.put("value", v: java.lang.Long)
              arr.add(r)
            }
            arr
          })
        dfr.put("equality_ids",
          if (en.equalityIds.isEmpty) null
          else {
            val arr = new GenericData.Array[Integer](
              en.equalityIds.size, idsSchema.getTypes.get(1))
            en.equalityIds.foreach(i => arr.add(i: Integer))
            arr
          })
        val e = new GenericData.Record(entrySchema)
        e.put("status", en.status)
        e.put("sequence_number", if (nullSeqs) null else (en.seq: java.lang.Long))
        e.put("data_file", dfr)
        w.append(e)
      }
      w.close()
      f.getAbsolutePath
    }

    def manifestList(dir: String, name: String, manifests: Seq[String]): String = {
      val s = SchemaBuilder.record("manifest_file").fields()
        .requiredString("manifest_path").endRecord()
      val f = new java.io.File(s"$dir/metadata/$name")
      f.getParentFile.mkdirs()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
      w.create(s, f)
      manifests.foreach { m =>
        val r = new GenericData.Record(s); r.put("manifest_path", m); w.append(r)
      }
      w.close()
      f.getAbsolutePath
    }

    /** v2-shaped manifest list: each entry carries its
      * `sequence_number` (field 515), the value null-seq'd manifest
      * entries inherit. */
    def manifestListV2(dir: String, name: String,
        manifests: Seq[(String, Long)]): String = {
      val s = SchemaBuilder.record("manifest_file").fields()
        .requiredString("manifest_path").requiredLong("sequence_number")
        .endRecord()
      val f = new java.io.File(s"$dir/metadata/$name")
      f.getParentFile.mkdirs()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
      w.create(s, f)
      manifests.foreach { case (m, seq) =>
        val r = new GenericData.Record(s)
        r.put("manifest_path", m); r.put("sequence_number", seq)
        w.append(r)
      }
      w.close()
      f.getAbsolutePath
    }

    /** fields: (id, name, required, icebergType). */
    def metadata(dir: String, v: Int, formatVersion: Int, snapshotId: Long,
        manifestList: String, fields: Seq[(Int, String, Boolean, String)]): Unit =
      metadataMulti(dir, v, formatVersion, snapshotId,
        Seq((snapshotId, manifestList)), fields)

    /** Multi-snapshot variant: `snapshots` in commit order, the
      * current one named by `currentSnapshotId`. `timestamps` (id →
      * timestamp-ms) additionally stamps each snapshot and writes the
      * spec's `snapshot-log` for timestamp time travel. */
    def metadataMulti(dir: String, v: Int, formatVersion: Int,
        currentSnapshotId: Long, snapshots: Seq[(Long, String)],
        fields: Seq[(Int, String, Boolean, String)],
        timestamps: Map[Long, Long] = Map.empty,
        refs: Map[String, (Long, String)] = Map.empty,
        fieldDefaults: Map[String, String] = Map.empty,
        extraJson: String = ""): Unit = {
      new java.io.File(s"$dir/metadata").mkdirs()
      val fjson = fields.map { case (id, n, req, t) =>
        val dflt = fieldDefaults.get(n)
          .map(v => s""","initial-default":$v""").getOrElse("")
        s"""{"id":$id,"name":"$n","required":$req,"type":"$t"$dflt}"""
      }.mkString(",")
      val sjson = snapshots.map { case (id, ml) =>
        val ts = timestamps.get(id).map(t => s""""timestamp-ms":$t,""").getOrElse("")
        s"""{"snapshot-id":$id,$ts"manifest-list":"$ml"}"""
      }.mkString(",")
      val slog =
        if (timestamps.isEmpty) ""
        else {
          val entries = snapshots.flatMap { case (id, _) =>
            timestamps.get(id).map(t =>
              s"""{"timestamp-ms":$t,"snapshot-id":$id}""")
          }.mkString(",")
          s""","snapshot-log":[$entries]"""
        }
      val rjson =
        if (refs.isEmpty) ""
        else ""","refs":{""" + refs.toSeq.sortBy(_._1).map { case (n, (id, t)) =>
          s""""$n":{"snapshot-id":$id,"type":"$t"}"""
        }.mkString(",") + "}"
      val body =
        s"""{"format-version":$formatVersion,"table-uuid":"fixture",
           |"location":"$dir","current-schema-id":0,
           |"schemas":[{"schema-id":0,"type":"struct","fields":[$fjson]}],
           |"current-snapshot-id":$currentSnapshotId$rjson$extraJson,
           |"snapshots":[$sjson]$slog}""".stripMargin
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/metadata/v$v.metadata.json"), body)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/metadata/version-hint.text"), v.toString)
    }

    /** FULL-shape manifest list (every spec-required field, each
      * tagged with its spec field-id) — the shape real engines write;
      * foreign write-back carries these records forward by reference
      * and validates their presence. `javaNames` uses the reference
      * implementation's Avro field names for the count trio
      * (`added_data_files_count`/…, resolved by field id 504/505/506,
      * not name). `manifests`: (absolutePath, sequenceNumber,
      * content). */
    def manifestListFull(dir: String, name: String, snapshotId: Long,
        manifests: Seq[(String, Long, Int)], specId: Int = 0,
        firstRowIds: Map[String, Long] = Map.empty,
        javaNames: Boolean = false): String = {
      def fld(n: String, t: Schema.Type, id: Int): Schema.Field = {
        val f = new Schema.Field(n, Schema.create(t), null,
          null.asInstanceOf[Object])
        f.addProp("field-id", id: Integer)
        f
      }
      def optLongFld(n: String, id: Int): Schema.Field = {
        val union = Schema.createUnion(java.util.List.of(
          Schema.create(Schema.Type.NULL), Schema.create(Schema.Type.LONG)))
        val f = new Schema.Field(n, union, null, Schema.Field.NULL_DEFAULT_VALUE)
        f.addProp("field-id", id: Integer)
        f
      }
      def cntName(base: String): String =
        if (javaNames) s"${base}_data_files_count" else s"${base}_files_count"
      import Schema.Type.{INT, LONG, STRING}
      val s = Schema.createRecord("manifest_file", null, null, false)
      s.setFields(java.util.List.of(
        fld("manifest_path", STRING, 500),
        fld("manifest_length", LONG, 501),
        fld("partition_spec_id", INT, 502),
        fld("content", INT, 517),
        fld("sequence_number", LONG, 515),
        fld("min_sequence_number", LONG, 516),
        fld("added_snapshot_id", LONG, 503),
        fld(cntName("added"), INT, 504),
        fld(cntName("existing"), INT, 505),
        fld(cntName("deleted"), INT, 506),
        fld("added_rows_count", LONG, 512),
        fld("existing_rows_count", LONG, 513),
        fld("deleted_rows_count", LONG, 514),
        optLongFld("first_row_id", 520)))
      val f = new java.io.File(s"$dir/metadata/$name")
      f.getParentFile.mkdirs()
      val w = new DataFileWriter(new GenericDatumWriter[GenericRecord](s))
      w.create(s, f)
      manifests.foreach { case (m, seq, content) =>
        val r = new GenericData.Record(s)
        r.put("manifest_path", m)
        r.put("manifest_length", new java.io.File(m).length())
        r.put("partition_spec_id", specId)
        r.put("content", content)
        r.put("sequence_number", seq)
        r.put("min_sequence_number", seq)
        r.put("added_snapshot_id", snapshotId)
        r.put(cntName("added"), 1)
        r.put(cntName("existing"), 0)
        r.put(cntName("deleted"), 0)
        r.put("added_rows_count", 0L)
        r.put("existing_rows_count", 0L)
        r.put("deleted_rows_count", 0L)
        firstRowIds.get(m).foreach(fr => r.put("first_row_id", fr))
        w.append(r)
      }
      w.close()
      f.getAbsolutePath
    }
  }

  /** Canonical file-path form for joining a position-delete file's
    * `file_path` against `_metadata.file_path`: the spec stores full
    * URIs while Spark's metadata column reports Hadoop Path strings
    * (`file:/…` vs `file:///…` vs plain `/…`) — strip the scheme and
    * authority slashes down to one canonical root slash. */
  private def normPath(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(
      c, "^[a-zA-Z][a-zA-Z0-9+.\\-]*:/+", "/")

  /** Driver-side twin of [[normPath]] — DV coordinates resolve on the
    * driver, so their `referenced_data_file` strings canonicalize
    * through the same rule the scan-side Column does. */
  private def normPathStr(s: String): String = PathKeys.normKey(s)

  /** The table's snapshot as a DataFrame (`snapshotId` pins one; the
    * default is the current snapshot). Format-v2 MERGE-ON-READ applies
    * both delete shapes:
    *
    *   - POSITION DELETES (content=1): the data scan extends with
    *     (`_metadata.file_path`, `_metadata.row_index`) and anti-joins
    *     the delete files' (file_path, pos) pairs — they key on the
    *     named immutable file, so sequence ordering is implicit;
    *   - DELETION VECTORS (format v3: content=1 in puffin form): each
    *     vector's positions decode from its puffin blob
    *     ([[Puffin.dvPositions]] — bounded, driver-side) into the SAME
    *     (file_path, pos) anti-join side as position-delete files;
    *     mixing the two shapes is sound because the v3 spec requires a
    *     file's DV to supersede (contain) any earlier position deletes
    *     for that file;
    *   - EQUALITY DELETES (content=2, the shape Flink CDC writers emit):
    *     each delete file names its match columns by field id
    *     (`equality_ids`) and applies to data files whose sequence
    *     number is STRICTLY OLDER than the delete's — a key re-inserted
    *     after the delete survives. The commit-order rule stays INSIDE
    *     the join (r13): the single data scan gains its per-file
    *     sequence number from a broadcast file→seq map, each delete row
    *     its file's sequence as a literal, and one anti-join per
    *     distinct id set matches null-safely on the id columns with
    *     `data.seq < delete.seq` riding as the join filter — the
    *     null-safe columns keep it a hash join. (The earlier shape —
    *     one scan + union per distinct data sequence — grew with COMMIT
    *     COUNT, unbounded on real tables; anti-join count is now
    *     bounded by distinct id sets, which writer compaction folds
    *     away: the standard MoR read tax.)
    *
    * Delete sides are O(deleted rows), broadcast by AQE when small. */
  /** `withLineage` (r15 — r14 verdict #5) appends the v3 row-lineage
    * metadata columns: `_row_id` (the file's first_row_id — explicit
    * or inherited per the spec — plus the row's position) and
    * `_last_updated_sequence_number` (the file's data sequence
    * number). Incremental consumers key row identity on them across
    * append/delete histories. Tables without row lineage decline by
    * name. */
  def read(spark: SparkSession, tablePath: String,
      snapshotId: Option[Long] = None,
      withLineage: Boolean = false): DataFrame = {
    val meta = currentMetadata(spark, tablePath)
    readEntries(spark, tablePath, meta,
      liveEntries(spark, tablePath, meta, snapshotId), withLineage)
  }

  /** [[read]] over a PRE-RESOLVED live entry set — the face the
    * streaming source's recovery replay needs when the pinned
    * snapshot has been EXPIRED from the list but its manifest names
    * survive in the checkpointed offset. */
  /** v3 `initial-default` values of the CURRENT schema: (field name,
    * default as a typed Column). The spec's rule: the default serves
    * rows of data files that DO NOT CONTAIN the field; a present
    * field's genuine nulls stay null. Types outside the primitive
    * interchange set decline loudly. (Only top-level fields can carry
    * defaults here BY CONSTRUCTION: nested struct schemas decline
    * wholesale in [[schemaOf]] — the interchange set is flat — so a
    * nested default can never be silently dropped.) */
  private def defaultsOf(meta: JsonNode,
      schema: StructType): Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions.lit
    val schemaNode = Option(meta.get("schemas")).map { arr =>
      val want = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
      (0 until arr.size()).map(arr.get)
        .find(s => s.get("schema-id").asInt() == want)
        .getOrElse(throw new IllegalStateException(
          s"current-schema-id $want not present in schemas"))
    }.orElse(Option(meta.get("schema"))).getOrElse(return Seq.empty)
    val fields = schemaNode.get("fields")
    (0 until fields.size()).flatMap { i =>
      val fld = fields.get(i)
      Option(fld.get("initial-default")).filterNot(_.isNull).map { v =>
        val name = fld.get("name").asText()
        val dt = schema(name).dataType
        val c = dt match {
          case LongType | IntegerType if v.isNumber => lit(v.asLong()).cast(dt)
          case DoubleType | FloatType if v.isNumber => lit(v.asDouble()).cast(dt)
          case BooleanType if v.isBoolean => lit(v.asBoolean())
          case StringType if v.isTextual => lit(v.asText())
          case DateType | TimestampType | TimestampNTZType if v.isTextual =>
            lit(v.asText()).cast(dt)
          case d: DecimalType => lit(v.asText()).cast(d)
          case other => throw new UnsupportedOperationException(
            s"initial-default for field '$name' of type $other is outside " +
              "the supported primitive set")
        }
        name -> c
      }
    }
  }

  /** Per-file footer probe: which DEFAULTED fields is each file
    * missing? One footer read per file, paid only by default-bearing
    * tables. */
  /** One footer's top-level column names — the default-probe unit. */
  private def footerColumnNames(
      conf: org.apache.hadoop.conf.Configuration, path: String): Set[String] = {
    val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(path), conf))
    try {
      import scala.jdk.CollectionConverters._
      rdr.getFooter.getFileMetaData.getSchema.getFields.asScala
        .map(_.getName).toSet
    } finally rdr.close()
  }

  /** Per-file footer column-name sets, CACHED and, for large uncached
    * batches, DISTRIBUTED across executors instead of probed
    * sequentially on the driver — on a 100k-file default-bearing v3
    * table the serial loop was minutes of driver I/O at planning
    * (r14 verdict weak-at-scale; same shape as
    * [[DeltaRead.fieldIdsOfFiles]]). The cache leans on the table
    * spec's IMMUTABLE-data-file contract (a committed path's footer
    * never changes; replacing content in place is out-of-contract for
    * every Iceberg writer) and is size-bounded so a long-lived session
    * scanning many tables cannot grow it without limit. */
  private val footerNameCache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
  private val FooterCacheMax = 1 << 20

  private def absentDefaultsByFile(spark: SparkSession,
      defaults: Seq[(String, org.apache.spark.sql.Column)],
      paths: Seq[Path]): Map[String, Set[String]] = {
    val distinct = paths.map(_.toString).distinct
    val missing = distinct.filterNot(footerNameCache.containsKey)
    if (missing.nonEmpty) {
      val resolved: Seq[(String, Set[String])] =
        if (missing.size <= 8)
          missing.map(p =>
            p -> footerColumnNames(spark.sessionState.newHadoopConf(), p))
        else {
          val confB = spark.sparkContext.broadcast(
            new DeltaRead.SerializableHadoopConf(
              spark.sessionState.newHadoopConf()))
          try spark.sparkContext
            .parallelize(missing, math.min(missing.size, 256))
            .map(p => p -> footerColumnNames(confB.value.value, p))
            .collect().toSeq // bounded: one (path, name-set) row per file
          finally confB.destroy() // else one leaked broadcast per batch
        }
      if (footerNameCache.size() + resolved.size > FooterCacheMax)
        footerNameCache.clear() // crude but safe: correctness never depends on a hit
      resolved.foreach { case (p, names) => footerNameCache.put(p, names) }
    }
    distinct.map { p =>
      val names = footerNameCache.get(p)
      normPathStr(p) -> defaults.map(_._1).filterNot(names).toSet
    }.toMap
  }

  /** The fill itself: `df` must carry the normalized path as `__g_fp`;
    * one broadcast (file → absent flags) join keeps the data side a
    * single scan. */
  private def applyDefaultFill(df: DataFrame,
      defaults: Seq[(String, org.apache.spark.sql.Column)],
      absentByFile: Map[String, Set[String]]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, when}
    import df.sparkSession.implicits._
    val flagDf = absentByFile.toSeq
      .map { case (f, absent) => (f, defaults.map(d => absent(d._1)).toArray) }
      .toDF("__g_fp", "__g_absent")
    val joined = df.join(broadcast(flagDf), Seq("__g_fp"), "left")
    defaults.zipWithIndex.foldLeft(joined) { case (d0, ((name, dcol), i)) =>
      d0.withColumn(name,
        when(col("__g_absent").getItem(i), dcol).otherwise(col(name)))
    }.drop("__g_absent")
  }

  /** Default-aware RAW FILE scan — the streaming increment's shape
    * (r14 review close: the incremental batch used to bypass the
    * initial-default fill and serve nulls where batch reads serve the
    * default). Identical fill rule and cost model as [[readEntries]]. */
  private[sources] def scanFilesWithDefaults(spark: SparkSession,
      tablePath: String, meta: JsonNode, files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = schemaOf(meta)
    val plain = spark.read.schema(schema).parquet(files: _*)
    val defaults = defaultsOf(meta, schema)
    if (defaults.isEmpty) return plain
    val absent = absentDefaultsByFile(spark, defaults, files.map(new Path(_)))
    if (absent.values.forall(_.isEmpty)) plain
    else applyDefaultFill(plain.select(col("*"),
      normPath(col("_metadata.file_path")).as("__g_fp")), defaults, absent)
      .drop("__g_fp")
  }

  private[sources] def readEntries(spark: SparkSession, tablePath: String,
      meta: JsonNode, live: Seq[EntryInfo],
      withLineage: Boolean = false,
      withPositions: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, when}
    val schema = schemaOf(meta)
    val outSchema =
      if (!withLineage) schema
      else StructType(schema.fields ++ Seq(
        StructField("_row_id", LongType, nullable = false),
        StructField("_last_updated_sequence_number", LongType, nullable = false)))
    val data = live.filter(_.content == 0)
    val (dvDels, posDels) = live.filter(_.content == 1).partition(_.dv.nonEmpty)
    val eqDels = live.filter(_.content == 2)
    // row lineage: one bounded broadcast (file → first_row_id, seq)
    // map; ids compute as first_row_id + row position, so they survive
    // merge-on-read untouched (deletes drop rows, never renumber)
    val lineage: Option[DataFrame] =
      if (!withLineage) None
      else {
        data.find(_.firstRowId.isEmpty).foreach(e =>
          throw new UnsupportedOperationException(
            s"data file ${e.path} at $tablePath carries no first_row_id " +
              "(explicit or inherited); row lineage needs a v3 " +
              "row-lineage table"))
        import spark.implicits._
        Some(data.map(e =>
          (normPathStr(resolve(tablePath, e.path).toString),
            e.firstRowId.get, e.seq))
          .toDF("__g_fp", "__g_frid", "__g_lseq"))
      }
    def addLineage(df: DataFrame): DataFrame = lineage match {
      case None => df
      case Some(ldf) =>
        df.join(broadcast(ldf), Seq("__g_fp"))
          .withColumn("_row_id", col("__g_frid") + col("__g_ri"))
          .withColumn("_last_updated_sequence_number", col("__g_lseq"))
          .drop("__g_frid", "__g_lseq")
    }
    if (data.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    /** The data scan. When every entry carries its manifest-recorded
      * file size (real tables always do), plan through the log-backed
      * [[DeltaLogFileIndex]]: zero filesystem RPCs at planning, and the
      * manifests' per-file `lower_bounds`/`upper_bounds`/null counts
      * evaluate against pushed data filters so non-overlapping files
      * never reach the scan ([[FileSkipping]] — metadata file skipping,
      * the difference between opening millions of footers and planning
      * exactly the matching files at 100 TB). Minimal fixtures without
      * sizes fall back to a plain listing-backed read. */
    // transform-aware pruning spec (r15): tables with exactly ONE
    // NON-EMPTY partition spec only — empty specs (the global-delete
    // spec a partitioned export publishes alongside) contribute no
    // tuple fields and cannot mis-bind, but under real spec EVOLUTION
    // entries of different eras carry different tuple shapes this
    // by-name capture could confuse, and pruning must never be a
    // correctness bet
    val pruneSpec: Seq[(String, String, String)] = {
      val byId = fieldNamesById(meta)
      val nonEmpty = Option(meta.get("partition-specs")).toSeq.flatMap { arr =>
        (0 until arr.size()).map(arr.get)
          .filter(sp => Option(sp.get("fields")).exists(_.size() > 0))
      }
      nonEmpty match {
        case Seq(spec) =>
          val pf = spec.get("fields")
          (0 until pf.size()).flatMap { i =>
            val f = pf.get(i)
            byId.get(f.get("source-id").asInt()).map(src =>
              (f.get("name").asText(), f.get("transform").asText(), src))
          }
        case _ => Nil
      }
    }
    def scanOf(entries: Seq[EntryInfo]) = {
      if (entries.forall(_.sizeInBytes.nonEmpty)) {
        val namesById = fieldNamesById(meta)
        val typesByName = schema.fields.map(f => f.name -> f.dataType).toMap
        val live = entries.map { e =>
          val statIds = e.lowerBounds.keySet ++ e.upperBounds.keySet ++
            e.nullCounts.keySet
          val bounds = statIds.flatMap { id =>
            for {
              n <- namesById.get(id)
              dt <- typesByName.get(n)
            } yield n -> FileSkipping.ColBounds(
              e.lowerBounds.get(id).flatMap(FileSkipping.icebergBoundValue(_, dt)),
              e.upperBounds.get(id).flatMap(FileSkipping.icebergBoundValue(_, dt)),
              e.nullCounts.get(id), e.recordCount)
          }.toMap
          val transforms = pruneSpec.flatMap { case (fn, tr, src) =>
            e.partition.get(fn).map(v => TransformPruning.PartValue(src, tr, v))
          }
          LiveFile(resolve(tablePath, e.path), e.sizeInBytes.get, 0L,
            org.apache.spark.sql.catalyst.InternalRow.empty, bounds,
            transforms)
        }
        org.apache.spark.sql.GraftPlanApi.fileRelationDataFrame(spark,
          new DeltaLogFileIndex(new Path(tablePath), new StructType(), live),
          new StructType(), schema)
      } else spark.read.schema(schema)
        .parquet(entries.map(e => resolve(tablePath, e.path).toString): _*)
    }
    // v3 FIELD DEFAULTS (r14): fill each `initial-default` field for
    // rows of files whose FOOTER lacks it (a present field's nulls stay
    // null, per spec). The presence probe is one footer read per file
    // on DEFAULT-BEARING tables only — plain tables never pay it — and
    // the fill rides ONE broadcast (file → absent flags) join, so the
    // data side stays a single scan.
    val defaults = defaultsOf(meta, schema)
    val absentByFile: Map[String, Set[String]] =
      if (defaults.isEmpty) Map.empty
      else absentDefaultsByFile(spark, defaults,
        data.map(e => resolve(tablePath, e.path)))
    val needDefaults = absentByFile.values.exists(_.nonEmpty)
    def applyDefaults(df: DataFrame): DataFrame =
      if (!needDefaults) df
      else applyDefaultFill(df, defaults, absentByFile)
    if (posDels.isEmpty && dvDels.isEmpty && eqDels.isEmpty) {
      val plain = scanOf(data)
      return if (!needDefaults && lineage.isEmpty && !withPositions) plain
      else {
        // row_index materializes per row — project it only when the
        // lineage or position columns actually need it (defaults key
        // on file path)
        val metaCols = Seq(normPath(col("_metadata.file_path")).as("__g_fp")) ++
          (if (lineage.nonEmpty || withPositions)
            Seq(col("_metadata.row_index").as("__g_ri")) else Nil)
        val tagged = plain.select(col("*") +: metaCols: _*)
        val out = addLineage(applyDefaults(tagged))
        if (withPositions) out else out.drop("__g_fp", "__g_ri")
      }
    }
    val posFileDf =
      if (posDels.isEmpty) None
      else Some(spark.read
        .parquet(posDels.map(p => resolve(tablePath, p.path).toString): _*)
        .select(normPath(col("file_path")).as("__g_fp"),
          col("pos").cast("long").as("__g_ri")))
    val dvDf =
      if (dvDels.isEmpty) None
      else {
        import spark.implicits._
        val pairs = dvDels.flatMap { e =>
          val (ref, off, len) = e.dv.get
          val refNorm = normPathStr(resolve(tablePath, ref).toString)
          Puffin.dvPositions(spark, resolve(tablePath, e.path).toString, off, len)
            .map(p => (refNorm, p))
        }
        Some(pairs.toDF("__g_fp", "__g_ri"))
      }
    val posDf = (posFileDf, dvDf) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b).distinct())
      case (a, b) => a.orElse(b)
    }
    val namesById = fieldNamesById(meta)
    // ONE scan over every live data file — the per-file keys the delete
    // shapes need ride alongside (path for position deletes, sequence
    // number via a broadcast file→seq map for equality ordering)
    val base = applyDefaults(scanOf(data).select(col("*"),
      normPath(col("_metadata.file_path")).as("__g_fp"),
      col("_metadata.row_index").as("__g_ri")))
    val afterPos = posDf match {
      case None => base
      case Some(dels) => base.join(dels, Seq("__g_fp", "__g_ri"), "left_anti")
    }
    val withSeq =
      if (eqDels.isEmpty) afterPos
      else {
        import spark.implicits._
        val seqMap = data
          .map(e => (normPathStr(resolve(tablePath, e.path).toString), e.seq))
          .toDF("__g_fp", "__g_seq")
        afterPos.join(org.apache.spark.sql.functions.broadcast(seqMap), Seq("__g_fp"))
      }
    val afterEq = eqDels.groupBy(_.equalityIds).toSeq
      .sortBy(_._1.mkString(","))
      .foldLeft(withSeq) { case (df, (ids, dels)) =>
        val cols = ids.map(id => namesById.getOrElse(id,
          throw new IllegalStateException(
            s"equality delete at $tablePath names field id $id, which is " +
              "not in the current schema")))
        // each delete file contributes its rows tagged with ITS sequence
        // number; delete volume is bounded by the MoR tax, so the
        // per-file select + union stays small while the data side scans
        // once
        val delDf = dels.map { d =>
          spark.read.parquet(resolve(tablePath, d.path).toString)
            .select(cols.map(c => col(c).as(s"__g_eq_$c")) :+
              org.apache.spark.sql.functions.lit(d.seq).as("__g_eq_seq"): _*)
        }.reduce(_.unionByName(_))
        // null-safe match per the spec (a delete row with null matches
        // data rows with null there); the strictly-older rule rides as
        // the join filter over the hash keys
        val cond = cols.map(c => col(c) <=> col(s"__g_eq_$c")).reduce(_ && _) &&
          col("__g_seq") < col("__g_eq_seq")
        df.join(delDf, cond, "left_anti")
      }
    val out = addLineage(afterEq)
    if (withPositions) out.drop("__g_seq")
    else out.drop("__g_fp", "__g_ri", "__g_seq")
  }
}
