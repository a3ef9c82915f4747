package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.CRC32

import scala.collection.immutable.ListMap

import graft.Json
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** PUFFIN codec — the public Iceberg sidecar format (puffin-spec) that
  * format-version-3 tables store DELETION VECTORS in:
  *
  *   - file layout `Magic Blob* Footer` with magic `PFA1`;
  *   - footer layout `Magic FooterPayload FooterPayloadSize Flags
  *     Magic`: the payload is UTF-8 JSON (`{"blobs":[...],
  *     "properties":{...}}`), its size a little-endian i32, the four
  *     flag bytes reserved except bit 0 of byte 0 (payload
  *     lz4-compressed — decoded by the built-in zero-dependency
  *     [[lz4FrameDecompress]], r14);
  *   - each `deletion-vector-v1` blob frames as `<i32 BE length of
  *     magic+vector> <4-byte magic D1 D3 39 64> <vector> <i32 BE
  *     CRC-32 of magic+vector>`. The magic bytes ARE the little-endian
  *     serialization of 1681511377 — Delta's portable
  *     RoaringBitmapArray magic — so `magic+vector` is byte-identical
  *     to [[DeltaDv]]'s bitmap serialization and the two lakehouse
  *     formats share one bitmap codec.
  *
  * Readers locate a DV by the manifest entry's (`file_path` = puffin
  * file, `content_offset`, `content_size_in_bytes`) triple, so serving
  * a DV never parses the footer; [[footer]] exists for the write half's
  * self-check and for spec-shaped fixtures.
  *
  * Scale: one DV is O(deleted rows in one data file) and decoded
  * driver-side next to the scan it prunes — the same bounded planning
  * tax [[DeltaDv]] pays; compaction folds DVs away.
  */
object Puffin {

  private val Magic = Array[Byte](0x50, 0x46, 0x41, 0x31) // "PFA1"

  /** One footer blob descriptor (the spec's BlobMetadata). */
  final case class BlobMeta(blobType: String, snapshotId: Long,
      sequenceNumber: Long, offset: Long, length: Long,
      properties: Map[String, String])

  private def readAll(spark: SparkSession, p: Path): Array[Byte] = {
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      out.toByteArray
    } finally in.close()
  }

  /** The deleted row positions of one `deletion-vector-v1` blob,
    * addressed the way manifests address it: byte offset + stored blob
    * length. Verifies the framing length, the D1 D3 39 64 magic (via
    * the shared bitmap codec), and the CRC-32. The read is RANGED — a
    * positioned read of exactly the blob's bytes, never the whole
    * sidecar, so a puffin file holding many files' vectors costs each
    * read only its own blob (the footer is never parsed on this path). */
  def dvPositions(spark: SparkSession, puffinPath: String,
      offset: Long, length: Long): Array[Long] = {
    val p = new Path(puffinPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val fileLen = fs.getFileStatus(p).getLen
    require(offset >= 0 && length >= 8 && offset + length <= fileLen,
      s"puffin blob at $puffinPath offset $offset length $length " +
        s"overruns the $fileLen-byte file")
    val bytes = new Array[Byte](length.toInt)
    val in = fs.open(p)
    try in.readFully(offset, bytes) finally in.close()
    val buf = ByteBuffer.wrap(bytes) // DV framing is big-endian
    val bodyLen = buf.getInt // length of magic + vector
    require(bodyLen + 8L == length,
      s"puffin DV at $puffinPath offset $offset frames $bodyLen body bytes " +
        s"(+8 framing) but the manifest says $length")
    val body = new Array[Byte](bodyLen)
    buf.get(body)
    val storedCrc = buf.getInt
    val crc = new CRC32(); crc.update(body)
    require(storedCrc == crc.getValue.toInt,
      s"puffin DV at $puffinPath offset $offset fails its CRC-32 check " +
        "(corrupt file)")
    DeltaDv.deserialize(body) // magic+vector == the Delta portable form
  }

  /** LZ4 FRAME decompression (the spec's footer codec), zero-dependency
    * (r14 — r13 verdict #7): magic + frame descriptor, then blocks of
    * LZ4 BLOCK format. Checksums are parsed PAST, not verified (xxHash
    * is outside the dependency stance; the footer's JSON parse is the
    * integrity gate), and the optional content-size is enforced. */
  private[graft] def lz4FrameDecompress(data: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.remaining >= 7, "lz4 frame too short")
    val magic = buf.getInt
    require(magic == 0x184d2204, f"not an lz4 frame (magic 0x$magic%08x)")
    val flg = buf.get() & 0xff
    buf.get() // BD byte: block max size only — irrelevant to decoding
    require((flg >> 6) == 1, s"lz4 frame version ${flg >> 6} is unsupported")
    val blockChecksum = (flg & 0x10) != 0
    val hasContentSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    val expected = if (hasContentSize) Some(buf.getLong) else None
    // Footer payloads are small; a declared size that cannot fit a JVM
    // array is unsupported by name, not an Int-truncated ctor argument.
    expected.foreach(e => require(e >= 0 && e <= Int.MaxValue - 8,
      s"lz4 declared content size $e exceeds supported range"))
    if ((flg & 0x01) != 0) buf.getInt // dictionary id
    buf.get() // header checksum byte
    val out = new java.io.ByteArrayOutputStream(
      expected.map(_.toInt).getOrElse(math.max(64, data.length * 4)))
    var done = false
    while (!done) {
      val bsize = buf.getInt
      if (bsize == 0) done = true
      else {
        val len = bsize & 0x7fffffff
        val block = new Array[Byte](len)
        buf.get(block)
        if ((bsize & 0x80000000) != 0) out.write(block) // stored as-is
        else out.write(lz4BlockDecompress(block))
        if (blockChecksum) buf.getInt
      }
    }
    if (contentChecksum) buf.getInt
    val res = out.toByteArray
    expected.foreach(e => require(res.length.toLong == e,
      s"lz4 content size mismatch: frame says $e, decoded ${res.length}"))
    res
  }

  /** One LZ4 BLOCK: token-driven sequences of a literal run plus a
    * 16-bit back-offset match (offset ≤ bytes already produced; the
    * overlapping byte-by-byte copy IS the format's RLE trick). */
  private def lz4BlockDecompress(src: Array[Byte]): Array[Byte] = {
    var out = new Array[Byte](math.max(64, src.length * 3))
    var oLen = 0
    var i = 0
    def ensure(n: Int): Unit =
      if (oLen + n > out.length)
        out = java.util.Arrays.copyOf(out, math.max(out.length * 2, oLen + n))
    def readLen(base: Int): Int = {
      var l = base.toLong
      if (base == 15) {
        var b = 0
        do {
          require(i < src.length, "lz4 length extension past block end")
          b = src(i) & 0xff; i += 1; l += b
          // An adversarial run of 0xff extensions could walk a Long past
          // Int range long before the literal/match copy would fail —
          // bound it explicitly instead of overflowing.
          require(l <= Int.MaxValue - 8,
            s"lz4 length extension overflows supported range ($l)")
        } while (b == 255)
      }
      l.toInt
    }
    while (i < src.length) {
      val token = src(i) & 0xff; i += 1
      val litLen = readLen(token >> 4)
      require(i + litLen <= src.length, "lz4 literal run past block end")
      ensure(litLen)
      System.arraycopy(src, i, out, oLen, litLen); i += litLen; oLen += litLen
      if (i < src.length) { // the LAST sequence is literals-only
        require(i + 2 <= src.length,
          "lz4 block truncated inside a match offset")
        val offset = (src(i) & 0xff) | ((src(i + 1) & 0xff) << 8); i += 2
        require(offset > 0 && offset <= oLen,
          s"lz4 match offset $offset out of range at $oLen")
        val matchLen = readLen(token & 0xf) + 4
        ensure(matchLen)
        var m = oLen - offset
        var k = 0
        while (k < matchLen) { out(oLen) = out(m); oLen += 1; m += 1; k += 1 }
      }
    }
    java.util.Arrays.copyOf(out, oLen)
  }

  /** Footer blob descriptors + file properties. LZ4-compressed footers
    * decode through [[lz4FrameDecompress]] (r14). */
  def footer(spark: SparkSession, puffinPath: String): (Seq[BlobMeta], Map[String, String]) = {
    val bytes = readAll(spark, new Path(puffinPath))
    require(bytes.length >= 4 + 4 + 4 + 4 + 4 + 4, // magic + empty-footer framing
      s"$puffinPath is too short to be a puffin file (${bytes.length} bytes)")
    def magicAt(off: Int, where: String): Unit =
      require(java.util.Arrays.equals(
        java.util.Arrays.copyOfRange(bytes, off, off + 4), Magic),
        s"$puffinPath lacks the PFA1 magic at its $where")
    magicAt(0, "head")
    magicAt(bytes.length - 4, "tail")
    val flags = java.util.Arrays.copyOfRange(bytes, bytes.length - 8, bytes.length - 4)
    val compressed = (flags(0) & 0x1) != 0
    require(flags.drop(1).forall(_ == 0) && (flags(0) & 0xfe) == 0,
      s"puffin footer of $puffinPath sets reserved flag bits")
    val size = ByteBuffer.wrap(bytes, bytes.length - 12, 4)
      .order(ByteOrder.LITTLE_ENDIAN).getInt
    val payloadStart = bytes.length - 12 - size
    require(size >= 0 && payloadStart >= 8,
      s"puffin footer payload size $size of $puffinPath is out of range")
    magicAt(payloadStart - 4, "footer start")
    val payload =
      if (!compressed) java.util.Arrays.copyOfRange(
        bytes, payloadStart, payloadStart + size)
      else lz4FrameDecompress(java.util.Arrays.copyOfRange(
        bytes, payloadStart, payloadStart + size))
    val json = Json.mapper.readTree(new String(payload, UTF_8))
    val blobsNode = json.get("blobs")
    val blobs = (0 until (if (blobsNode == null) 0 else blobsNode.size())).map { i =>
      val b = blobsNode.get(i)
      val props = Option(b.get("properties")).map { p =>
        val it = p.properties().iterator()
        val m = Map.newBuilder[String, String]
        while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue.asText() }
        m.result()
      }.getOrElse(Map.empty[String, String])
      Option(b.get("compression-codec")).filterNot(_.isNull).foreach { c =>
        throw new UnsupportedOperationException(
          s"puffin blob $i of $puffinPath is ${c.asText()}-compressed; this " +
            "reader serves uncompressed blobs only")
      }
      BlobMeta(b.get("type").asText(),
        Option(b.get("snapshot-id")).map(_.asLong()).getOrElse(-1L),
        Option(b.get("sequence-number")).map(_.asLong()).getOrElse(-1L),
        b.get("offset").asLong(), b.get("length").asLong(), props)
    }
    val fileProps = Option(json.get("properties")).map { p =>
      val it = p.properties().iterator()
      val m = Map.newBuilder[String, String]
      while (it.hasNext) { val e = it.next(); m += e.getKey -> e.getValue.asText() }
      m.result()
    }.getOrElse(Map.empty[String, String])
    (blobs, fileProps)
  }

  /** One written DV blob: where it landed, for manifests to reference. */
  final case class DvRef(referencedDataFile: String, offset: Long,
      length: Long, cardinality: Long)

  /** Write a spec-shaped puffin file holding one `deletion-vector-v1`
    * blob per (data file → deleted positions) pair, with a full JSON
    * footer (`referenced-data-file` and `cardinality` blob properties
    * per the v3 spec). Returns the per-blob manifest coordinates. */
  def writeDvFile(spark: SparkSession, puffinPath: String,
      dvs: Seq[(String, Seq[Long])], snapshotId: Long,
      sequenceNumber: Long): Seq[DvRef] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    val refs = dvs.map { case (dataFile, positions) =>
      val body = DeltaDv.serialize(positions.distinct.sorted)
      val crc = new CRC32(); crc.update(body)
      val frame = ByteBuffer.allocate(4 + body.length + 4)
      frame.putInt(body.length)
      frame.put(body)
      frame.putInt(crc.getValue.toInt)
      val offset = out.size().toLong
      out.write(frame.array())
      DvRef(dataFile, offset, frame.capacity().toLong, positions.distinct.size.toLong)
    }
    val payload = Json.mapper.writeValueAsBytes(ListMap(
      "blobs" -> refs.map(r => ListMap("type" -> "deletion-vector-v1", "fields" -> Seq.empty,
        "snapshot-id" -> snapshotId, "sequence-number" -> sequenceNumber,
        "offset" -> r.offset, "length" -> r.length,
        "properties" -> ListMap("referenced-data-file" -> r.referencedDataFile,
          "cardinality" -> r.cardinality.toString))),
      "properties" -> ListMap("created-by" -> "graft")))
    out.write(Magic)
    out.write(payload)
    out.write(ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(payload.length).array())
    out.write(Array[Byte](0, 0, 0, 0)) // flags: uncompressed
    out.write(Magic)
    val p = new Path(puffinPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val os = fs.create(p, true)
    try os.write(out.toByteArray) finally os.close()
    refs
  }
}
