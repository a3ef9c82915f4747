package graft.queries

import graft.operators.{CentroidAggregator, MultimodalOps}
import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{size => asize, _}

/** Multimodal-column + typed-aggregator inventory (EXT north-star).
  * The corpus has no real media, so binary media are synthesized —
  * text bytes exercise the decode kernel's degrade path, generated
  * PNGs its real `ImageIO` path — and every query is hash-checked
  * against a DuckDB oracle (the degrade arithmetic mirrored from
  * `hex(blob)`, the real decode against its closed form).
  */
object MultimodalQueries {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Typed metadata over opaque binary columns (no decode): byte count,
    * container format from the name, content-addressed id. */
  val qMultimodalMeta: QueryDef = QueryDef.sql(
    "q_multimodal_meta",
    """SELECT doc_id,
      |  octet_length(CAST(text AS BLOB)) AS n_bytes,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
      |  sha256(text) AS content_id
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val media = docs(s, d).select(
      col("doc_id"),
      col("text").cast("binary").as("blob"),
      concat(lit("m_"), col("doc_id").cast("string"), lit("."),
        element_at(array(lit("png"), lit("wav"), lit("mp4")),
          (col("doc_id") % 3).cast("int") + 1)).as("name"))
    MultimodalOps.withMetadata(media, "blob", "name")
      .select(col("doc_id"),
        col("media_meta.n_bytes").as("n_bytes"),
        col("media_meta.format").as("format"),
        col("media_meta.content_id").as("content_id"))
      .orderBy("doc_id")
  }

  /** The decode kernel's DEGRADE path through the mapPartitions
    * plumbing: text blobs are not images, so every row takes the
    * corrupt-input fallback (deterministic byte arithmetic — first-byte
    * dims + 8-bucket byte histogram ÷ n, `decoded=false`), which the
    * oracle reproduces in DuckDB from `hex(blob)` — a full hash check
    * of the fallback AND the flag, not just a row count. The REAL
    * decode path is hash-checked by [[qMultimodalDecode]]. */
  val qMultimodalFeatures: QueryDef = {
    // hex digit → int (DuckDB hex() is uppercase; normalized via lower())
    def hx(c: String) = s"(ascii($c) - CASE WHEN ascii($c) >= 97 THEN 87 ELSE 48 END)"
    // unsigned value of 0-based byte i of hex string h
    def bv(i: String) = s"(${hx(s"substr(h, 2*($i) + 1, 1)")} * 16 + ${hx(s"substr(h, 2*($i) + 2, 1)")})"
    val fCols = (0 until 8).map { k =>
      s"CAST(len(list_filter(range(0, n), i -> (${bv("i")} >> 5) = $k)) AS DOUBLE) / CAST(GREATEST(n, 1) AS DOUBLE) AS f$k"
    }.mkString(",\n  ")
    QueryDef.sql(
      "q_multimodal_features",
      s"""WITH b AS (
         |  SELECT doc_id, lower(hex(CAST(text AS BLOB))) AS h,
         |         octet_length(CAST(text AS BLOB)) AS n
         |  FROM documents
         |), v AS (
         |  SELECT doc_id, h, n,
         |    CASE WHEN n = 0 THEN 0 ELSE ${bv("0")} END AS v0
         |  FROM b
         |)
         |SELECT doc_id,
         |  CAST(16 + (CASE WHEN v0 >= 128 THEN 256 - v0 ELSE v0 END) % 64 AS INTEGER) AS width,
         |  CAST(16 + n % 64 AS INTEGER) AS height,
         |  FALSE AS decoded,
         |  $fCols
         |FROM v
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val media = docs(s, d).select(col("doc_id"), col("text").cast("binary").as("blob"))
      val feats = (0 until 8).map(k => element_at(col("features"), k + 1).as(s"f$k"))
      MultimodalOps.decodeAndFeaturize(media, "blob")
        .select(col("doc_id") +: col("width") +: col("height") +: col("decoded") +: feats: _*)
        .orderBy("doc_id")
    }
  }

  /** The REAL decode path, hash-checked: solid-color PNGs are
    * synthesized per document (size and gray level derived from
    * `doc_id`; PNG is lossless so decode is bit-exact), pushed through
    * the same `ImageIO` mapPartitions kernel as production media, and
    * the decoded width/height/luminance-histogram must match the
    * closed-form oracle (a solid gray-`g` image puts ALL pixels in
    * luminance bucket `g/32`). The fixture-encode UDF is test
    * scaffolding, not a production operator — production media arrive
    * as bytes. */
  val qMultimodalDecode: QueryDef = {
    val fCols = (0 until 8).map { k =>
      s"CASE WHEN bucket = $k THEN 1.0 ELSE 0.0 END AS f$k"
    }.mkString(",\n  ")
    QueryDef.sql(
      "q_multimodal_decode",
      s"""WITH p AS (
         |  SELECT doc_id,
         |    CAST(1 + doc_id % 16 AS INTEGER) AS width,
         |    CAST(1 + doc_id % 8 AS INTEGER) AS height,
         |    ((doc_id * 7) % 256) // 32 AS bucket
         |  FROM documents
         |)
         |SELECT doc_id, width, height, TRUE AS decoded, $fCols
         |FROM p
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val encodePng = udf { id: Long =>
        val g = ((id * 7) % 256).toInt
        MultimodalOps.encodeSolidPng(
          1 + (id % 16).toInt, 1 + (id % 8).toInt, (g << 16) | (g << 8) | g)
      }
      val media = docs(s, d).select(col("doc_id"), encodePng(col("doc_id")).as("blob"))
      val feats = (0 until 8).map(k => element_at(col("features"), k + 1).as(s"f$k"))
      MultimodalOps.decodeAndFeaturize(media, "blob")
        .select(col("doc_id") +: col("width") +: col("height") +: col("decoded") +: feats: _*)
        .orderBy("doc_id")
    }
  }

  /** The REAL audio decode path, hash-checked — the WAV sibling of
    * [[qMultimodalDecode]]: a square wave per document (period,
    * amplitude and length derived from `doc_id`), encoded as RIFF
    * PCM-16 (lossless, decode is bit-exact), pushed through the
    * `decodeAudioFeatures` mapPartitions kernel, and the decoded
    * sample count / µs duration / peak / sign crossings / Σ sample²
    * must match their closed forms (a ±a square wave of period p over
    * n samples has peak a, ⌊(n−1)/p⌋ crossings and energy n·a²) —
    * exact integers end to end, no float summation on either engine. */
  val qMultimodalAudio: QueryDef = QueryDef.sql(
    "q_multimodal_audio",
    """SELECT doc_id,
      |  8000 AS sample_rate,
      |  CAST(800 + doc_id % 200 AS BIGINT) AS n_samples,
      |  CAST((800 + doc_id % 200) * 125 AS BIGINT) AS duration_us,
      |  CAST(1000 + (doc_id % 100) * 10 AS INTEGER) AS peak,
      |  CAST((800 + doc_id % 200 - 1) // (2 + doc_id % 14) AS BIGINT) AS zero_crossings,
      |  CAST((800 + doc_id % 200)
      |    * (1000 + (doc_id % 100) * 10)
      |    * (1000 + (doc_id % 100) * 10) AS BIGINT) AS energy_sq,
      |  TRUE AS decoded
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkWav = udf { id: Long =>
      val p = 2 + (id % 14).toInt
      val a = (1000 + (id % 100) * 10).toInt
      val n = (800 + id % 200).toInt
      val samples = Array.tabulate[Short](n)(i => (if ((i / p) % 2 == 0) a else -a).toShort)
      MultimodalOps.encodeWavPcm16(8000, samples)
    }
    val media = docs(s, d).select(col("doc_id"), mkWav(col("doc_id")).as("blob"))
    MultimodalOps.decodeAudioFeatures(media, "blob")
      .select(col("doc_id"), col("sample_rate"), col("n_samples"), col("duration_us"),
        col("peak"), col("zero_crossings"), col("energy_sq"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Video METADATA extraction, hash-checked — the third modality:
    * minimal ISO-BMFF containers (ftyp + moov(mvhd + trak(tkhd)),
    * timescale/duration/dimensions derived from `doc_id`) are walked
    * by the `extractVideoMeta` kernel WITHOUT touching any codec, and
    * the recovered timescale, duration (+ exact µs), and 16.16-fixed
    * pixel dimensions must match their closed forms. This is the
    * box-walk a video lake runs to build prunable columns before any
    * frame decode. */
  val qMultimodalVideo: QueryDef = QueryDef.sql(
    "q_multimodal_video",
    """SELECT doc_id,
      |  1000 AS timescale,
      |  CAST(10000 + doc_id % 5000 AS BIGINT) AS duration,
      |  CAST((10000 + doc_id % 5000) * 1000 AS BIGINT) AS duration_us,
      |  CAST(320 + (doc_id % 4) * 160 AS INTEGER) AS width,
      |  CAST(240 + (doc_id % 4) * 120 AS INTEGER) AS height,
      |  TRUE AS parsed
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkMp4 = udf { id: Long =>
      MultimodalOps.encodeMp4Meta(1000, (10000 + id % 5000).toInt,
        (320 + (id % 4) * 160).toInt, (240 + (id % 4) * 120).toInt)
    }
    val media = docs(s, d).select(col("doc_id"), mkMp4(col("doc_id")).as("blob"))
    MultimodalOps.extractVideoMeta(media, "blob")
      .select(col("doc_id"), col("timescale"), col("duration"), col("duration_us"),
        col("width"), col("height"), col("parsed"))
      .orderBy("doc_id")
  }

  /** Frame/keyframe SAMPLING from real MP4 sample tables — the
    * decode-planning step of a video ingest: `mdhd` media timescale,
    * `stts` time-to-sample runs and `stss` sync samples are parsed by
    * the `sampleFrames` kernel, which emits total frames, keyframe
    * count, exact-µs duration and the first-5 keyframe seek
    * timestamps (the list a frame-decode job would hand to a seeking
    * decoder). Fixtures carry REAL sample tables (uniform delta, sync
    * every g-th frame) whose closed forms the oracle recomputes with
    * identical integer division — a one-tick parse error anywhere in
    * the box walk breaks the hash. Per-row narrow work; no codec. */
  val qMultimodalFrames: QueryDef = QueryDef.sql(
    "q_multimodal_frames",
    """WITH p AS (
      |  SELECT doc_id,
      |    600 * (1 + doc_id % 3) AS ts,
      |    24 + doc_id % 60 AS n,
      |    100 + (doc_id % 4) * 25 AS delta,
      |    1 + doc_id % 8 AS g
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CAST(ts AS INTEGER) AS media_timescale,
      |  CAST(n AS BIGINT) AS n_frames,
      |  CAST(1 + (n - 1) // g AS BIGINT) AS n_keyframes,
      |  CAST((n * delta * 1000000) // ts AS BIGINT) AS duration_us,
      |  array_to_string(list_transform(range(0, least(5, 1 + (n - 1) // g)),
      |    k -> CAST((k * g * delta * 1000000) // ts AS VARCHAR)), ',') AS kf_sample_us,
      |  TRUE AS parsed
      |FROM p
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkMp4 = udf { id: Long =>
      MultimodalOps.encodeMp4Frames(
        (600 * (1 + id % 3)).toInt, (24 + id % 60).toInt,
        (100 + (id % 4) * 25).toInt, (1 + id % 8).toInt)
    }
    val media = docs(s, d).select(col("doc_id"), mkMp4(col("doc_id")).as("blob"))
    MultimodalOps.sampleFrames(media, "blob")
      .select(col("doc_id"), col("media_timescale"), col("n_frames"),
        col("n_keyframes"), col("duration_us"), col("kf_sample_us"), col("parsed"))
      .orderBy("doc_id")
  }

  /** Perceptual-hash image dedup, hash-checked end to end through REAL
    * pixels: vertical-stripe PNGs (column gray = `(7·id + 31·x) mod
    * 256`, dimensions from `doc_id`) are decoded by `ImageIO`,
    * average-pooled onto the 9×8 dHash grid with exact integer means,
    * and the packed 64-bit hash + per-hash cluster size must match the
    * closed form (stripes are y-constant, so every grid row yields the
    * same difference byte and the hash is that byte repeated — which
    * the oracle rebuilds from the same modular arithmetic). The hex
    * rendering keeps both engines in exact-integer/string space (a
    * BIGINT build of the repeated byte would overflow DuckDB's checked
    * arithmetic for bytes ≥ 0x80). `dup_n` over the hash is the
    * one-shuffle perceptual-dup-cluster face: near-identical images
    * collide on phash exactly the way exact dedup collides on sha2. */
  val qMultimodalPhash: QueryDef = QueryDef.sql(
    "q_multimodal_phash",
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 4 AS BIGINT) AS bw,
      |    CAST(8 * (1 + doc_id % 3) AS INTEGER) AS h,
      |    (doc_id * 7) % 256 AS base
      |  FROM documents
      |), cells AS (
      |  SELECT doc_id, bw, h,
      |    list_transform(range(0, 9), c ->
      |      list_sum(list_transform(range(c * bw, (c + 1) * bw), x -> (base + x * 31) % 256)) // bw
      |    ) AS cell
      |  FROM g
      |), bits AS (
      |  SELECT doc_id, bw, h,
      |    list_sum(list_transform(range(0, 8), c ->
      |      CASE WHEN cell[CAST(c AS INT) + 2] > cell[CAST(c AS INT) + 1]
      |           THEN 1 << CAST(c AS INT) ELSE 0 END)) AS rowbyte
      |  FROM cells
      |)
      |SELECT doc_id, CAST(bw * 9 AS INTEGER) AS width, h AS height, TRUE AS decoded,
      |  repeat(lpad(lower(to_hex(rowbyte)), 2, '0'), 8) AS phash_hex,
      |  COUNT(*) OVER (PARTITION BY rowbyte) AS dup_n
      |FROM bits
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkPng = udf { id: Long =>
      MultimodalOps.encodeStripePng(
        9 * (1 + (id % 4).toInt), 8 * (1 + (id % 3).toInt), ((id * 7) % 256).toInt)
    }
    val media = docs(s, d).select(col("doc_id"), mkPng(col("doc_id")).as("blob"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("phash"))
    MultimodalOps.perceptualHash(media, "blob")
      .select(col("doc_id"), col("width"), col("height"), col("decoded"),
        format_string("%016x", col("phash")).as("phash_hex"),
        count(lit(1)).over(w).as("dup_n"))
      .orderBy("doc_id")
  }

  /** Perceptual NEAR-duplicate image pairs — the hamming-banded sibling
    * of [[qMultimodalPhash]] (exact clusters) and the image analogue of
    * `q_dedup_simhash_pairs`: 16-bit sub-keys of the 64-bit dHash
    * block the candidate join (a pair is a candidate iff SOME band
    * matches — never all-pairs), then the full-hash hamming distance
    * keeps pairs ≤ 4 bits apart. Fixtures are TWO-band stripe
    * PNGs (top/bottom halves from independent gradient bases), so the
    * hash carries two distinct row bytes and distances are non-trivial;
    * both engines compute the same blocking and the same distance, the
    * oracle from the closed form, Spark from real decoded pixels. */
  val qMultimodalPhashPairs: QueryDef = QueryDef.sql(
    "q_multimodal_phash_pairs",
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST((doc_id % 97) * 2 + 7 AS BIGINT) AS b1,
      |    CAST(((doc_id * 5) % 29) * 9 + 3 AS BIGINT) AS b2
      |  FROM documents
      |), rb AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(0, 8), c ->
      |      CASE WHEN (b1 + 31 * (c + 1)) % 256 > (b1 + 31 * c) % 256
      |           THEN 1 << CAST(c AS INT) ELSE 0 END)) AS ra,
      |    list_sum(list_transform(range(0, 8), c ->
      |      CASE WHEN (b2 + 31 * (c + 1)) % 256 > (b2 + 31 * c) % 256
      |           THEN 1 << CAST(c AS INT) ELSE 0 END)) AS rbb
      |  FROM g
      |), blocks AS (
      |  SELECT doc_id, ra, rbb,
      |    unnest(['a:' || CAST(ra AS VARCHAR), 'b:' || CAST(rbb AS VARCHAR)]) AS block
      |  FROM rb
      |)
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(4 * (bit_count(xor(a.ra, b.ra)) + bit_count(xor(a.rbb, b.rbb))) AS BIGINT) AS hamming
      |FROM blocks a JOIN blocks b ON a.block = b.block AND a.doc_id < b.doc_id
      |WHERE 4 * (bit_count(xor(a.ra, b.ra)) + bit_count(xor(a.rbb, b.rbb))) <= 4
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val mkPng = udf { id: Long =>
      MultimodalOps.encodeBandedStripePng(9, 16, Array(
        ((id % 97) * 2 + 7).toInt, (((id * 5) % 29) * 9 + 3).toInt))
    }
    val media = docs(s, d).select(col("doc_id"), mkPng(col("doc_id")).as("blob"))
    val hashed = MultimodalOps.perceptualHash(media, "blob")
      .select(col("doc_id"), col("phash"))
    // 16-BIT sub-keys (bytes 0–1 and 4–5 = two grid rows each), the
    // same band width as the text SimHash path: 65536 buckets per
    // band, so a real corpus blocks at ~n²/2¹⁷ candidates, not the
    // ~n²/2⁹ an 8-bit key would give. On the stripe fixtures each
    // band is one row byte repeated (grid rows inside a stripe band
    // are identical), so band equality ⟺ row-byte equality and the
    // oracle's byte-level blocking produces the identical candidate
    // set.
    val blocks = hashed.select(col("doc_id"), col("phash"),
      explode(array(
        concat(lit("a:"), col("phash").bitwiseAND(lit(0xFFFFL)).cast("string")),
        concat(lit("b:"), shiftrightunsigned(col("phash"), 32)
          .bitwiseAND(lit(0xFFFFL)).cast("string")))).as("block"))
    blocks.as("a").join(blocks.as("b"),
        col("a.block") === col("b.block") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.phash ^ b.phash) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 4)
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Audio QUALITY gating, hash-checked through REAL PCM: each fixture
    * is `k` samples of digital silence (untrimmed capture padding)
    * followed by a ±a square wave, where docs with `id % 10 ∈ {8, 9}`
    * clamp their amplitude to 32767 — i.e. clip. The kernel's counters
    * (clipped / silent / leading-silence / peak) must match their
    * closed forms exactly; these are the integer columns a 100 TB audio
    * corpus filters on before any feature extraction. */
  val qMultimodalAudioQuality: QueryDef = QueryDef.sql(
    "q_multimodal_audio_quality",
    """SELECT doc_id,
      |  8000 AS sample_rate,
      |  CAST(800 + doc_id % 200 AS BIGINT) AS n_samples,
      |  CAST(CASE WHEN doc_id % 10 >= 8
      |       THEN 800 + doc_id % 200 - doc_id % 50 ELSE 0 END AS BIGINT) AS n_clipped,
      |  CAST(doc_id % 50 AS BIGINT) AS n_silent,
      |  CAST(doc_id % 50 AS BIGINT) AS lead_silence,
      |  CAST(LEAST(32767, 32000 + (doc_id % 10) * 100) AS INTEGER) AS peak,
      |  TRUE AS decoded
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkWav = udf { id: Long => MultimodalOps.wavQualityFixture(id) }
    val media = docs(s, d).select(col("doc_id"), mkWav(col("doc_id")).as("blob"))
    MultimodalOps.audioQuality(media, "blob")
      .select(col("doc_id"), col("sample_rate"), col("n_samples"), col("n_clipped"),
        col("n_silent"), col("lead_silence"), col("peak"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Image RESIZE (model-input prep), hash-checked through real
    * pixels: stripe fixtures of varying dimensions are decoded,
    * box-average-downscaled to a fixed 9×8 raster with exact integer
    * cell means, and the resized raster's luminance checksum must
    * match the closed form (stripes are y-constant, so the checksum is
    * 8× the row sum of pooled cells). The kernel also re-encodes the
    * resized raster as lossless PNG bytes for downstream consumers —
    * MultimodalSpec re-decodes those and asserts pixel equality. */
  val qMultimodalResize: QueryDef = QueryDef.sql(
    "q_multimodal_resize",
    """WITH g AS (
      |  SELECT doc_id, CAST(1 + doc_id % 3 AS BIGINT) AS bw,
      |         (doc_id * 11) % 256 AS base
      |  FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(range(0, 9), c ->
      |      list_sum(list_transform(range(c * bw, (c + 1) * bw), x -> (base + x * 31) % 256)) // bw
      |    )) AS row_lum
      |  FROM g
      |)
      |SELECT doc_id, 9 AS out_width, 8 AS out_height,
      |  CAST(8 * row_lum AS BIGINT) AS sum_lum, TRUE AS decoded
      |FROM s
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkPng = udf { id: Long =>
      MultimodalOps.encodeBandedStripePng(
        9 * (1 + (id % 3).toInt), 8 * (1 + (id % 2).toInt), Array(((id * 11) % 256).toInt))
    }
    val media = docs(s, d).select(col("doc_id"), mkPng(col("doc_id")).as("blob"))
    MultimodalOps.resizeImages(media, "blob", 9, 8)
      .select(col("doc_id"), col("out_width"), col("out_height"),
        col("sum_lum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Media-ledger CONSISTENCY screen, hash-checked through real
    * pixels: at ingest time a pipeline records each sample's
    * perceptual hash in its ledger; this query re-hashes the CURRENT
    * media bytes with the real decode kernel and compares — a mismatch
    * means the blob was corrupted, re-encoded, or swapped after ingest
    * (silent sample/label mismatch, the worst kind of training noise).
    * Fixtures corrupt every 10th document by reversing its stripe
    * gradient (ascending and descending stripes cannot share a
    * difference byte unless flat), so the oracle knows exactly which
    * rows must flag and at what hamming distance. Comparison happens
    * at the repeated-row-byte level — exact small integers on both
    * engines, no 64-bit construction that DuckDB's checked arithmetic
    * would reject. */
  val qMultimodalConsistency: QueryDef = QueryDef.sql(
    "q_multimodal_consistency",
    """WITH g AS (
      |  SELECT doc_id, CAST((doc_id % 50) * 5 + 1 AS BIGINT) AS b,
      |         doc_id % 10 = 0 AS corrupted
      |  FROM documents
      |), h AS (
      |  SELECT doc_id, corrupted,
      |    CAST(list_sum(list_transform(range(0, 8), c ->
      |      CASE WHEN (b + 31 * (c + 1)) % 256 > (b + 31 * c) % 256
      |           THEN 1 << CAST(c AS INT) ELSE 0 END)) AS BIGINT) AS claimed_byte,
      |    CAST(CASE WHEN corrupted THEN
      |      list_sum(list_transform(range(0, 8), c ->
      |        CASE WHEN ((b - 31 * (c + 1)) % 256 + 256) % 256 > ((b - 31 * c) % 256 + 256) % 256
      |             THEN 1 << CAST(c AS INT) ELSE 0 END))
      |    ELSE
      |      list_sum(list_transform(range(0, 8), c ->
      |        CASE WHEN (b + 31 * (c + 1)) % 256 > (b + 31 * c) % 256
      |             THEN 1 << CAST(c AS INT) ELSE 0 END))
      |    END AS BIGINT) AS actual_byte
      |  FROM g
      |)
      |SELECT doc_id, claimed_byte, actual_byte,
      |  CAST(8 * bit_count(xor(claimed_byte, actual_byte)) AS BIGINT) AS hamming,
      |  claimed_byte = actual_byte AS consistent
      |FROM h
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkPng = udf { id: Long =>
      val b = ((id % 50) * 5 + 1).toInt
      MultimodalOps.encodeBandedStripePng(9, 8, Array(b),
        step = if (id % 10 == 0) -31 else 31)
    }
    // the ingest-time ledger value: the closed-form hash byte of the
    // ORIGINAL (ascending) stripe — what perceptualHash returned when
    // the sample was first written (q_multimodal_phash pins that the
    // kernel and this closed form agree on uncorrupted media)
    val bCol = (col("doc_id") % 50) * 5 + 1
    val claimed = (0 until 8).map { c =>
      when((bCol + 31 * (c + 1)) % 256 > (bCol + 31 * c) % 256, lit(1L << c))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    val media = docs(s, d).select(col("doc_id"), mkPng(col("doc_id")).as("blob"),
      claimed.cast("long").as("claimed_byte"))
    MultimodalOps.perceptualHash(media, "blob")
      .select(col("doc_id"), col("claimed_byte"),
        col("phash").bitwiseAND(lit(255L)).as("actual_byte"))
      .withColumn("hamming",
        expr("CAST(8 * bit_count(claimed_byte ^ actual_byte) AS BIGINT)"))
      .withColumn("consistent", col("claimed_byte") === col("actual_byte"))
      .orderBy("doc_id")
  }

  /** EXIF orientation extraction, hash-checked through REAL JPEG+TIFF
    * bytes: fixtures are genuine `ImageIO` JPEGs with an APP1/Exif
    * segment spliced in camera layout — IFD0 orientation tag, byte
    * order ALTERNATING per doc so both TIFF endiannesses are exercised
    * — and the kernel's parsed orientation plus the derived
    * rotation/mirror/display-dimension columns must match their closed
    * forms. This is the metadata pass an image pipeline runs before
    * batching: a transposed orientation swaps the display dims, and a
    * missed rotation is silent label noise. */
  val qMultimodalExif: QueryDef = QueryDef.sql(
    "q_multimodal_exif",
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(1 + doc_id % 8 AS INTEGER) AS o,
      |    CAST(16 + doc_id % 16 AS INTEGER) AS w,
      |    CAST(12 + doc_id % 8 AS INTEGER) AS h
      |  FROM documents
      |)
      |SELECT doc_id, o AS orientation, TRUE AS has_exif,
      |  CAST(CASE WHEN o IN (3, 4) THEN 180 WHEN o IN (5, 6) THEN 90
      |       WHEN o IN (7, 8) THEN 270 ELSE 0 END AS INTEGER) AS rotate_deg,
      |  o IN (2, 4, 5, 7) AS mirrored,
      |  CASE WHEN o >= 5 THEN h ELSE w END AS out_width,
      |  CASE WHEN o >= 5 THEN w ELSE h END AS out_height,
      |  TRUE AS decoded
      |FROM p
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkJpeg = udf { id: Long =>
      MultimodalOps.encodeJpegWithExif(
        16 + (id % 16).toInt, 12 + (id % 8).toInt, 128,
        1 + (id % 8).toInt, littleEndian = id % 2 == 0)
    }
    val media = docs(s, d).select(col("doc_id"), mkJpeg(col("doc_id")).as("blob"))
    MultimodalOps.exifOrientations(media, "blob")
      .select(col("doc_id"), col("orientation"), col("has_exif"), col("rotate_deg"),
        col("mirrored"), col("out_width"), col("out_height"), col("decoded"))
      .orderBy("doc_id")
  }

  /** Typed Aggregator (the declared UDAF): per-label embedding centroid
    * with quantized-integer buffers; oracle reproduces the exact integer
    * math. */
  val qCentroid: QueryDef = QueryDef.sql(
    "q_centroid",
    """WITH comp AS (
      |  SELECT label,
      |    unnest(range(0, 64)) AS pos,
      |    unnest(CAST(embedding AS DOUBLE[])) AS v
      |  FROM embeddings
      |), cent AS (
      |  SELECT label, pos,
      |    CAST(SUM(CAST(ROUND(v * 1048576.0) AS BIGINT)) AS BIGINT) AS s_units,
      |    COUNT(*) AS n
      |  FROM comp GROUP BY label, pos
      |), vecs AS (
      |  SELECT label, MAX(n) AS n,
      |    list(CAST(s_units AS DOUBLE) / 1048576.0 / CAST(n AS DOUBLE) ORDER BY pos) AS centroid
      |  FROM cent GROUP BY label
      |)
      |SELECT CAST(label AS INT) AS label, n,
      |  centroid[1] AS c0,
      |  sqrt(list_reduce(list_transform(centroid, x -> x * x), (a, b) -> a + b)) AS cnorm
      |FROM vecs
      |ORDER BY label""".stripMargin) { (s, d) =>
    import s.implicits._
    val ds = Tables(s, d, "embeddings")
      .select(col("label").cast("int").as("label"),
        col("embedding").cast("array<double>").as("e"))
      .as[(Int, Seq[Double])]
    val aggCol = new CentroidAggregator(64).toColumn
    ds.groupByKey(_._1).mapValues(_._2).agg(aggCol)
      .map { case (label, r) => (label, r.n, r.centroid) }
      .toDF("label", "n", "centroid")
      .select(col("label"), col("n"),
        element_at(col("centroid"), 1).as("c0"),
        sqrt(aggregate(col("centroid"), lit(0.0d), (a, x) => a + x * x)).as("cnorm"))
      .orderBy("label")
  }

  /** `binaryFile` SOURCE scan — the media-ingest entry point the
    * decode kernels feed from on a real deployment: loose files on
    * disk (images, audio, shards) become (path, length, content) rows
    * with NO parsing assumptions. Deterministic media files (a 5-byte
    * binary header with a NUL + the cleaned text bytes, one per 20th
    * doc) are materialized to a scratch dir, scanned through
    * `spark.read.format("binaryFile")`, and fingerprinted; the oracle
    * recomputes name/length/sha RELATIONALLY from the parquet source
    * of truth (`sha256(hex(header ∥ bytes))` — hex-string arithmetic,
    * so the NUL-bearing binary roundtrip is checked without blob
    * literals). A single byte lost or reordered by the source breaks
    * the hash.
    *
    * Scale: binaryFile is Spark's distributed file-manifest scan —
    * listing parallelizes, each file is one row/task unit, and
    * `pathGlobFilter`/`recursiveFileLookup` prune at the listing
    * level; the 25-file fixture stands in for a 10⁸-object media
    * bucket. The fixture materialization collects only the 25
    * selected rows (bounded by construction). */
  val qBinaryFileScan: QueryDef = QueryDef.sql(
    "q_binaryfile_scan",
    s"""SELECT doc_id,
       |  5 + strlen(clean) AS n_bytes,
       |  sha256('8947524600' || hex(encode(clean))) AS sha
       |FROM (
       |  SELECT doc_id, ${graft.functions.TextFunctions.cleanTextSql("text")} AS clean
       |  FROM documents WHERE doc_id % 20 = 0
       |)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val Seq(dir) = Fixtures.dirs(s, "graft_binfile", "binfile")
    val header = Array[Byte](0x89.toByte, 'G', 'R', 'F', 0x00)
    val sel = docs(s, d).filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), graft.functions.TextFunctions.cleanText(col("text")).as("clean"))
      .collect() // 25 rows at sf0.01 — bounded fixture materialization
    val d0 = new java.io.File(dir)
    d0.mkdirs()
    sel.foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/doc_${r.getLong(0)}.dat"),
        header ++ r.getString(1).getBytes("UTF-8"))
    }
    s.read.format("binaryFile")
      .option("pathGlobFilter", "*.dat")
      .load(dir)
      .select(
        regexp_extract(col("path"), "doc_(\\d+)\\.dat", 1).cast("long").as("doc_id"),
        col("length").as("n_bytes"),
        sha2(hex(col("content")), 256).as("sha"))
      .orderBy("doc_id")
  }

  /** Audio DECIMATION (model-input prep, the audio twin of
    * [[qMultimodalResize]]): the square-wave fixtures are boxcar-
    * decimated 4:1 by the real kernel (floor-div window means, tail
    * dropped, re-encoded as a 2 kHz WAV) and summarized by an
    * order-sensitive exact checksum Σ(i+1)·out(i); the oracle
    * reconstructs every window mean relationally from the fixture's
    * sign function with the SAME floor division — one sample shifted,
    * clipped, or mis-averaged anywhere in the signal breaks the hash.
    * The emitted WAV itself is decode-verified in MultimodalSpec. */
  val qMultimodalResample: QueryDef = QueryDef.sql(
    "q_multimodal_resample",
    """WITH p AS (
      |  SELECT doc_id, 2 + doc_id % 14 AS p, 1000 + (doc_id % 100) * 10 AS a,
      |    (800 + doc_id % 200) // 4 AS n_out
      |  FROM documents
      |), w AS (
      |  SELECT doc_id, n_out, i,
      |    (CASE WHEN ((4 * i) // p) % 2 = 0 THEN 1 ELSE -1 END
      |   + CASE WHEN ((4 * i + 1) // p) % 2 = 0 THEN 1 ELSE -1 END
      |   + CASE WHEN ((4 * i + 2) // p) % 2 = 0 THEN 1 ELSE -1 END
      |   + CASE WHEN ((4 * i + 3) // p) % 2 = 0 THEN 1 ELSE -1 END) * a AS wsum
      |  FROM p, LATERAL (SELECT unnest(range(0, n_out)) AS i)
      |)
      |SELECT doc_id, 2000 AS out_rate,
      |  CAST(MAX(n_out) AS BIGINT) AS n_out,
      |  CAST(SUM((i + 1) * (wsum // 4)) AS BIGINT) AS checksum,
      |  TRUE AS decoded
      |FROM w
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkWav = udf { id: Long =>
      val p = 2 + (id % 14).toInt
      val a = (1000 + (id % 100) * 10).toInt
      val n = (800 + id % 200).toInt
      val samples = Array.tabulate[Short](n)(i => (if ((i / p) % 2 == 0) a else -a).toShort)
      MultimodalOps.encodeWavPcm16(8000, samples)
    }
    val media = docs(s, d).select(col("doc_id"), mkWav(col("doc_id")).as("blob"))
    MultimodalOps.resampleAudio(media, "blob", 4)
      .select(col("doc_id"), col("out_rate"), col("n_out"), col("checksum"), col("decoded"))
      .orderBy("doc_id")
  }

  /** GIF ANIMATION metadata — the fifth container family (zip, tar,
    * RIFF, ISO-BMFF, now GIF): frame count, NETSCAPE loop count and
    * first-frame delay recovered by a structural block walk with NO
    * LZW decode (extensions and image-data sub-block chains skipped
    * by length bytes) — the animation-ledger pass a media lake runs
    * before frame extraction. Fixtures carry real multi-frame block
    * structure from closed forms the oracle recomputes; corrupt bytes
    * degrade flagged in MultimodalSpec. */
  val qMultimodalGif: QueryDef = QueryDef.sql(
    "q_multimodal_gif",
    """SELECT doc_id,
      |  CAST(32 + (doc_id % 3) * 16 AS INTEGER) AS width,
      |  CAST(1 + doc_id % 6 AS INTEGER) AS n_frames,
      |  CAST(doc_id % 4 AS INTEGER) AS loop_count,
      |  CAST(4 + doc_id % 10 AS INTEGER) AS first_delay_cs,
      |  TRUE AS parsed
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val mkGif = udf { id: Long =>
      MultimodalOps.encodeGifMeta(
        (32 + (id % 3) * 16).toInt, 24, (1 + id % 6).toInt,
        (id % 4).toInt, (4 + id % 10).toInt)
    }
    val media = docs(s, d).select(col("doc_id"), mkGif(col("doc_id")).as("blob"))
    MultimodalOps.gifMetadata(media, "blob")
      .select(col("doc_id"), col("width"), col("n_frames"),
        col("loop_count"), col("first_delay_cs"), col("parsed"))
      .orderBy("doc_id")
  }

  val all: Seq[QueryDef] = Seq(qMultimodalMeta, qMultimodalFeatures, qMultimodalDecode,
    qMultimodalAudio, qMultimodalVideo, qMultimodalFrames, qMultimodalPhash,
    qMultimodalPhashPairs, qMultimodalAudioQuality, qMultimodalExif,
    qMultimodalConsistency, qMultimodalResize, qCentroid, qBinaryFileScan,
    qMultimodalResample, qMultimodalGif)
}
