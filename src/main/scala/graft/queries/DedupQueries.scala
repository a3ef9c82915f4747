package graft.queries

import graft.functions.{Chunkers, TextFunctions => TF}
import graft.operators.{BloomOps, DedupOps}
import graft.{QueryDef, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{size => asize, _}

/** Deduplication inventory (EXT north-star: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash — each as an oracle-checked query over
  * `documents`). Embedding-cosine near-dup lives in SimilarityQueries.
  */
object DedupQueries {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Exact dedup via content hash (sha256 of cleaned text): per-lang
    * document vs distinct-content counts. */
  val qDedupExact: QueryDef = QueryDef.sql(
    "q_dedup_exact",
    s"""SELECT lang, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT sha256(${TF.cleanTextSql("text")})) AS n_distinct,
       |  COUNT(*) - COUNT(DISTINCT sha256(${TF.cleanTextSql("text")})) AS n_dups
       |FROM documents
       |GROUP BY lang
       |ORDER BY lang""".stripMargin) { (s, d) =>
    docs(s, d)
      .withColumn("h", sha2(TF.cleanText(col("text")), 256))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))
      .orderBy("lang")
  }

  /** Shingles shared by more than this many docs are dropped before the
    * self-join (hot-key guard; max observed df is 7 at sf0.01 / 25 at
    * sf0.1, so results here are unchanged — a synthetic hot-key case is
    * unit-tested in DedupSpec). */
  private val MaxShingleDf = 50

  /** N-gram Jaccard near-dup: candidate pairs share ≥1 3-shingle
    * (generated by a shingle-key equi-join — linear candidate generation,
    * not all-pairs), scored with exact-integer intersection/union over
    * the df-capped shingle sets. */
  val qDedupJaccard: QueryDef = QueryDef.sql(
    "q_dedup_jaccard",
    s"""WITH sh_raw AS (
       |  SELECT doc_id, unnest(${DedupOps.shinglesSql("text")}) AS shingle
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, shingle FROM sh_raw
       |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $MaxShingleDf
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |)
       |SELECT doc_a, doc_b, n_common,
       |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common)
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // the explicit not-null filter is a no-op on the data (explode never
    // yields null shingles) but aligns every branch's sub-exchange plan:
    // without it, the join sides get an INFERRED isnotnull(shingle)
    // pushed below their exchange while the sizes branches don't, the
    // subtrees stop canonicalizing equal, and the shingle shuffle runs
    // 3× instead of once (reuse asserted in PlanSpec)
    val sh = DedupOps.capShinglesByDf(
      docs(s, d)
        .withColumn("_shw", DedupOps.cleanWords(col("text")))
        .select(col("doc_id"), explode(DedupOps.shinglesFromWords(col("_shw"))).as("shingle"))
        .filter(col("shingle").isNotNull),
      MaxShingleDf)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val a = sh.as("a")
    val b = sh.as("b")
    val pairs = a.join(b,
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(sizes.select(col("doc_id"), col("n_sh").as("na")), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(sizes.select(col("doc_id"), col("n_sh").as("nb")), col("doc_b") === col("doc_id"))
      .drop("doc_id")
      // jaccard ≥ 0.1, kept in exact integers: inter*10 >= union
      .filter(col("n_common") * 10 >= col("na") + col("nb") - col("n_common"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common").cast("double") /
          (col("na") + col("nb") - col("n_common")).cast("double")).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** MinHash + LSH candidate generation: 8-seed signature, 4 bands × 2
    * rows; pairs sharing ≥1 band bucket, with the band-collision count.
    * The band-key equi-join is the 100 TB path: shuffle on band key,
    * never all-pairs. */
  val qDedupMinhash: QueryDef = QueryDef.sql(
    "q_dedup_minhash",
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    ${DedupOps.minhashSignatureSql(DedupOps.shinglesSql("text"), 8)} AS sig
       |  FROM documents
       |), bands AS (
       |  SELECT doc_id, unnest(${DedupOps.lshBandsSql("sig", 4, 2)}) AS band
       |  FROM sig
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_bands
       |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
       |GROUP BY doc_a, doc_b
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val sig = docs(s, d)
      .withColumn("_shw", DedupOps.cleanWords(col("text")))
      .withColumn("_sh", DedupOps.shinglesFromWords(col("_shw")))
      .select(col("doc_id"),
        DedupOps.minhashSignature(col("_sh"), 8).as("sig"))
    val bands = sig.select(col("doc_id"),
      explode(DedupOps.lshBands(col("sig"), 4, 2)).as("band"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash: 16-bit majority-vote fingerprint per doc + population
    * histogram of hash prefixes (hamming-bucket view). */
  val qDedupSimhash: QueryDef = QueryDef.sql(
    "q_dedup_simhash",
    s"""WITH sh AS (
       |  SELECT doc_id, lang,
       |    ${DedupOps.simhash16Sql(DedupOps.shinglesSql("text"))} AS simhash
       |  FROM documents
       |)
       |SELECT doc_id, lang, simhash,
       |  CAST(simhash % 16 AS BIGINT) AS bucket
       |FROM sh
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      // two-step simhash: the packed per-shingle hashes materialize as a
      // real column, so md5 runs once per shingle (not once per bit)
      .withColumn("_shw", DedupOps.cleanWords(col("text")))
      .withColumn("_h16", DedupOps.simhash16Hashes(DedupOps.shinglesFromWords(col("_shw"))))
      .select(col("doc_id"), col("lang"),
        DedupOps.simhash16FromHashes(col("_h16")).as("simhash"))
      .withColumn("bucket", (col("simhash") % 16).cast("long"))
      .orderBy("doc_id")
  }

  /** SimHash near-dup PAIRS via hamming-block LSH: the 16-bit
    * fingerprint splits into two 8-bit blocks; by pigeonhole, any two
    * docs within hamming distance 1 share at least one block, so the
    * block equi-join generates candidates linearly (same scale shape as
    * the MinHash band join — never all-pairs) and the exact XOR-popcount
    * distance is computed only within buckets. */
  val qDedupSimhashPairs: QueryDef = QueryDef.sql(
    "q_dedup_simhash_pairs",
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    ${DedupOps.simhash16Sql(DedupOps.shinglesSql("text"))} AS simhash
       |  FROM documents
       |), blocks AS (
       |  SELECT doc_id, simhash,
       |    unnest(['h:' || CAST(simhash >> 8 AS VARCHAR),
       |            'l:' || CAST(simhash & 255 AS VARCHAR)]) AS block
       |  FROM sh
       |)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM blocks a JOIN blocks b ON a.block = b.block AND a.doc_id < b.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    val sh = docs(s, d)
      .withColumn("_shw", DedupOps.cleanWords(col("text")))
      .withColumn("_h16", DedupOps.simhash16Hashes(DedupOps.shinglesFromWords(col("_shw"))))
      .select(col("doc_id"),
        DedupOps.simhash16FromHashes(col("_h16")).as("simhash"))
    val blocks = sh.select(col("doc_id"), col("simhash"),
      explode(array(
        concat(lit("h:"), shiftright(col("simhash"), 8).cast("string")),
        concat(lit("l:"), col("simhash").bitwiseAND(255).cast("string")))).as("block"))
    blocks.as("a").join(blocks.as("b"),
        col("a.block") === col("b.block") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        expr("CAST(bit_count(a.simhash ^ b.simhash) AS BIGINT)").as("hamming"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Exact dedup with canonical-row SELECTION — the operator a training
    * pipeline actually runs (q_dedup_exact only counts): per content
    * hash keep the lowest doc_id, emit every kept row with how many
    * duplicates it absorbed. One shuffle on the content hash; the
    * min-per-group then semi-join shape survives any corpus size. */
  val qDedupExactKeep: QueryDef = QueryDef.sql(
    "q_dedup_exact_keep",
    s"""WITH h AS (
       |  SELECT doc_id, sha256(${TF.cleanTextSql("text")}) AS content_id
       |  FROM documents
       |), keep AS (
       |  SELECT content_id, MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
       |  FROM h GROUP BY content_id
       |)
       |SELECT doc_id, content_id, n_copies, CAST(n_copies - 1 AS BIGINT) AS n_dropped
       |FROM keep
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("doc_id"), sha2(TF.cleanText(col("text")), 256).as("content_id"))
      .groupBy("content_id")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("content_id"), col("n_copies"),
        (col("n_copies") - 1).cast("long").as("n_dropped"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test assignment — hash-bucket split on the
    * CONTENT id (not doc_id), so duplicate documents always land in the
    * same split and can never leak across train/eval. 90/5/5 via md5
    * buckets; embarrassingly parallel, no shuffle before the summary
    * aggregate. */
  val qSplitAssign: QueryDef = QueryDef.sql(
    "q_split_assign",
    s"""WITH b AS (
       |  SELECT doc_id, lang,
       |    CAST((ascii(substr(md5(${TF.cleanTextSql("text")}), 1, 1)) -
       |      CASE WHEN ascii(substr(md5(${TF.cleanTextSql("text")}), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
       |      (ascii(substr(md5(${TF.cleanTextSql("text")}), 2, 1)) -
       |      CASE WHEN ascii(substr(md5(${TF.cleanTextSql("text")}), 2, 1)) >= 97 THEN 87 ELSE 48 END) AS INTEGER) AS bucket
       |  FROM documents
       |)
       |SELECT lang,
       |  CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val' ELSE 'test' END AS split,
       |  COUNT(*) AS n_docs
       |FROM b
       |GROUP BY lang, split
       |ORDER BY lang, split""".stripMargin) { (s, d) =>
    val bucket = conv(substring(md5(TF.cleanText(col("text"))), 1, 2), 16, 10).cast("int")
    docs(s, d)
      .select(col("lang"),
        when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test").as("split"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "split")
  }

  /** Intra-document repetition score (a Gopher-rule-style quality
    * signal): 1 − distinct/total 3-gram shingles — repeated boilerplate
    * inside one document drives the score up. Embarrassingly parallel;
    * the ratio is an IEEE division of exact integers. */
  val qDocRepetition: QueryDef = QueryDef.sql(
    "q_doc_repetition",
    s"""WITH r AS (
       |  SELECT doc_id,
       |    GREATEST(len(${Chunkers.wordsSql(TF.cleanTextSql("text"))}) - 3, 0) + 1 AS n_total,
       |    len(${DedupOps.shinglesSql("text")}) AS n_distinct
       |  FROM documents
       |)
       |SELECT doc_id, CAST(n_total AS BIGINT) AS n_total,
       |  CAST(n_distinct AS BIGINT) AS n_distinct,
       |  1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_total AS DOUBLE) AS repetition
       |FROM r
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .withColumn("_shw", DedupOps.cleanWords(col("text")))
      .select(col("doc_id"),
        (greatest(asize(col("_shw")) - 3, lit(0)) + 1).cast("long").as("n_total"),
        asize(DedupOps.shinglesFromWords(col("_shw"))).cast("long").as("n_distinct"))
      .withColumn("repetition",
        lit(1.0) - col("n_distinct").cast("double") / col("n_total").cast("double"))
      .orderBy("doc_id")
  }

  /** Train/eval CONTAMINATION report: near-dup candidate pairs (MinHash
    * band join, same machinery as q_dedup_minhash) whose two documents
    * landed in different splits of q_split_assign. Exact duplicates can
    * never leak (splits bucket on the content hash), so anything this
    * reports is a genuine near-duplicate straddling train and eval —
    * the check a 100 TB training pipeline runs before every export. */
  val qSplitLeakage: QueryDef = QueryDef.sql(
    "q_split_leakage",
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    ${DedupOps.minhashSignatureSql(DedupOps.shinglesSql("text"), 8)} AS sig
       |  FROM documents
       |), bands AS (
       |  SELECT doc_id, unnest(${DedupOps.lshBandsSql("sig", 4, 2)}) AS band
       |  FROM sig
       |), pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
       |), splits AS (
       |  SELECT doc_id,
       |    CASE WHEN bucket < 230 THEN 'train' WHEN bucket < 243 THEN 'val' ELSE 'test' END AS split
       |  FROM (
       |    SELECT doc_id,
       |      CAST((ascii(substr(md5(${TF.cleanTextSql("text")}), 1, 1)) -
       |        CASE WHEN ascii(substr(md5(${TF.cleanTextSql("text")}), 1, 1)) >= 97 THEN 87 ELSE 48 END) * 16 +
       |        (ascii(substr(md5(${TF.cleanTextSql("text")}), 2, 1)) -
       |        CASE WHEN ascii(substr(md5(${TF.cleanTextSql("text")}), 2, 1)) >= 97 THEN 87 ELSE 48 END) AS INTEGER) AS bucket
       |    FROM documents
       |  )
       |)
       |SELECT sa.split AS split_a, sb.split AS split_b, COUNT(*) AS n_pairs
       |FROM pairs
       |JOIN splits sa ON sa.doc_id = doc_a
       |JOIN splits sb ON sb.doc_id = doc_b
       |WHERE sa.split <> sb.split
       |GROUP BY split_a, split_b
       |ORDER BY split_a, split_b""".stripMargin) { (s, d) =>
    val sig = docs(s, d)
      .withColumn("_shw", DedupOps.cleanWords(col("text")))
      .withColumn("_sh", DedupOps.shinglesFromWords(col("_shw")))
      .select(col("doc_id"),
        DedupOps.minhashSignature(col("_sh"), 8).as("sig"))
    val bands = sig.select(col("doc_id"),
      explode(DedupOps.lshBands(col("sig"), 4, 2)).as("band"))
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val bucket = conv(substring(md5(TF.cleanText(col("text"))), 1, 2), 16, 10).cast("int")
    val splits = docs(s, d).select(col("doc_id"),
      when(bucket < 230, "train").when(bucket < 243, "val").otherwise("test").as("split"))
    pairs
      .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), Seq("doc_a"))
      .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("split_a", "split_b")
  }

  /** INCREMENTAL dedup: screen an incoming batch against the historical
    * corpus without ever re-pairing history×history — the shape a 100 TB
    * pipeline actually runs per ingest (the full self-join re-dedup of
    * q_dedup_minhash is a one-time backfill, not a daily job). Incoming
    * = doc_id % 10 ∈ {8,9} (a deterministic 20% batch); history = the
    * rest. Two screens, both linear in batch+history: an exact
    * content-hash equi-join, and a MinHash band equi-join restricted to
    * incoming×history pairs. Per incoming doc: exact-dup count,
    * near-dup candidate count, and the novelty bit that decides whether
    * it enters the corpus. No broadcast hints — BOTH sides grow with
    * the corpus (AQE may still pick one when a side measures small). */
  val qDedupIncremental: QueryDef = QueryDef.sql(
    "q_dedup_incremental",
    s"""WITH h AS (
       |  SELECT doc_id, sha256(${TF.cleanTextSql("text")}) AS ch
       |  FROM documents
       |), exact AS (
       |  SELECT i.doc_id, COUNT(*) AS n_exact
       |  FROM h i JOIN h x ON i.ch = x.ch
       |  WHERE i.doc_id % 10 >= 8 AND x.doc_id % 10 < 8
       |  GROUP BY i.doc_id
       |), sig AS (
       |  SELECT doc_id,
       |    ${DedupOps.minhashSignatureSql(DedupOps.shinglesSql("text"), 8)} AS sig
       |  FROM documents
       |), bands AS (
       |  SELECT doc_id, unnest(${DedupOps.lshBandsSql("sig", 4, 2)}) AS band
       |  FROM sig
       |), near AS (
       |  SELECT i.doc_id, COUNT(DISTINCT x.doc_id) AS n_near
       |  FROM bands i JOIN bands x ON i.band = x.band
       |  WHERE i.doc_id % 10 >= 8 AND x.doc_id % 10 < 8
       |  GROUP BY i.doc_id
       |)
       |SELECT i.doc_id,
       |  CAST(COALESCE(e.n_exact, 0) AS BIGINT) AS n_exact,
       |  CAST(COALESCE(n.n_near, 0) AS BIGINT) AS n_near,
       |  CASE WHEN COALESCE(e.n_exact, 0) = 0 AND COALESCE(n.n_near, 0) = 0
       |       THEN 1 ELSE 0 END AS novel
       |FROM h i
       |LEFT JOIN exact e ON e.doc_id = i.doc_id
       |LEFT JOIN near n ON n.doc_id = i.doc_id
       |WHERE i.doc_id % 10 >= 8
       |ORDER BY i.doc_id""".stripMargin) { (s, d) =>
    val h = docs(s, d)
      .select(col("doc_id"), sha2(TF.cleanText(col("text")), 256).as("ch"))
    val isIncoming = col("doc_id") % 10 >= 8
    val exact = h.filter(isIncoming).as("i")
      .join(h.filter(col("doc_id") % 10 < 8).as("x"), col("i.ch") === col("x.ch"))
      .groupBy(col("i.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_exact"))
    val bands = docs(s, d)
      .withColumn("_shw", DedupOps.cleanWords(col("text")))
      .withColumn("_sh", DedupOps.shinglesFromWords(col("_shw")))
      .select(col("doc_id"),
        DedupOps.minhashSignature(col("_sh"), 8).as("sig"))
      .select(col("doc_id"), explode(DedupOps.lshBands(col("sig"), 4, 2)).as("band"))
    val near = bands.filter(isIncoming).as("i")
      .join(bands.filter(col("doc_id") % 10 < 8).as("x"), col("i.band") === col("x.band"))
      .groupBy(col("i.doc_id").as("doc_id"))
      .agg(countDistinct(col("x.doc_id")).as("n_near"))
    h.filter(isIncoming).select("doc_id")
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_exact"), lit(0L)).cast("long").as("n_exact"),
        coalesce(col("n_near"), lit(0L)).cast("long").as("n_near"),
        when(coalesce(col("n_exact"), lit(0L)) === 0 &&
            coalesce(col("n_near"), lit(0L)) === 0, lit(1)).otherwise(lit(0)).as("novel"))
      .orderBy("doc_id")
  }

  private val SegWords = 10

  /** CROSS-DOCUMENT segment dedup (the CCNet/C4 line-dedup shape on a
    * corpus whose documents are flat word streams): cut each cleaned
    * document into consecutive `SegWords`-word segments, drop every
    * segment whose exact text occurs in MORE THAN ONE document, and
    * report per document the segment count, dropped count, and a hash
    * of the surviving text reassembled in order — membership-exact, not
    * just counts. Intra-document repetition deliberately survives (that
    * signal is q_doc_repetition's job); this removes cross-document
    * boilerplate.
    *
    * Scale: segmentation is a narrow per-row pass; the frequency table
    * is one shuffle on the segment text (same key the verdict join
    * reuses); reassembly is one shuffle on doc_id. Segments-per-doc is
    * length/SegWords, so the exploded frame is linear in corpus tokens —
    * nothing quadratic, no broadcast of corpus-growing state. */
  val qDedupSegments: QueryDef = {
    val arrSql = Chunkers.wordsSql(TF.cleanTextSql("text"))
    QueryDef.sql(
      "q_dedup_segments",
      s"""WITH d0 AS (
         |  SELECT doc_id, $arrSql AS arr FROM documents
         |), segs AS (
         |  SELECT doc_id,
         |    unnest(range(0, CAST(CEIL(len(arr) / ${SegWords}.0) AS BIGINT))) AS blk,
         |    unnest(list_transform(range(0, CAST(CEIL(len(arr) / ${SegWords}.0) AS BIGINT)),
         |      b -> array_to_string(arr[b * $SegWords + 1 : b * $SegWords + $SegWords], ' '))) AS seg
         |  FROM d0
         |), freq AS (
         |  SELECT seg, COUNT(DISTINCT doc_id) AS ndocs FROM segs GROUP BY seg
         |)
         |SELECT s.doc_id, COUNT(*) AS n_segs,
         |  CAST(SUM(CASE WHEN f.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  sha256(COALESCE(string_agg(CASE WHEN f.ndocs = 1 THEN s.seg END, ' ' ORDER BY s.blk), '')) AS kept_hash
         |FROM segs s JOIN freq f ON f.seg = s.seg
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin) { (s, d) =>
      val nblk = ceil(asize(col("arr")).cast("double") / SegWords).cast("int")
      val segs = docs(s, d)
        .select(col("doc_id"), Chunkers.words(TF.cleanText(col("text"))).as("arr"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nblk - 1),
            b => concat_ws(" ", slice(col("arr"), b * SegWords + 1, lit(SegWords)))))
            .as(Seq("blk", "seg")))
      val freq = segs.groupBy("seg").agg(countDistinct("doc_id").as("ndocs"))
      segs.join(freq, Seq("seg"))
        .groupBy("doc_id")
        .agg(
          count(lit(1)).as("n_segs"),
          sum(when(col("ndocs") > 1, 1).otherwise(0)).cast("long").as("n_dropped"),
          sha2(coalesce(concat_ws(" ",
            transform(
              array_sort(collect_list(when(col("ndocs") === 1,
                struct(col("blk"), col("seg"))))),
              x => x.getField("seg"))), lit("")), 256).as("kept_hash"))
        .orderBy("doc_id")
    }
  }

  private val BloomBits = 2048
  private val BloomHashes = 4

  /** BLOOM-FILTER incremental screen: the O(1)-state face of
    * q_dedup_incremental's exact screen. History (doc_id%10 < 8) builds
    * a `BloomBits`-bit filter in ONE mergeable aggregation pass
    * ([[graft.operators.BloomOps.BloomAggregator]]); the incoming batch
    * (doc_id%10 ≥ 8) tests membership of its content hash against the
    * 256-BYTE filter instead of joining a corpus-sized index. Output
    * pairs the sketch verdict with the exact verdict, so the
    * false-positive rows (bloom_hit=1, exact_hit=0 — the filter is
    * deliberately sized small enough to produce some) and the
    * impossibility of false negatives are both in the hash-checked
    * result.
    *
    * The DuckDB oracle cannot hold a bit array, so it re-expresses the
    * EXACT same semantics relationally: a doc is a bloom hit iff all
    * `BloomHashes` of its md5-derived double-hash positions appear in
    * the DISTINCT position set of history — cross-validating the packed
    * -bit JVM implementation bit-for-bit against relational algebra.
    *
    * Scale: build is one pass + a 32-long driver value (bounded by the
    * FILTER size, never the corpus — the centroid-table pattern); the
    * test is a narrow per-row expression. At 100 TB the filter simply
    * sizes up (10⁹ bits ≈ 128 MB still broadcasts) while the exact
    * screen it pre-filters keeps its linear join only for admitted
    * candidates. */
  val qBloomScreen: QueryDef = {
    val mh = s"md5(${TF.cleanTextSql("text")})"
    QueryDef.sql(
      "q_bloom_screen",
      s"""WITH h AS (
         |  SELECT doc_id, $mh AS mh FROM documents
         |), pos AS (
         |  SELECT doc_id, ${BloomOps.positionSql("mh", BloomBits, "s.i")} AS pos
         |  FROM h CROSS JOIN (SELECT unnest(range(0, $BloomHashes)) AS i) s
         |), hist_bits AS (
         |  SELECT DISTINCT pos FROM pos WHERE doc_id % 10 < 8
         |), bh AS (
         |  SELECT p.doc_id,
         |    CASE WHEN COUNT(b.pos) = $BloomHashes THEN 1 ELSE 0 END AS bloom_hit
         |  FROM pos p LEFT JOIN hist_bits b ON b.pos = p.pos
         |  WHERE p.doc_id % 10 >= 8
         |  GROUP BY p.doc_id
         |), eh AS (
         |  SELECT i.doc_id,
         |    CASE WHEN COUNT(x.mh) > 0 THEN 1 ELSE 0 END AS exact_hit
         |  FROM h i
         |  LEFT JOIN (SELECT DISTINCT mh FROM h WHERE doc_id % 10 < 8) x
         |    ON x.mh = i.mh
         |  WHERE i.doc_id % 10 >= 8
         |  GROUP BY i.doc_id
         |)
         |SELECT bh.doc_id, bh.bloom_hit, eh.exact_hit
         |FROM bh JOIN eh ON eh.doc_id = bh.doc_id
         |ORDER BY bh.doc_id""".stripMargin) { (s, d) =>
      val h = docs(s, d)
        .select(col("doc_id"), md5(TF.cleanText(col("text"))).as("mh"))
      val hist = h.filter(col("doc_id") % 10 < 8)
      val bloomUdaf = udaf(new BloomOps.BloomAggregator(BloomBits, BloomHashes))
      val bits = hist.agg(bloomUdaf(col("mh")).as("b"))
        .head.getSeq[Long](0)
      val histHashes = hist.select(col("mh").as("hmh")).distinct()
      h.filter(col("doc_id") % 10 >= 8)
        .withColumn("bloom_hit",
          when(BloomOps.mightContain(bits, BloomBits, BloomHashes)(col("mh")), 1)
            .otherwise(0))
        .join(histHashes, col("mh") === col("hmh"), "left")
        .groupBy("doc_id")
        .agg(max(col("bloom_hit")).as("bloom_hit"),
          max(when(col("hmh").isNotNull, 1).otherwise(0)).as("exact_hit"))
        .orderBy("doc_id")
    }
  }

  /** Sorted-NEIGHBORHOOD near-dup (Hernández–Stolfo '95 SNM — the
    * classic blocking alternative to LSH banding, strongest when
    * near-dups share a PREFIX, e.g. re-crawls and templated pages):
    * documents sort by a normalized key (lowercased alphanumeric
    * prefix), each row pairs with its next `WindowSize−1` neighbours in
    * sort order, and only those candidate pairs pay the exact-Jaccard
    * rescore — the same integer intersection/union as
    * [[qDedupJaccard]], so the two candidate generators are directly
    * comparable on precision/recall.
    *
    * Scale: the sort runs WITHIN hash blocks (the key's 4-char prefix)
    * — every window is `PARTITION BY block`, never global, so no
    * single-partition exchange exists in the plan (a truly global
    * neighbourhood would need the two-pass rank of q_ntile_balance;
    * blocked SNM is the standard scale form and misses only pairs that
    * straddle a block boundary — by construction those disagree in
    * their first 4 normalized chars and are not SNM-adjacent anyway).
    * Candidate volume is ≤ (WindowSize−1)·N — linear in the corpus —
    * and the rescore joins are doc-id equi-joins. */
  val qDedupSnm: QueryDef = {
    val WindowSize = 4
    def normSql = "regexp_replace(lower(text), '[^a-z0-9]', '', 'g')"
    QueryDef.sql(
      "q_dedup_snm",
      s"""WITH k AS (
         |  SELECT doc_id, substr($normSql, 1, 4) AS blk, substr($normSql, 1, 40) AS sk
         |  FROM documents
         |), nb AS (
         |  SELECT doc_id,
         |    ${(1 until WindowSize).map(i => s"lead(doc_id, $i) OVER w AS n$i").mkString(",\n    ")}
         |  FROM k WINDOW w AS (PARTITION BY blk ORDER BY sk, doc_id)
         |), pr AS (
         |  SELECT DISTINCT LEAST(doc_id, n) AS doc_a, GREATEST(doc_id, n) AS doc_b
         |  FROM (SELECT doc_id, unnest([${(1 until WindowSize).map("n" + _).mkString(", ")}]) AS n FROM nb)
         |  WHERE n IS NOT NULL
         |), sh AS (
         |  SELECT doc_id, unnest(${DedupOps.shinglesSql("text")}) AS shingle FROM documents
         |), sizes AS (
         |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
         |), inter AS (
         |  SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
         |  FROM pr p
         |  JOIN sh a ON a.doc_id = p.doc_a
         |  JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
         |  GROUP BY p.doc_a, p.doc_b
         |)
         |SELECT doc_a, doc_b, n_common,
         |  CAST(n_common AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE) AS jaccard
         |FROM inter
         |JOIN sizes sa ON sa.doc_id = doc_a
         |JOIN sizes sb ON sb.doc_id = doc_b
         |WHERE n_common * 10 >= (sa.n_sh + sb.n_sh - n_common)
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val norm = regexp_replace(lower(col("text")), "[^a-z0-9]", "")
      val k = docs(s, d).select(col("doc_id"),
        substring(norm, 1, 4).as("blk"), substring(norm, 1, 40).as("sk"))
      val w = Window.partitionBy("blk").orderBy("sk", "doc_id")
      val pairs = k
        // leads first (window exprs can't sit under a generator), explode after
        .select(col("doc_id"),
          array((1 until WindowSize).map(i => lead(col("doc_id"), i).over(w)): _*).as("ns"))
        .select(col("doc_id"), explode(col("ns")).as("n"))
        .filter(col("n").isNotNull)
        .select(least(col("doc_id"), col("n")).as("doc_a"),
          greatest(col("doc_id"), col("n")).as("doc_b"))
        .distinct()
      val sh = docs(s, d)
        .withColumn("_shw", DedupOps.cleanWords(col("text")))
        .select(col("doc_id"), explode(DedupOps.shinglesFromWords(col("_shw"))).as("shingle"))
        .filter(col("shingle").isNotNull)
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
      val inter = pairs
        .join(sh.as("a"), col("a.doc_id") === col("doc_a"))
        .join(sh.as("b"), col("b.doc_id") === col("doc_b") && col("b.shingle") === col("a.shingle"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("n_common"))
      inter
        .join(sizes.select(col("doc_id"), col("n_sh").as("na")), col("doc_a") === col("doc_id"))
        .drop("doc_id")
        .join(sizes.select(col("doc_id"), col("n_sh").as("nb")), col("doc_b") === col("doc_id"))
        .drop("doc_id")
        .filter(col("n_common") * 10 >= col("na") + col("nb") - col("n_common"))
        .select(col("doc_a"), col("doc_b"), col("n_common"),
          (col("n_common").cast("double") /
            (col("na") + col("nb") - col("n_common")).cast("double")).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }
  }

  /** Word-gram length of a "span" for duplicate-span detection. */
  private val SpanN = 8

  /** Duplicate-span detection at n-gram granularity: for every document,
    * count how many of its overlapping 8-word spans also occur in at
    * least one OTHER document. This is the distributed approximation of
    * suffix-array substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better" — their ExactSubstr at
    * 50-token granularity): the suffix array itself doesn't distribute,
    * but fixed-width span fingerprints do, and a span-level `n_dup /
    * n_grams` ratio is the standard corpus-hygiene signal built from
    * them.
    *
    * Scale: linear explode (one row per token position), one shuffle on
    * `gram` for the document-frequency aggregate, one `gram` equi-join
    * back (same key — the exchange is reusable), one shuffle on
    * `doc_id` to re-assemble per-document counts. Never all-pairs, no
    * driver state; the gram join is unhinted so AQE picks the join
    * strategy at runtime (the df side is corpus-sized — it must never
    * be hint-broadcast). */
  val qDedupSpans: QueryDef = QueryDef.sql(
    "q_dedup_spans",
    s"""WITH toks AS (
       |  SELECT doc_id, ${Chunkers.wordsSql(TF.cleanTextSql("text"))} AS t FROM documents
       |), grams AS (
       |  SELECT doc_id, array_to_string(t[i : i + ${SpanN - 1}], ' ') AS gram
       |  FROM toks, UNNEST(generate_series(1, len(t) - ${SpanN - 1})) AS gs(i)
       |  WHERE len(t) >= $SpanN
       |), df AS (
       |  SELECT gram, COUNT(DISTINCT doc_id) AS ndocs FROM grams GROUP BY gram
       |)
       |SELECT g.doc_id, COUNT(*) AS n_grams,
       |  CAST(SUM(CASE WHEN df.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |FROM grams g JOIN df USING (gram)
       |GROUP BY g.doc_id
       |HAVING n_dup > 0
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val grams = docs(s, d)
      .select(col("doc_id"), Chunkers.words(TF.cleanText(col("text"))).as("t"))
      .filter(asize(col("t")) >= SpanN)
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), asize(col("t")) - (SpanN - 1)),
          i => array_join(slice(col("t"), i, lit(SpanN)), " "))).as("gram"))
    val df = grams.groupBy("gram").agg(countDistinct(col("doc_id")).as("ndocs"))
    grams.join(df, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("ndocs") > 1, 1).otherwise(0)).as("n_dup"))
      .filter(col("n_dup") > 0)
      .orderBy("doc_id")
  }

  /** Fuzzy (edit-distance) near-dup join with length-band blocking:
    * candidate pairs share a language and differ by ≤ 10 chars in
    * length; a pair is a near-dup when the Levenshtein distance of the
    * 64-char cleaned prefixes is ≤ 8. Classic record-linkage blocking
    * (the same family as q_dedup_snm's sorted neighbourhood): the O(L²)
    * distance only ever runs on blocked candidates, never all-pairs.
    *
    * Scale: the ±10-char band is realized as an equi-join on
    * `(lang, floor(n_chars/10))` with the right side exploded to its
    * three adjacent bands — a plain shuffle join, no range/theta join in
    * the plan (asserted in PlanSpec: no nested-loop). Worst case is
    * quadratic in the largest (lang, band) block; at 100 TB the block
    * key composes with any coarser content key (e.g. q_dedup_snm's
    * 4-char prefix) to cap block population. */
  val qDedupFuzzy: QueryDef = {
    val Band = 10; val PrefLen = 64; val MaxDist = 8
    QueryDef.sql(
      "q_dedup_fuzzy",
      s"""WITH p AS (
         |  SELECT doc_id, lang, n_chars,
         |    substr(${TF.cleanTextSql("text")}, 1, $PrefLen) AS pref
         |  FROM documents
         |)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  levenshtein(a.pref, b.pref) AS dist
         |FROM p a JOIN p b ON a.lang = b.lang AND a.doc_id < b.doc_id
         |  AND b.n_chars BETWEEN a.n_chars - $Band AND a.n_chars + $Band
         |WHERE levenshtein(a.pref, b.pref) <= $MaxDist
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
      val base = docs(s, d).select(col("doc_id"), col("lang"), col("n_chars"),
        substring(TF.cleanText(col("text")), 1, PrefLen).as("pref"),
        floor(col("n_chars") / Band).as("bkt"))
      val a = base.select(col("lang"), col("bkt"), col("doc_id").as("doc_a"),
        col("n_chars").as("na"), col("pref").as("pref_a"))
      // each right-side doc lands in its own band plus both neighbours, so
      // every pair within ±Band chars co-locates on exactly one band key
      val b = base.select(col("lang"),
        explode(array(col("bkt") - 1, col("bkt"), col("bkt") + 1)).as("bkt"),
        col("doc_id").as("doc_b"), col("n_chars").as("nb"), col("pref").as("pref_b"))
      a.join(b, Seq("lang", "bkt"))
        .filter(col("doc_a") < col("doc_b") && abs(col("na") - col("nb")) <= Band)
        .withColumn("dist", levenshtein(col("pref_a"), col("pref_b")))
        .filter(col("dist") <= MaxDist)
        .select("doc_a", "doc_b", "dist")
        .orderBy("doc_a", "doc_b")
    }
  }

  /** MinHash-LSH index AT REST probed for near-dup candidates — the
    * q_dedup_minhash machinery split into its production shape
    * ([[graft.sources.MinHashIndex]]): banded signatures persisted once
    * partitioned by a bounded cell key (band idx × first hash nibble),
    * then a probe for the query cohort (doc_id%10=3) reads ONLY the
    * cells its own band keys touch (static partition pruning, the
    * VectorIndex/IVF pattern) and equi-joins on the full band key
    * inside them. The oracle recomputes the identical candidate set
    * from scratch in SQL — so cell routing, the sidecar-parameterized
    * re-hash, and the pruned join must all agree bit-for-bit.
    * IndexSpec separately pins that a small probe's scan reads a
    * strict subset of the index files. */
  val qNearDupIndex: QueryDef = QueryDef.sql(
    "q_neardup_index",
    s"""WITH sig AS (
       |  SELECT doc_id,
       |    ${DedupOps.minhashSignatureSql(DedupOps.shinglesSql("text"), 8)} AS sig
       |  FROM documents
       |), bands AS (
       |  SELECT doc_id, unnest(${DedupOps.lshBandsSql("sig", 4, 2)}) AS band
       |  FROM sig
       |)
       |SELECT a.doc_id AS query_doc, b.doc_id AS cand_doc, COUNT(*) AS n_bands
       |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id <> b.doc_id
       |WHERE a.doc_id % 10 = 3
       |GROUP BY query_doc, cand_doc
       |ORDER BY query_doc, cand_doc""".stripMargin) { (s, d) =>
    val Seq(indexDir) = Fixtures.dirs(s, "graft_mhidx", "index")
    val corpus = docs(s, d).select(col("doc_id"), col("text"))
    graft.sources.MinHashIndex.build(corpus, indexDir)
    val queries = corpus.filter(col("doc_id") % 10 === 3)
    graft.sources.MinHashIndex.probe(s, indexDir, queries)
      .orderBy("query_doc", "cand_doc")
  }

  /** Purged k-fold TEMPORAL split with embargo (the published
    * time-series cross-validation protocol, e.g. López de Prado's
    * purged CV): the event span divides into 5 contiguous folds; for
    * each evaluation fold, training data excludes not just the fold
    * but a 1-day EMBARGO strip on each side — the temporal sibling of
    * [[qSplitAssign]]'s content-hash split, closing the leakage channel
    * hashing can't (temporal autocorrelation: an event 5 minutes
    * before the test window predicts it nearly as well as one inside).
    * All boundaries are exact integer µs arithmetic over positive
    * values, so floor/trunc division agree across engines.
    *
    * Scale: one O(1) scalar (min/max) broadcast, then each event
    * classifies against all 5 folds in a single narrow pass (a 5×
    * row multiply, embarrassingly parallel — never a self-join) and
    * reduces map-side to the 5-row report. */
  val qTemporalSplit: QueryDef = QueryDef.sql(
    "q_temporal_split",
    """WITH s AS (
      |  SELECT MIN(epoch_us(ts)) AS mn, MAX(epoch_us(ts)) + 1 AS mxe FROM events
      |), f AS (
      |  SELECT UNNEST([0, 1, 2, 3, 4]) AS fold
      |), c AS (
      |  SELECT fold, epoch_us(ts) AS t,
      |    CAST(mn + (mxe - mn) * fold // 5 AS BIGINT) AS lo,
      |    CAST(mn + (mxe - mn) * (fold + 1) // 5 AS BIGINT) AS hi
      |  FROM events, f, s
      |)
      |SELECT fold,
      |  COUNT(*) FILTER (WHERE t >= lo AND t < hi) AS n_test,
      |  COUNT(*) FILTER (WHERE (t >= lo - 86400000000 AND t < lo)
      |                      OR (t >= hi AND t < hi + 86400000000)) AS n_embargo,
      |  COUNT(*) FILTER (WHERE t < lo - 86400000000
      |                      OR t >= hi + 86400000000) AS n_train
      |FROM c
      |GROUP BY fold
      |ORDER BY fold""".stripMargin) { (s, d) =>
    import s.implicits._
    val dayUs = 86400000000L
    val events = Tables(s, d, "events").select(unix_micros(col("ts")).as("t"))
    val span = events.agg(min(col("t")).as("mn"), (max(col("t")) + 1L).as("mxe"))
    val folds = Seq(0, 1, 2, 3, 4).toDF("fold")
    events
      .crossJoin(broadcast(span)).crossJoin(broadcast(folds))
      .withColumn("lo", expr("mn + (mxe - mn) * fold div 5"))
      .withColumn("hi", expr("mn + (mxe - mn) * (fold + 1) div 5"))
      .groupBy("fold")
      .agg(
        count(when(col("t") >= col("lo") && col("t") < col("hi"), 1)).as("n_test"),
        count(when((col("t") >= col("lo") - dayUs && col("t") < col("lo")) ||
          (col("t") >= col("hi") && col("t") < col("hi") + dayUs), 1)).as("n_embargo"),
        count(when(col("t") < col("lo") - dayUs ||
          col("t") >= col("hi") + dayUs, 1)).as("n_train"))
      .orderBy("fold")
  }

  /** LSH CALIBRATION report — the measurement that justifies a banding
    * config before a 100 TB dedup run: MinHash-LSH candidate pairs
    * (the [[qDedupMinhash]] generator) scored against the exact-Jaccard
    * ground truth at τ = 0.5 (the [[qDedupJaccard]] machinery,
    * inter·2 ≥ union in exact integers), reporting candidate/truth/hit
    * counts and precision/recall in exact basis points. A recall_bp
    * that drops is the signal to add bands; a precision_bp that drops
    * is the signal to add rows-per-band — this query IS that dial's
    * instrument, computed on a sample in practice.
    *
    * Scale: both pair generators are shingle/band equi-joins (linear,
    * never all-pairs — same posture as their parent queries); the three
    * counts reduce to one row each before the final cross joins. */
  val qDedupEval: QueryDef = QueryDef.sql(
    "q_dedup_eval",
    s"""WITH sh_raw AS (
       |  SELECT doc_id, unnest(${DedupOps.shinglesSql("text")}) AS shingle
       |  FROM documents
       |), sh AS (
       |  SELECT doc_id, shingle FROM sh_raw
       |  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= $MaxShingleDf
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |), truth AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE n_common * 2 >= (sa.n_sh + sb.n_sh - n_common)
       |), sig AS (
       |  SELECT doc_id,
       |    ${DedupOps.minhashSignatureSql(DedupOps.shinglesSql("text"), 8)} AS sig
       |  FROM documents
       |), bands AS (
       |  SELECT doc_id, unnest(${DedupOps.lshBandsSql("sig", 4, 2)}) AS band
       |  FROM sig
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
       |), m AS (
       |  SELECT
       |    (SELECT COUNT(*) FROM truth) AS n_truth,
       |    (SELECT COUNT(*) FROM cand) AS n_cand,
       |    (SELECT COUNT(*) FROM truth t JOIN cand c
       |       ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) AS n_hit
       |)
       |SELECT n_truth, n_cand, n_hit,
       |  CAST(CASE WHEN n_cand = 0 THEN 0 ELSE n_hit * 10000 // n_cand END AS BIGINT) AS precision_bp,
       |  CAST(CASE WHEN n_truth = 0 THEN 0 ELSE n_hit * 10000 // n_truth END AS BIGINT) AS recall_bp
       |FROM m""".stripMargin) { (s, d) =>
    val sh = DedupOps.capShinglesByDf(
      docs(s, d)
        .withColumn("_shw", DedupOps.cleanWords(col("text")))
        .select(col("doc_id"), explode(DedupOps.shinglesFromWords(col("_shw"))).as("shingle"))
        .filter(col("shingle").isNotNull),
      MaxShingleDf)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_common"))
    val truth = pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n_sh").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n_sh").as("nb")), Seq("doc_b"))
      .filter(col("n_common") * 2 >= col("na") + col("nb") - col("n_common"))
      .select("doc_a", "doc_b")
    val bands = docs(s, d)
      .withColumn("_shw", DedupOps.cleanWords(col("text")))
      .withColumn("_sh", DedupOps.shinglesFromWords(col("_shw")))
      .select(col("doc_id"),
        DedupOps.minhashSignature(col("_sh"), 8).as("sig"))
      .select(col("doc_id"), explode(DedupOps.lshBands(col("sig"), 4, 2)).as("band"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val t = truth.agg(count(lit(1)).as("n_truth"))
    val c = cand.agg(count(lit(1)).as("n_cand"))
    val h = truth.join(cand, Seq("doc_a", "doc_b")).agg(count(lit(1)).as("n_hit"))
    t.crossJoin(c).crossJoin(h)
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        when(col("n_cand") === 0, 0L)
          .otherwise(expr("n_hit * 10000 div n_cand")).as("precision_bp"),
        when(col("n_truth") === 0, 0L)
          .otherwise(expr("n_hit * 10000 div n_truth")).as("recall_bp"))
  }

  /** PPJoin-style prefix-filtered EXACT similarity self-join (Chaudhuri
    * et al. SSJoin / Xiao et al. PPJoin): the exact complement to the
    * MinHash approximation — same τ=0.5 Jaccard answer as a full
    * all-pairs scorer, with candidates bounded by the prefix-filtering
    * principle instead of LSH probability. Tokens (distinct 3-shingles)
    * are globally ordered rarest-first by document frequency; a doc of
    * n tokens exposes only its first ⌊n/2⌋+1 tokens (p = n−⌈τ·n⌉+1),
    * and two docs can reach J ≥ τ only if their prefixes share a
    * token — so the candidate join runs over each doc's RAREST tokens,
    * whose join groups are small by construction (the df-ordering is
    * the skew guard the Jaccard query needs an explicit df-cap for).
    * Candidates are then verified with exact integer
    * intersection/union. Measured at sf0.01: 977 candidate pairs vs
    * 11,533 share-any-token pairs vs 124,750 all-pairs, for the
    * identical 25-pair answer (completeness vs the unfiltered scorer is
    * pinned in DedupSpec).
    *
    * Scale: two shuffles on the token key (df agg + candidate join — the
    * exchange is reusable), one doc_id window shuffle for per-doc
    * ordering, then verify cost O(candidates · tokens-per-doc). Never
    * all-pairs, no LSH false negatives. */
  val qDedupPpjoin: QueryDef = QueryDef.sql(
    "q_dedup_ppjoin",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${DedupOps.shinglesSql("text")}) AS t
       |  FROM documents
       |), df AS (
       |  SELECT t, COUNT(*) AS df FROM tok GROUP BY t
       |), ordered AS (
       |  SELECT doc_id, tok.t,
       |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY df.df, tok.t) AS pos,
       |    COUNT(*) OVER (PARTITION BY doc_id) AS n
       |  FROM tok JOIN df ON df.t = tok.t
       |), prefix AS (
       |  SELECT doc_id, t FROM ordered WHERE 2 * pos <= n + 2
       |), cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM prefix a JOIN prefix b ON a.t = b.t AND a.doc_id < b.doc_id
       |), inter AS (
       |  SELECT cand.doc_a, cand.doc_b, COUNT(*) AS n_common
       |  FROM cand
       |  JOIN tok x ON x.doc_id = cand.doc_a
       |  JOIN tok y ON y.doc_id = cand.doc_b AND y.t = x.t
       |  GROUP BY cand.doc_a, cand.doc_b
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
       |)
       |SELECT doc_a, doc_b, n_common, sa.n AS n_a, sb.n AS n_b,
       |  CAST(n_common AS DOUBLE) / CAST(sa.n + sb.n - n_common AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE 2 * n_common >= sa.n + sb.n - n_common
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    DedupOps.ppjoinPairsHalf(docs(s, d)).orderBy("doc_a", "doc_b")
  }

  /** Fellegi–Sunter-style RECORD LINKAGE — entity resolution over
    * structured records, the dedup family's answer when "the same
    * entity" is a multi-field judgment rather than equal text: customer
    * vs a deterministically dirtied re-registration of itself
    * (case-mangled / truncated names, drifted balances, lost
    * segments — the classic data-entry noise). Blocking on nationkey
    * bounds comparisons to within-block pairs (never corpus×corpus; a
    * block too hot for n² switches to the SNM windows of
    * `q_dedup_snm`); each candidate pair is scored with fixed integer
    * agreement/disagreement weights (the log-odds shape of
    * Fellegi–Sunter 1969 with pinned weights instead of EM-estimated
    * ones): name +8/−2, segment +2/−1, balance-within-1.00 +3/−1.
    * Output is the score histogram × ground truth (same custkey) with
    * the match/possible/non-match verdict per score — the linkage
    * quality report that calibrates the thresholds.
    *
    * Determinism: balances compare in exact cents (perturbation adds
    * integer cents), weights and thresholds are integers, the verdict
    * is a pure CASE — nothing IEEE anywhere. */
  val qRecordLinkage: QueryDef = QueryDef.sql(
    "q_record_linkage",
    """WITH a AS (
      |  SELECT c_custkey AS key_a, c_nationkey AS nat,
      |    lower(c_name) AS name_a, c_mktsegment AS seg_a,
      |    CAST(ROUND(c_acctbal * 100.0) AS BIGINT) AS bu_a
      |  FROM customer
      |), b AS (
      |  SELECT c_custkey AS key_b, c_nationkey AS nat,
      |    lower(CASE WHEN c_custkey % 9 = 0
      |          THEN SUBSTRING(c_name, 1, LENGTH(c_name) - 1)
      |          ELSE c_name END) AS name_b,
      |    CASE WHEN c_custkey % 10 = 0 THEN 'UNKNOWN' ELSE c_mktsegment END AS seg_b,
      |    CAST(ROUND(c_acctbal * 100.0) AS BIGINT)
      |      + CASE WHEN c_custkey % 5 = 0 THEN 25000
      |             WHEN c_custkey % 7 = 0 THEN 77 ELSE 0 END AS bu_b
      |  FROM customer
      |), scored AS (
      |  SELECT key_a, key_b,
      |    (CASE WHEN name_a = name_b THEN 8 ELSE -2 END)
      |    + (CASE WHEN seg_a = seg_b THEN 2 ELSE -1 END)
      |    + (CASE WHEN ABS(bu_a - bu_b) <= 100 THEN 3 ELSE -1 END) AS score
      |  FROM a JOIN b ON a.nat = b.nat
      |)
      |SELECT score,
      |  COUNT(*) AS n_pairs,
      |  CAST(SUM(CASE WHEN key_a = key_b THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
      |  CASE WHEN score >= 10 THEN 'match'
      |       WHEN score >= 5 THEN 'possible' ELSE 'non_match' END AS verdict
      |FROM scored
      |GROUP BY score
      |ORDER BY score""".stripMargin) { (s, d) =>
    val cust = Tables(s, d, "customer")
    val a = cust.select(
      col("c_custkey").as("key_a"), col("c_nationkey").as("nat"),
      lower(col("c_name")).as("name_a"), col("c_mktsegment").as("seg_a"),
      round(col("c_acctbal") * 100.0).cast("long").as("bu_a"))
    val b = cust.select(
      col("c_custkey").as("key_b"), col("c_nationkey").as("nat"),
      lower(when(col("c_custkey") % 9 === 0,
          col("c_name").substr(lit(1), length(col("c_name")) - 1))
        .otherwise(col("c_name"))).as("name_b"),
      when(col("c_custkey") % 10 === 0, "UNKNOWN")
        .otherwise(col("c_mktsegment")).as("seg_b"),
      (round(col("c_acctbal") * 100.0).cast("long")
        + when(col("c_custkey") % 5 === 0, 25000)
          .when(col("c_custkey") % 7 === 0, 77).otherwise(0)).as("bu_b"))
    a.join(b, "nat")
      .withColumn("score",
        when(col("name_a") === col("name_b"), 8).otherwise(-2)
          + when(col("seg_a") === col("seg_b"), 2).otherwise(-1)
          + when(abs(col("bu_a") - col("bu_b")) <= 100, 3).otherwise(-1))
      .groupBy("score")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("key_a") === col("key_b"), 1).otherwise(0)).as("n_true"))
      .withColumn("verdict",
        when(col("score") >= 10, "match")
          .when(col("score") >= 5, "possible").otherwise("non_match"))
      .orderBy("score")
  }

  /** ENTITY RESOLUTION end-to-end — the full pipeline the
    * [[qRecordLinkage]] scorer is one stage of: blocking (shared
    * name) → pairwise field-agreement scoring → MATCH pairs →
    * transitive closure (the [[graft.queries.SearchQueries]] min-label
    * propagation ≡ a recursive-CTE oracle) → resolved-entity cluster
    * histogram. The fixture WEAVES identity structure: consecutive
    * custkey triples are one "person" (shared name, shared woven
    * segment, balances within cents), while every 97th customer is
    * renamed to one HOT shared name — a false-collision block whose
    * pairs fail the field scoring, so blocking recall and scoring
    * precision are both exercised (hot-block pairs must NOT survive
    * into clusters; pulled-out members shrink their triple to a
    * 2-cluster, giving the histogram real variety).
    *
    * Scale: blocking bounds pair generation (never corpus×corpus; the
    * one hot block is exactly why scoring exists), closure iterates
    * O(cluster diameter) joined passes — diameter ≤ 2 here by
    * construction, O(log n) in general; singletons never enter the
    * edge set. */
  val qEntityResolution: QueryDef = QueryDef.sql(
    "q_entity_resolution",
    """WITH RECURSIVE rec AS (
      |  SELECT c_custkey AS k,
      |    CASE WHEN c_custkey % 97 = 0 THEN 'PersonCOMMON'
      |         ELSE 'Person' || CAST(c_custkey // 3 AS VARCHAR) END AS name,
      |    'SEG' || CAST((c_custkey // 3) % 5 AS VARCHAR) AS seg,
      |    ((c_custkey // 3) * 137) % 100000 + c_custkey % 3 AS bu
      |  FROM customer
      |), pairs AS (
      |  SELECT a.k AS ka, b.k AS kb
      |  FROM rec a JOIN rec b ON a.name = b.name AND a.k < b.k
      |  WHERE (CASE WHEN a.seg = b.seg THEN 2 ELSE -1 END)
      |      + (CASE WHEN ABS(a.bu - b.bu) <= 100 THEN 3 ELSE -1 END) >= 4
      |), edges AS (
      |  SELECT ka AS src, kb AS dst FROM pairs
      |  UNION ALL
      |  SELECT kb AS src, ka AS dst FROM pairs
      |), nodes AS (
      |  SELECT DISTINCT src AS id FROM edges
      |), reach(id, root) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
      |), comp AS (
      |  SELECT id, MIN(root) AS component FROM reach GROUP BY id
      |), sizes AS (
      |  SELECT component, COUNT(*) AS size FROM comp GROUP BY component
      |)
      |SELECT size, COUNT(*) AS n_clusters,
      |  CAST(SUM(size) AS BIGINT) AS n_records
      |FROM sizes
      |GROUP BY size
      |ORDER BY size""".stripMargin) { (s, d) =>
    val rec = Tables(s, d, "customer").select(
      col("c_custkey").as("k"),
      when(col("c_custkey") % 97 === 0, "PersonCOMMON")
        .otherwise(concat(lit("Person"), expr("c_custkey div 3").cast("string")))
        .as("name"),
      concat(lit("SEG"), expr("(c_custkey div 3) % 5").cast("string")).as("seg"),
      expr("((c_custkey div 3) * 137) % 100000 + c_custkey % 3").as("bu"))
    val pairs = rec.as("a").join(rec.as("b"),
        col("a.name") === col("b.name") && col("a.k") < col("b.k"))
      .filter(
        (when(col("a.seg") === col("b.seg"), 2).otherwise(-1)
          + when(abs(col("a.bu") - col("b.bu")) <= 100, 3).otherwise(-1)) >= 4)
      .select(col("a.k").as("ka"), col("b.k").as("kb"))
    val edges = pairs.select(col("ka").as("src"), col("kb").as("dst"))
      .union(pairs.select(col("kb").as("src"), col("ka").as("dst")))
      .localCheckpoint()
    var comp = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      val viaNbr = edges.join(comp, col("src") === col("id"))
        .select(col("dst").as("id"), col("component"))
      val next = comp.select("id", "component").union(viaNbr)
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint()
      changed = next.as("n").join(comp.as("o"), "id")
        .filter(col("n.component") =!= col("o.component")).count()
      comp = next
    }
    comp.groupBy("component").agg(count(lit(1)).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_clusters"), sum(col("size")).cast("long").as("n_records"))
      .orderBy("size")
  }

  /** TIERED DEDUP FUNNEL — the production ordering of this family's
    * primitives, cheapest first, each tier feeding the next's
    * survivors: (1) canonical-URL dedup (woven source URLs, keep-min
    * per canonical — one shuffle on a short string), (2) exact
    * content-hash dedup (sha256 of cleaned text, keep-min), (3)
    * verified near-dup thinning (shingle-key candidate pairs among
    * survivors, exact-integer Jaccard ≥ 0.5, greater doc_id of each
    * confirmed pair dropped — pairwise thinning; full transitive
    * clustering is [[qEntityResolution]]'s job). Output: one row per
    * tier with in/out/dropped counts — the funnel report a corpus
    * curation run publishes.
    *
    * Scale: tier order IS the optimization — each stage's shuffle runs
    * on the previous stage's survivors, and the expensive pairwise
    * tier sees only what the O(row) tiers couldn't kill. */
  val qDedupFunnel: QueryDef = QueryDef.sql(
    "q_dedup_funnel",
    s"""WITH d0 AS (
       |  SELECT doc_id, text,
       |    'https://ex' || CAST(doc_id % 470 AS VARCHAR) || '.com/a' AS canonical
       |  FROM documents
       |), t1 AS (
       |  SELECT MIN(doc_id) AS doc_id FROM d0 GROUP BY canonical
       |), s1 AS (
       |  SELECT d0.doc_id, d0.text FROM d0 JOIN t1 ON d0.doc_id = t1.doc_id
       |), t2 AS (
       |  SELECT MIN(doc_id) AS doc_id FROM (
       |    SELECT doc_id, sha256(${TF.cleanTextSql("text")}) AS h FROM s1
       |  ) GROUP BY h
       |), s2 AS (
       |  SELECT s1.doc_id, s1.text FROM s1 JOIN t2 ON s1.doc_id = t2.doc_id
       |), sh AS (
       |  SELECT doc_id, unnest(${DedupOps.shinglesSql("text")}) AS t FROM s2
       |), sizes AS (
       |  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
       |), pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |  FROM sh a JOIN sh b ON a.t = b.t AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |), drops AS (
       |  SELECT DISTINCT doc_b AS doc_id
       |  FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
       |              JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE 2 * i >= sa.n + sb.n - i
       |), s3 AS (
       |  SELECT doc_id FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM drops)
       |)
       |SELECT * FROM (
       |  SELECT 1 AS tier, 'url_canonical' AS name,
       |    (SELECT COUNT(*) FROM d0) AS n_in, (SELECT COUNT(*) FROM s1) AS n_out
       |  UNION ALL
       |  SELECT 2, 'exact_hash',
       |    (SELECT COUNT(*) FROM s1), (SELECT COUNT(*) FROM s2)
       |  UNION ALL
       |  SELECT 3, 'near_dup',
       |    (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM s3)
       |)
       |ORDER BY tier""".stripMargin) { (s, d) =>
    val d0 = docs(s, d).select(col("doc_id"), col("text"),
      concat(lit("https://ex"), (col("doc_id") % 470).cast("string"), lit(".com/a"))
        .as("canonical"))
    val s1 = d0.join(
      d0.groupBy("canonical").agg(min("doc_id").as("doc_id")).select("doc_id"),
      Seq("doc_id")).select("doc_id", "text")
    val s2 = s1.join(
      s1.withColumn("h", sha2(TF.cleanText(col("text")), 256))
        .groupBy("h").agg(min("doc_id").as("doc_id")).select("doc_id"),
      Seq("doc_id")).select("doc_id", "text")
    val sh = s2
      .withColumn("_w", DedupOps.cleanWords(col("text")))
      .select(col("doc_id"), explode(DedupOps.shinglesFromWords(col("_w"))).as("t"))
      .filter(col("t").isNotNull)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.t") === col("b.t") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
    val drops = pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .filter(col("i") * 2 >= col("na") + col("nb") - col("i"))
      .select(col("doc_b").as("doc_id")).distinct()
    val s3 = s2.join(drops, Seq("doc_id"), "left_anti").select("doc_id")
    def n(df: org.apache.spark.sql.DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    import s.implicits._
    val counts = n(d0, "n0").crossJoin(n(s1, "n1")).crossJoin(n(s2, "n2")).crossJoin(n(s3, "n3"))
    val tiers = Seq((1, "url_canonical", "n0", "n1"),
      (2, "exact_hash", "n1", "n2"), (3, "near_dup", "n2", "n3"))
    tiers.map { case (t, nm, i, o) =>
      counts.select(lit(t).as("tier"), lit(nm).as("name"),
        col(i).as("n_in"), col(o).as("n_out"))
    }.reduce(_.unionAll(_)).orderBy("tier")
  }

  val all: Seq[QueryDef] = Seq(
    qDedupExact, qDedupJaccard, qDedupMinhash, qDedupSimhash, qDedupSimhashPairs,
    qDedupExactKeep, qSplitAssign, qDocRepetition, qSplitLeakage, qDedupIncremental,
    qDedupSegments, qBloomScreen, qDedupSnm, qDedupSpans, qDedupFuzzy, qNearDupIndex,
    qTemporalSplit, qDedupEval, qDedupPpjoin, qRecordLinkage, qEntityResolution,
    qDedupFunnel)
}
