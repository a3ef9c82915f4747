package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{Chunkers, Similarity, TextFunctions => TF}
import graft.operators.{DedupOps, SearchOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{size => asize, _}

/** Text-search / corpus-statistics surface (EXT): winnowing rolling-hash
  * fingerprints, TF-IDF term ranking, BM25-style retrieval scoring, a
  * bigram language-model fluency score, hash-stratified sampling, and
  * connected-component dedup clustering over the MinHash candidate
  * graph. These are the retrieval/quality/dedup-closure operations a
  * training-data pipeline runs after the primitives in
  * [[graft.operators.DedupOps]].
  *
  * Determinism contract (QueryDef): ranking scores are IEEE doubles
  * derived from exact integers with the SAME expression shape on both
  * engines; anything summed ACROSS rows is an exact integer (bigram
  * probabilities are floor-scaled to 10⁻⁹ before the per-document sum);
  * per-term scores pivot through MAX(CASE …) — order-independent —
  * instead of a float SUM; every ORDER BY ties-breaks on a unique key.
  */
object SearchQueries {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  // ---- winnowing fingerprints -------------------------------------------

  /** Rolling-hash document fingerprints (winnowing, k=3-token grams,
    * window 4). Per-row Catalyst only — no shuffle; the fingerprint set
    * is the scale-safe join key for plagiarism-style overlap detection
    * (same candidate-join shape as the MinHash bands). */
  val qDocWinnow: QueryDef = QueryDef.sql(
    "q_doc_winnow",
    s"""WITH g AS (
       |  SELECT doc_id, ${SearchOps.gramHashesSql("text")} AS grams
       |  FROM documents
       |), w AS (
       |  SELECT doc_id, grams, ${SearchOps.winnowSql("grams")} AS fps
       |  FROM g
       |)
       |SELECT doc_id,
       |  CAST(len(grams) AS BIGINT) AS n_grams,
       |  CAST(len(fps) AS BIGINT) AS n_fp,
       |  list_aggregate(fps, 'min') AS fp_min,
       |  list_aggregate(fps, 'max') AS fp_max
       |FROM w
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    docs(s, d)
      .withColumn("_w", DedupOps.cleanWords(col("text")))
      .select(col("doc_id"), SearchOps.gramHashesFromWords(col("_w")).as("grams"))
      .select(col("doc_id"), col("grams"), SearchOps.winnow(col("grams")).as("fps"))
      .select(col("doc_id"),
        asize(col("grams")).cast("long").as("n_grams"),
        asize(col("fps")).cast("long").as("n_fp"),
        array_min(col("fps")).as("fp_min"),
        array_max(col("fps")).as("fp_max"))
      .orderBy("doc_id")
  }

  /** Content-defined chunking (Rabin/FastCDC-style): a chunk boundary
    * falls AFTER every word whose hash lands in bucket 0 of 16, so
    * boundaries depend only on local content — an insertion early in a
    * document shifts fixed-size chunk frames everywhere, but
    * content-defined boundaries realign immediately, which is what
    * makes downstream chunk-level dedup robust to edits. Expected chunk
    * length = 16 words. Per-doc report: word/chunk counts and the
    * min/max/mean chunk length.
    *
    * Scale: boundary detection is a per-row array map (no shuffle);
    * the hash is the same engine-exact [[SearchOps.hashBucket]] used
    * for sampling. */
  val qDocCdcChunks: QueryDef = {
    val w = Chunkers.wordsSql(TF.cleanTextSql("text"))
    QueryDef.sql(
      "q_doc_cdc_chunks",
      s"""WITH t AS (
         |  SELECT doc_id, $w AS ws FROM documents
         |), b AS (
         |  SELECT doc_id, len(ws) AS n_words,
         |    list_concat(
         |      [0],
         |      list_filter(range(1, len(ws) + 1),
         |        i -> i = len(ws) OR ${SearchOps.hashBucketSql("(ws)[i]", 16)} = 0)) AS cuts
         |  FROM t
         |), lens AS (
         |  SELECT doc_id, n_words,
         |    list_transform(range(1, len(cuts)), j -> cuts[j + 1] - cuts[j]) AS chunk_lens
         |  FROM b
         |)
         |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |  CAST(len(chunk_lens) AS BIGINT) AS n_chunks,
         |  CAST(list_aggregate(chunk_lens, 'min') AS BIGINT) AS min_len,
         |  CAST(list_aggregate(chunk_lens, 'max') AS BIGINT) AS max_len,
         |  CAST(CAST(n_words AS BIGINT) AS DOUBLE) / CAST(len(chunk_lens) AS DOUBLE) AS mean_len
         |FROM lens
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val ws = Chunkers.words(TF.cleanText(col("text")))
      docs(s, d)
        .select(col("doc_id"), ws.as("ws"))
        .select(col("doc_id"), asize(col("ws")).as("n_words"),
          concat(array(lit(0)),
            filter(sequence(lit(1), asize(col("ws"))),
              i => i === asize(col("ws")) ||
                SearchOps.hashBucket(element_at(col("ws"), i), 16) === 0)).as("cuts"))
        .select(col("doc_id"), col("n_words"),
          transform(sequence(lit(1), asize(col("cuts")) - 1),
            j => element_at(col("cuts"), j + 1) - element_at(col("cuts"), j)).as("chunk_lens"))
        .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
          asize(col("chunk_lens")).cast("long").as("n_chunks"),
          array_min(col("chunk_lens")).cast("long").as("min_len"),
          array_max(col("chunk_lens")).cast("long").as("max_len"),
          (col("n_words").cast("double") / asize(col("chunk_lens")).cast("double")).as("mean_len"))
        .orderBy("doc_id")
    }
  }

  // ---- TF-IDF / BM25 -----------------------------------------------------

  /** Top-3 TF-IDF terms per document. The idf is the exact rational
    * `10⁶/df` (score = tf·10⁶/df as one IEEE division of exact
    * integers) — monotone in the classic log idf for ranking purposes
    * and reproducible bit-for-bit across engines, which `ln` is not
    * guaranteed to be.
    *
    * Scale: one explode → two hash aggregations (tf on (doc,term), df
    * on term) → an UNHINTED equi-join on `term`: the df table is the
    * corpus vocabulary, which grows with corpus size (ids, typos,
    * names), so forcing a broadcast would OOM executors at 100 TB. A
    * shuffled join on `term` is the scale shape; AQE may still pick a
    * broadcast at small SF, which is fine — the point is not to FORCE
    * it. PlanSpec asserts no broadcast hint survives into the plan.
    * Then a per-doc top-k window that Spark plans with
    * WindowGroupLimit partial pushdown. */
  val qTfidfTop: QueryDef = QueryDef.sql(
    "q_tfidf_top",
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${Chunkers.wordsSql(TF.cleanTextSql("text"))}) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    CAST(tf.tf * 1000000 AS DOUBLE) / CAST(df.df AS DOUBLE) AS score
       |  FROM tf JOIN df ON tf.term = df.term
       |)
       |SELECT doc_id, term, tf, df, score, rank
       |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |        ORDER BY score DESC, term) AS rank
       |      FROM scored) ranked
       |WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    val tok = docs(s, d).select(col("doc_id"),
      explode(Chunkers.words(TF.cleanText(col("text")))).as("term"))
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, "term")
      .withColumn("score",
        (col("tf") * lit(1000000)).cast("double") / col("df").cast("double"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))))
      .filter(col("rank") <= 3)
      .select("doc_id", "term", "tf", "df", "score", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Query terms for the BM25 retrieval demo (common corpus words). */
  private val Bm25Terms = Seq("vector", "hash", "join")

  /** BM25 retrieval scoring (k1=1.2, b=0.75) of a fixed 3-term query
    * against every document, top-25. Deviation (pinned): the idf is the
    * RATIONAL Robertson form (N−df+0.5)/(df+0.5) without the log —
    * same ranking direction, cross-engine exact. Per-term partial
    * scores pivot into columns via MAX(CASE) so the final score is a
    * fixed-order 3-term sum, not an order-sensitive float aggregate.
    *
    * Scale: tf table is filtered to the query terms BEFORE any join
    * (3·N rows max), df/avgdl are scalar broadcasts; nothing here is
    * quadratic. */
  /** WITH-clause body of the BM25 scorer, ending at CTE `bm` =
    * (doc_id, score). Shared by q_bm25_search and q_hybrid_rrf so both
    * engines score the identical lexical leg. */
  private def bm25Ctes: String =
    s"""tok AS (
       |  SELECT doc_id, unnest(${Chunkers.wordsSql(TF.cleanTextSql("text"))}) AS term
       |  FROM documents
       |), dl AS (
       |  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_dl FROM dl
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM tok
       |  WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY doc_id, term
       |), df AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), part AS (
       |  SELECT tf.doc_id, tf.term,
       |    ((CAST(stats.n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
       |      * (CAST(tf.tf AS DOUBLE) * 2.2)
       |      / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 *
       |          (CAST(dl.dl AS DOUBLE) / (CAST(stats.total_dl AS DOUBLE) / CAST(stats.n_docs AS DOUBLE))))) AS s
       |  FROM tf
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  JOIN df ON df.term = tf.term
       |  CROSS JOIN stats
       |), bm AS (
       |  SELECT doc_id,
       |    COALESCE(MAX(CASE WHEN term = 'vector' THEN s END), 0.0)
       |      + COALESCE(MAX(CASE WHEN term = 'hash' THEN s END), 0.0)
       |      + COALESCE(MAX(CASE WHEN term = 'join' THEN s END), 0.0) AS score
       |  FROM part
       |  GROUP BY doc_id
       |)""".stripMargin

  /** Spark face of [[bm25Ctes]]: (doc_id, score) for every document
    * containing at least one query term. */
  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val tok = docs(s, d).select(col("doc_id"),
      explode(Chunkers.words(TF.cleanText(col("text")))).as("term"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("total_dl"))
    val tf = tok.filter(col("term").isin(Bm25Terms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val part = tf
      .join(dl, "doc_id")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (((col("n_docs") - col("df")).cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5))
          * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / (col("total_dl").cast("double") / col("n_docs").cast("double")))))).as("s"))
    part.groupBy("doc_id")
      .agg((coalesce(max(when(col("term") === "vector", col("s"))), lit(0.0))
        + coalesce(max(when(col("term") === "hash", col("s"))), lit(0.0))
        + coalesce(max(when(col("term") === "join", col("s"))), lit(0.0))).as("score"))
  }

  val qBm25Search: QueryDef = QueryDef.sql(
    "q_bm25_search",
    s"""WITH $bm25Ctes
       |SELECT doc_id, score FROM bm
       |ORDER BY score DESC, doc_id
       |LIMIT 25""".stripMargin) { (s, d) =>
    bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(25)
  }

  /** INVERTED INDEX retrieval — [[qBm25Search]]'s production shape
    * ([[graft.sources.InvertedIndex]]): postings persisted once
    * partitioned by an md5-prefix cell, then the SAME 3-term query
    * reads only its own terms' cells (static partition pruning, the
    * IVF/MinHash pattern applied to text) and reproduces the full-scan
    * BM25 ranking EXACTLY — identical oracle SQL as q_bm25_search, so
    * cell routing, sidecar stats (df/dl/avgdl without a corpus rescan)
    * and the pruned score join are all hash-verified against the
    * from-scratch scorer. */
  val qInvertedSearch: QueryDef = QueryDef.sql(
    "q_inverted_search",
    s"""WITH $bm25Ctes
       |SELECT doc_id, score FROM bm
       |ORDER BY score DESC, doc_id
       |LIMIT 25""".stripMargin) { (s, d) =>
    val Seq(indexDir) = Fixtures.dirs(s, "graft_invidx", "index")
    graft.sources.InvertedIndex.build(docs(s, d), indexDir)
    graft.sources.InvertedIndex.searchBm25(s, indexDir, Bm25Terms, 25)
  }

  /** INDEX CELL COMPACTION ([[graft.sources.InvertedIndex.compact]],
    * the small-file maintenance face the other three index families
    * share via [[graft.sources.CellCompaction]]): the index is built
    * in three waves (build + two appends — each wave strews one file
    * set per touched cell), compacted back to scan-sized cell files,
    * and THEN probed — identical oracle SQL as q_bm25_search, so the
    * rewrite provably changed layout, not rows. The `compacted` flag
    * asserts file count actually shrank and rides in the output: a
    * compaction that silently did nothing breaks the hash.
    *
    * Scale: at 100 TB the probe scheduler's bottleneck is file count
    * (1000 streamed batches = 1000 files per cell); compaction is
    * O(oversized cells) rewrite jobs with rows never on the driver,
    * and right-sized cells are never read. */
  val qIndexCompact: QueryDef = QueryDef.sql(
    "q_index_compact",
    s"""WITH $bm25Ctes
       |SELECT doc_id, score, true AS compacted FROM bm
       |ORDER BY score DESC, doc_id
       |LIMIT 25""".stripMargin) { (s, d) =>
    import graft.sources.InvertedIndex
    val Seq(indexDir) = Fixtures.dirs(s, "graft_invcmp", "index")
    InvertedIndex.build(docs(s, d).filter(col("doc_id") % 3 === 0), indexDir)
    InvertedIndex.append(docs(s, d).filter(col("doc_id") % 3 === 1), indexDir)
    InvertedIndex.append(docs(s, d).filter(col("doc_id") % 3 === 2), indexDir)
    def nFiles: Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) {
          if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0
          else f.listFiles().map(walk).sum
        } else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(indexDir))
    }
    val before = nFiles
    InvertedIndex.compact(s, indexDir)
    InvertedIndex.searchBm25(s, indexDir, Bm25Terms, 25)
      .withColumn("compacted", lit(nFiles < before))
  }

  /** HYBRID retrieval via reciprocal rank fusion (Cormack et al.,
    * SIGIR '09): fuse the BM25 lexical ranking ([[bm25Ctes]]) with a
    * dense cosine ranking against a query embedding (vec_id 0 — the
    * test corpus keys `embeddings.vec_id` to `documents.doc_id`), each
    * side truncated to its top-64 list, scored 1/(60+rank) and summed.
    * The query document (doc 0) is excluded from BOTH legs, so it can
    * never surface as its own retrieval result. This is the standard
    * RAG retrieval shape: lexical and dense legs run independently,
    * only their RANK LISTS meet.
    *
    * Scale: each leg ends in a distributed partial top-k
    * (TakeOrderedAndProject), so the only single-partition work — the
    * rank window and the outer-join fusion — runs on two 64-row lists,
    * bounded by the fusion depth, never the corpus. The dense leg is
    * brute-force here; at 100 TB it swaps for the IVF route
    * ([[SimilarityQueries.qKnnIvf]]) without touching the fusion.
    *
    * Determinism: ranks are integers with unique-key tie-breaks;
    * 1/(60+rank) is one exact-IEEE division, and the fusion sum is a
    * fixed-order two-term add — engine-exact. */
  val qHybridRrf: QueryDef = QueryDef.sql(
    "q_hybrid_rrf",
    s"""WITH $bm25Ctes, bm_top AS (
       |  SELECT doc_id, score FROM bm WHERE doc_id <> 0
       |  ORDER BY score DESC, doc_id LIMIT 64
       |), bm_rank AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_t
       |  FROM bm_top
       |), t AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), qv AS (
       |  SELECT e AS qe FROM t WHERE vec_id = 0
       |), vec_top AS (
       |  SELECT vec_id AS doc_id, ${Similarity.cosineSql("qe", "e")} AS sim
       |  FROM t, qv WHERE vec_id <> 0
       |  ORDER BY sim DESC, doc_id LIMIT 64
       |), vec_rank AS (
       |  SELECT doc_id,
       |    CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, doc_id) AS BIGINT) AS rank_v
       |  FROM vec_top
       |), fused AS (
       |  SELECT COALESCE(b.doc_id, v.doc_id) AS doc_id, b.rank_t, v.rank_v,
       |    COALESCE(CAST(1 AS DOUBLE) / CAST(60 + b.rank_t AS DOUBLE), CAST(0 AS DOUBLE))
       |      + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + v.rank_v AS DOUBLE), CAST(0 AS DOUBLE)) AS rrf
       |  FROM bm_rank b FULL OUTER JOIN vec_rank v ON v.doc_id = b.doc_id
       |)
       |SELECT doc_id, rank_t, rank_v, rrf FROM fused
       |ORDER BY rrf DESC, doc_id
       |LIMIT 25""".stripMargin) { (s, d) =>
    val bmTop = bm25Scores(s, d).filter(col("doc_id") =!= 0)
      .orderBy(col("score").desc, col("doc_id")).limit(64)
    val bmRank = bmTop
      .withColumn("rank_t",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_t")
    val t = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))
    val qv = t.filter(col("vec_id") === 0).select(col("e").as("qe"))
    val vecTop = t.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        Similarity.cosineIn(s, col("qe"), col("e")).as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(64)
    val vecRank = vecTop
      .withColumn("rank_v",
        row_number().over(Window.orderBy(col("sim").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank_v")
    bmRank.join(vecRank, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_t"), col("rank_v"),
        (coalesce(lit(1).cast("double") / (lit(60) + col("rank_t")).cast("double"), lit(0).cast("double"))
          + coalesce(lit(1).cast("double") / (lit(60) + col("rank_v")).cast("double"), lit(0).cast("double"))).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(25)
  }

  /** Corpus heavy hitters through Spark's `approx_top_k` frequency
    * SKETCH (DataSketches frequent-items under the hood): each partition
    * builds a bounded sketch, partials merge associatively, and the
    * driver never sees per-term counts — the sketch path is the 100 TB
    * shape (no full term shuffle). With `maxItemsTracked` ≫ the corpus
    * vocabulary the sketch is in exact mode, so the re-sorted top-10
    * matches the exact GROUP BY oracle; the margin (k=20 → top-10)
    * keeps boundary ties deterministic after the (count, term) re-sort. */
  val qHeavyHitters: QueryDef = QueryDef.sql(
    "q_heavy_hitters",
    s"""WITH tok AS (
       |  SELECT unnest(${Chunkers.wordsSql(TF.cleanTextSql("text"))}) AS term
       |  FROM documents
       |), counts AS (
       |  SELECT term, COUNT(*) AS n FROM tok GROUP BY term
       |)
       |SELECT term, n FROM counts
       |ORDER BY n DESC, term
       |LIMIT 10""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(explode(Chunkers.words(TF.cleanText(col("text")))).as("term"))
      .agg(expr("approx_top_k(term, 20, 8192)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("term"), col("e.count").as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(10)
  }

  // ---- bigram language-model score --------------------------------------

  /** Corpus-trained bigram LM fluency score per document: the corpus
    * bigram/prefix counts give p(w₂|w₁) = c₂/c₁; each per-bigram
    * probability is floor-scaled to an exact integer (×10⁹) BEFORE the
    * per-document averaging, so the cross-row sum is a long and the
    * result engine-exact. The model carries a document-frequency floor
    * (`BigramModelFloor`, the standard `HAVING COUNT(*) >= k` cut):
    * scoring only counts bigrams that survive the floor, which drops
    * the Zipf tail of singleton bigrams from the model table.
    *
    * Scale: two corpus-wide hash aggregations (bigram counts, prefix
    * counts — both map-side partial), then UNHINTED equi-joins of the
    * model back onto the exploded stream. Distinct bigrams grow
    * near-linearly with corpus size (typos, ids, names) — at 100 TB the
    * model is billions of rows, so a forced broadcast would OOM every
    * executor; the shuffled join on `bigram`/`prefix` is the scale
    * shape, and the floor shrinks the model by the singleton tail
    * first. PlanSpec asserts no broadcast hint survives into the plan. */
  /** Model document-frequency floor for [[qDocBigramLm]]: bigrams seen
    * fewer than this many times corpus-wide are cut from the model
    * (and therefore from scoring) on BOTH engines, keeping the oracle
    * exact while shrinking the model table by the Zipf singleton tail. */
  val BigramModelFloor: Int = 2

  val qDocBigramLm: QueryDef = QueryDef.sql(
    "q_doc_bigram_lm",
    s"""WITH w AS (
       |  SELECT doc_id, ${Chunkers.wordsSql(TF.cleanTextSql("text"))} AS ws
       |  FROM documents
       |), bi AS (
       |  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
       |    THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i + 1])
       |    ELSE [] END) AS bigram
       |  FROM w
       |), c2 AS (
       |  SELECT bigram, COUNT(*) AS n2 FROM bi GROUP BY bigram
       |  HAVING COUNT(*) >= $BigramModelFloor
       |), c1 AS (
       |  SELECT split_part(bigram, ' ', 1) AS prefix, COUNT(*) AS n1
       |  FROM bi GROUP BY prefix
       |), scored AS (
       |  SELECT bi.doc_id,
       |    CAST(FLOOR(CAST(c2.n2 * 1000000000 AS DOUBLE) / CAST(c1.n1 AS DOUBLE)) AS BIGINT) AS p_scaled
       |  FROM bi
       |  JOIN c2 ON c2.bigram = bi.bigram
       |  JOIN c1 ON c1.prefix = split_part(bi.bigram, ' ', 1)
       |)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  CAST(CAST(SUM(p_scaled) AS BIGINT) AS DOUBLE)
       |    / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS avg_p
       |FROM scored
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // bigrams via zip_with over two slices of the materialized word
    // array — NOT transform-over-sequence with element_at in the
    // lambda: consumed straight off the parquet scan, that shape
    // measured 135µs/element (17× slower end to end, r8 profiling in
    // BENCH_NOTES) while the slice/zip_with form evaluates the array
    // children once per ROW and runs the lambda over them directly
    val bi = docs(s, d)
      .withColumn("_ws", DedupOps.cleanWords(col("text")))
      .select(col("doc_id"),
        when(asize(col("_ws")) >= 2,
          zip_with(
            slice(col("_ws"), lit(1), asize(col("_ws")) - 1),
            slice(col("_ws"), lit(2), asize(col("_ws")) - 1),
            (x, y) => concat(x, lit(" "), y)))
          .otherwise(array().cast("array<string>")).as("bigrams"))
      .select(col("doc_id"), explode(col("bigrams")).as("bigram"))
    val c2 = bi.groupBy("bigram").agg(count(lit(1)).as("n2"))
      .filter(col("n2") >= BigramModelFloor)
    val c1 = bi.groupBy(substring_index(col("bigram"), " ", 1).as("prefix"))
      .agg(count(lit(1)).as("n1"))
    bi.join(c2, "bigram")
      .join(c1,
        substring_index(col("bigram"), " ", 1) === col("prefix"))
      .select(col("doc_id"),
        floor((col("n2") * lit(1000000000)).cast("double") / col("n1").cast("double"))
          .cast("long").as("p_scaled"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("p_scaled")).cast("long").cast("double")
          / (count(lit(1)).cast("double") * lit(1000000000.0))).as("avg_p"))
      .orderBy("doc_id")
  }

  // ---- embedding quantization -------------------------------------------

  /** Int8-style embedding quantization quality report: per-dimension
    * global [min, max] ranges (the calibration pass), each component
    * floor-quantized to 0–255 and dequantized, and the reconstruction
    * error aggregated per label. This is the storage-compression op a
    * vector store runs before persisting 100 TB of float32 embeddings
    * at 4× reduction — the report bounds what the compression costs.
    *
    * Scale: calibration is one 64-row aggregate (map-side partial over
    * the exploded components) broadcast back; everything after is
    * per-row arithmetic. Determinism: quantization uses FLOOR (never
    * round — engines disagree at .5), per-vector error sums are
    * floor-scaled exact integers, cross-vector reduction is MAX/SUM of
    * exact values. */
  val qEmbedQuantize: QueryDef = QueryDef.sql(
    "q_embed_quantize",
    """WITH comp AS (
      |  SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
      |    CAST(embedding[i] AS DOUBLE) AS v
      |  FROM embeddings, range(1, 65) t(i)
      |), stats AS (
      |  SELECT dim, MIN(v) AS mn, MAX(v) AS mx FROM comp GROUP BY dim
      |), q AS (
      |  SELECT c.vec_id, c.label,
      |    ABS((s.mn + LEAST(GREATEST(FLOOR((c.v - s.mn) / (s.mx - s.mn) * 255.0), 0.0), 255.0)
      |      * (s.mx - s.mn) / 255.0) - c.v) AS err
      |  FROM comp c JOIN stats s ON s.dim = c.dim
      |), pv AS (
      |  SELECT vec_id, label, MAX(err) AS max_err,
      |    CAST(SUM(CAST(FLOOR(err * 1000000000.0) AS BIGINT)) AS BIGINT) AS err_scaled
      |  FROM q GROUP BY vec_id, label
      |)
      |SELECT label, COUNT(*) AS n_vecs,
      |  MAX(max_err) AS max_err,
      |  CAST(CAST(SUM(err_scaled) AS BIGINT) AS DOUBLE)
      |    / (CAST(COUNT(*) AS DOUBLE) * 64.0 * 1000000000.0) AS mean_err
      |FROM pv
      |GROUP BY label
      |ORDER BY label""".stripMargin) { (s, d) =>
    val comp = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .select(col("vec_id"), col("label"),
        col("pos").as("dim"), col("col").cast("double").as("v"))
    val stats = comp.groupBy("dim")
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val q = comp.join(broadcast(stats), "dim")
      .select(col("vec_id"), col("label"),
        abs((col("mn")
          + least(greatest(
              floor((col("v") - col("mn")) / (col("mx") - col("mn")) * lit(255.0)),
              lit(0.0)), lit(255.0))
            * (col("mx") - col("mn")) / lit(255.0)) - col("v")).as("err"))
    q.groupBy("vec_id", "label")
      .agg(max(col("err")).as("max_err"),
        sum(floor(col("err") * lit(1000000000.0)).cast("long")).cast("long").as("err_scaled"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        max(col("max_err")).as("max_err"),
        (sum(col("err_scaled")).cast("long").cast("double")
          / (count(lit(1)).cast("double") * lit(64.0) * lit(1000000000.0))).as("mean_err"))
      .orderBy("label")
  }

  /** Johnson–Lindenstrauss random projection 64 → 16 dims with a
    * distance-preservation report: the projection matrix is ±1 signs
    * derived from md5("rp:i:j") (deterministic, no RNG state, identical
    * in both engines), scaled by 1/√16 = 1/4 exactly. Quality is
    * measured on the linear chain of (vec_id, vec_id+1) pairs — never
    * all-pairs — as the ratio of squared distances after/before; JL
    * says the mean ratio ≈ 1 with bounded spread.
    *
    * Scale: the "matrix" is a formula, not data — nothing is broadcast,
    * no driver state; projection is per-row arithmetic and the report
    * is one aggregation. Determinism: every per-row fold is
    * left-to-right (≡ DuckDB list_reduce), cross-row stats are MIN/MAX
    * doubles and floor-scaled exact-integer sums. */
  val qEmbedRandomProjection: QueryDef = {
    // ±1 sign from the first md5 nibble: '0'..'7' → +1, '8'..'f' → -1
    def signSql(i: String, j: String) =
      s"(CASE WHEN substr(md5('rp:' || CAST($i AS VARCHAR) || ':' || CAST($j AS VARCHAR)), 1, 1) " +
        s"BETWEEN '0' AND '7' THEN 1.0 ELSE -1.0 END)"
    // The sign "matrix" is a formula over (i, j) ALONE — md5('rp:i:j')
    // is a per-cell constant, but expressed inside transform() lambdas
    // Catalyst cannot constant-fold it, so the composed form recomputed
    // 16·64 = 1024 md5s PER ROW (r15 measurement: 35.7 s at sf0.01, the
    // whole inventory's worst scale canary). Fold the matrix once at
    // plan-construction time — same md5, same first-nibble rule — and
    // emit the projection as a static expression chain with literal ±1
    // signs (whole-stage-codegen'd arithmetic, no HOF interpretation).
    // Fold order matches aggregate()'s left fold from 0.0 bit-for-bit:
    // foldLeft(lit(0.0))(_ + _) ≡ ((0.0 + t1) + t2) + …
    def signConst(i: Int, j: Int): Double = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$i:$j".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (((d(0) >> 4) & 0xF) <= 7) 1.0 else -1.0
    }
    QueryDef.sql(
      "q_embed_rp",
      s"""WITH proj AS (
         |  SELECT vec_id, label,
         |    list_transform(range(0, 16), j ->
         |      list_reduce(
         |        list_transform(range(1, 65), i ->
         |          CAST(embedding[i] AS DOUBLE) * ${signSql("i - 1", "j")}),
         |        (x, y) -> x + y) / 4.0) AS rp,
         |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)) AS v
         |  FROM embeddings
         |), pairs AS (
         |  SELECT a.label,
         |    list_reduce(list_transform(range(1, 17),
         |      k -> (a.rp[k] - b.rp[k]) * (a.rp[k] - b.rp[k])), (x, y) -> x + y) AS d_rp,
         |    list_reduce(list_transform(range(1, 65),
         |      k -> (a.v[k] - b.v[k]) * (a.v[k] - b.v[k])), (x, y) -> x + y) AS d_v
         |  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
         |)
         |SELECT label, COUNT(*) AS n_pairs,
         |  MIN(d_rp / d_v) AS min_ratio,
         |  MAX(d_rp / d_v) AS max_ratio,
         |  CAST(CAST(SUM(CAST(FLOOR(d_rp / d_v * 1000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |    / (CAST(COUNT(*) AS DOUBLE) * 1000000000.0) AS mean_ratio
         |FROM pairs
         |GROUP BY label
         |ORDER BY label""".stripMargin) { (s, d) =>
      // rp[j] = (Σ_i e[i] · S[i-1][j]) / 4 with S folded to a LITERAL
      // matrix (same md5, same nibble rule — signConst above): the
      // zip_with product keeps the former form's term order (value ×
      // sign) and the aggregate keeps its left fold from 0.0, so every
      // double is bit-identical; only the 1024 per-row md5 calls are
      // gone. (A fully static 1024-term Add chain was tried first and
      // measured SLOWER — one huge expression defeats codegen and falls
      // back to interpreted nested eval; the literal-array HOF shape is
      // the same one q_embed_neardup's LSH planes already use.)
      val signLit = typedLit(
        (0 to 15).map(j => (0 to 63).map(i => signConst(i, j))))
      val vExpr = transform(sequence(lit(1), lit(64)),
        i => element_at(col("embedding"), i).cast("double"))
      val proj = Tables(s, d, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(sequence(lit(0), lit(15)), j =>
            aggregate(
              zip_with(vExpr, element_at(signLit, j + 1), (x, sgn) => x * sgn),
              lit(0.0), (acc, x) => acc + x) / lit(4.0)).as("rp"),
          vExpr.as("v"))
      val dist = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column, n: Int) =>
        aggregate(
          transform(sequence(lit(1), lit(n)), k =>
            (element_at(a, k) - element_at(b, k)) * (element_at(a, k) - element_at(b, k))),
          lit(0.0), (acc, x) => acc + x)
      proj.as("a")
        .join(proj.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
        .select(col("a.label").as("label"),
          dist(col("a.rp"), col("b.rp"), 16).as("d_rp"),
          dist(col("a.v"), col("b.v"), 64).as("d_v"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("d_rp") / col("d_v")).as("min_ratio"),
          max(col("d_rp") / col("d_v")).as("max_ratio"),
          (sum(floor(col("d_rp") / col("d_v") * lit(1000000000.0)).cast("long")).cast("long").cast("double")
            / (count(lit(1)).cast("double") * lit(1000000000.0))).as("mean_ratio"))
        .orderBy("label")
    }
  }

  // ---- stratified sampling ----------------------------------------------

  /** Deterministic hash-stratified sampling: keep a doc iff its md5
    * bucket (0–99) clears the per-language rate — 10% for the dominant
    * `en` stratum, 50% for the rest. Reproducible across engines, runs
    * and partitionings (no RNG state); the kept-set checksum asserts
    * exact membership, not just counts.
    *
    * Scale: embarrassingly parallel row filter + one aggregation;
    * sampling BEFORE any shuffle is the cheapest place to thin 100 TB. */
  val qSampleStratified: QueryDef = QueryDef.sql(
    "q_sample_stratified",
    s"""WITH b AS (
       |  SELECT lang, doc_id,
       |    ${SearchOps.hashBucketSql("CAST(doc_id AS VARCHAR)", 100)} AS bucket,
       |    CASE WHEN lang = 'en' THEN 10 ELSE 50 END AS rate
       |  FROM documents
       |)
       |SELECT lang,
       |  COUNT(*) AS n_total,
       |  CAST(SUM(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN bucket < rate THEN doc_id ELSE 0 END) AS BIGINT) AS kept_sum
       |FROM b
       |GROUP BY lang
       |ORDER BY lang""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("lang"), col("doc_id"),
        SearchOps.hashBucket(col("doc_id").cast("string"), 100).as("bucket"),
        when(col("lang") === "en", lit(10)).otherwise(lit(50)).as("rate"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("bucket") < col("rate"), lit(1)).otherwise(lit(0))).cast("long").as("n_kept"),
        sum(when(col("bucket") < col("rate"), col("doc_id")).otherwise(lit(0))).cast("long").as("kept_sum"))
      .orderBy("lang")
  }

  /** Corpus REBALANCING sampler: per-language keep-rates computed FROM
    * the data (downsample every language to the smallest language's
    * size — a uniform target mix), then the same deterministic
    * hash-bucket filter as q_sample_stratified. The rate table is
    * bounded by the LANGUAGE COUNT, not the corpus, so broadcasting it
    * is the legitimate use of the hint (contrast the de-broadcast rule
    * for corpus-growing model tables). The keep decision is the exact
    * integer cross-multiplication `bucket · n_lang < min_n · 10000` —
    * no rate division, so no float-rounding drift between engines. */
  val qSampleBalanced: QueryDef = QueryDef.sql(
    "q_sample_balanced",
    s"""WITH c AS (
       |  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
       |), m AS (
       |  SELECT MIN(n_lang) AS min_n FROM c
       |), b AS (
       |  SELECT d.lang, d.doc_id, c.n_lang, m.min_n,
       |    ${SearchOps.hashBucketSql("CAST(doc_id AS VARCHAR)", 10000)} AS bucket
       |  FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
       |)
       |SELECT lang, CAST(MAX(n_lang) AS BIGINT) AS n_total,
       |  CAST(SUM(CASE WHEN bucket * n_lang < min_n * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN bucket * n_lang < min_n * 10000 THEN doc_id ELSE 0 END) AS BIGINT) AS kept_sum
       |FROM b
       |GROUP BY lang
       |ORDER BY lang""".stripMargin) { (s, d) =>
    val counts = docs(s, d).groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min(col("n_lang")).as("min_n"))
    val keep = col("bucket") * col("n_lang") < col("min_n") * 10000
    docs(s, d)
      .join(broadcast(counts), Seq("lang"))
      .crossJoin(broadcast(minN))
      .withColumn("bucket", SearchOps.hashBucket(col("doc_id").cast("string"), 10000))
      .groupBy("lang")
      .agg(max(col("n_lang")).cast("long").as("n_total"),
        sum(when(keep, lit(1)).otherwise(lit(0))).cast("long").as("n_kept"),
        sum(when(keep, col("doc_id")).otherwise(lit(0))).cast("long").as("kept_sum"))
      .orderBy("lang")
  }

  /** Per-DOMAIN document cap with a sublinear quota (the Common-Crawl
    * pipeline rule that one giant domain must not dominate the corpus):
    * each `source` keeps at most `⌊√n⌋` documents (≥1), chosen by hash
    * rank. The selection is BUCKET-GRANULAR by design: docs hash into
    * 1000 buckets per source, a per-source cumulative bucket count
    * picks the largest threshold bucket whose running total stays
    * within quota, and the keep rule is a plain `bucket ≤ threshold`
    * filter. That is the 100 TB shape — an exact per-source rank would
    * need a window ORDER BY over every row of the largest domain, while
    * here the only window runs over the BOUNDED (source × 1000) bucket
    *-count table and the corpus-sized passes are all narrow filters or
    * partial-agg shuffles. n_kept lands ≤ cap (within one bucket's
    * docs of it), deterministically on both engines.
    *
    * No broadcast hints: distinct domains GROW with a crawl corpus, so
    * every per-source table here is corpus-growing — the same rule that
    * de-broadcast the bigram/tf-idf model tables (contrast
    * [[qSampleTemperature]], whose per-LANGUAGE tables are bounded). */
  val qDomainCap: QueryDef = QueryDef.sql(
    "q_domain_cap",
    s"""WITH c AS (
       |  SELECT source, COUNT(*) AS n_src FROM documents GROUP BY source
       |), cap AS (
       |  SELECT source, n_src,
       |    GREATEST(1, CAST(FLOOR(SQRT(CAST(n_src AS DOUBLE))) AS BIGINT)) AS cap
       |  FROM c
       |), b AS (
       |  SELECT source, doc_id,
       |    ${SearchOps.hashBucketSql("CAST(doc_id AS VARCHAR)", 1000)} AS bucket
       |  FROM documents
       |), bc AS (
       |  SELECT source, bucket, COUNT(*) AS nb FROM b GROUP BY source, bucket
       |), cum AS (
       |  SELECT source, bucket,
       |    SUM(nb) OVER (PARTITION BY source ORDER BY bucket) AS cum
       |  FROM bc
       |), thr AS (
       |  SELECT cum.source,
       |    MAX(CASE WHEN cum.cum <= cap.cap THEN cum.bucket ELSE -1 END) AS tbkt
       |  FROM cum JOIN cap ON cap.source = cum.source
       |  GROUP BY cum.source
       |)
       |SELECT b.source, COUNT(*) AS n_total,
       |  CAST(MAX(cap.cap) AS BIGINT) AS cap,
       |  CAST(SUM(CASE WHEN b.bucket <= t.tbkt THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN b.bucket <= t.tbkt THEN b.doc_id ELSE 0 END) AS BIGINT) AS kept_sum
       |FROM b JOIN thr t ON t.source = b.source JOIN cap ON cap.source = b.source
       |GROUP BY b.source
       |ORDER BY b.source""".stripMargin) { (s, d) =>
    val quotas = docs(s, d).groupBy("source").agg(count(lit(1)).as("n_src"))
      .select(col("source"),
        greatest(lit(1L), floor(sqrt(col("n_src").cast("double"))).cast("long")).as("quota"))
    SearchOps.bucketQuota(docs(s, d), "source", "doc_id", quotas, 1000)
      .withColumnRenamed("quota", "cap")
  }

  /** Per-item WEIGHTED priority sample, k without replacement (the
    * quality-weighted corpus subset every curation pipeline draws):
    * each document gets the deterministic priority `h / w` — `h` a
    * 2²⁰-bucket md5 hash of the id, `w = n_chars` the weight — and the
    * sample is the k smallest priorities, so a document's selection
    * odds rise with its weight while the choice stays reproducible
    * bit-for-bit on both engines. The textbook Efraimidis–Spirakis
    * exponential-key form `u^(1/w)` gives exactly
    * probability-proportional-to-size inclusion but runs through
    * ln/pow, which IEEE-754 does NOT require to be correctly rounded —
    * the selected SET could then differ between libms. The uniform-key
    * ratio keeps every step exact (md5 → integer, one correctly-rounded
    * division), trading the exact-PPS property for cross-engine
    * determinism — the same pinned-deviation style as the BPE token
    * counter (SURVEY §7.4).
    *
    * Scale: one narrow scan computes priorities; the global k-smallest
    * is `TakeOrderedAndProject` — each map task forwards only its local
    * top-k, the driver merges Q·k rows, no sort of the corpus, no
    * single-partition exchange (PlanSpec-asserted). */
  val qSampleWeighted: QueryDef = QueryDef.sql(
    "q_sample_weighted",
    s"""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
       |  CAST(${SearchOps.hashBucketSql("CAST(doc_id AS VARCHAR)", 1 << 20)} AS DOUBLE)
       |    / CAST(n_chars AS DOUBLE) AS pr
       |FROM documents
       |ORDER BY pr, doc_id
       |LIMIT 100""".stripMargin) { (s, d) =>
    docs(s, d)
      .select(col("doc_id"), col("lang"), col("n_chars").cast("long").as("n_chars"),
        (SearchOps.hashBucket(col("doc_id").cast("string"), 1 << 20).cast("double") /
          col("n_chars").cast("double")).as("pr"))
      .orderBy(col("pr"), col("doc_id"))
      .limit(100)
  }

  private val TempTarget = 200L

  /** TEMPERATURE-flattened language mix (the multilingual-training
    * sampling rule p ∝ nᵅ, α=½): per-language quotas `⌊target·√n/Σ√n⌋`
    * allocate a fixed overall budget so high-resource languages are
    * flattened instead of truncated to the minimum (contrast
    * [[qSampleBalanced]]'s uniform floor). √n is IEEE-exact (correctly
    * rounded) and everything after it is integer arithmetic, so both
    * engines pick identical member sets via the same bucket-granular
    * quota selection as [[qDomainCap]] — whose scaladoc explains why
    * the bucket shape, and not a per-row rank, survives 100 TB. The
    * per-language tables HERE are bounded (languages are a fixed
    * vocabulary, unlike domains), so the small-side joins could even
    * broadcast; the hints stay off to keep one code shape. */
  val qSampleTemperature: QueryDef = QueryDef.sql(
    "q_sample_temperature",
    s"""WITH c AS (
       |  SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
       |), w AS (
       |  SELECT lang, n_lang,
       |    CAST(FLOOR(SQRT(CAST(n_lang AS DOUBLE))) AS BIGINT) AS wl
       |  FROM c
       |), tot AS (
       |  SELECT SUM(wl) AS sw FROM w
       |), alloc AS (
       |  SELECT lang, n_lang, ($TempTarget * wl) // tot.sw AS alloc
       |  FROM w CROSS JOIN tot
       |), b AS (
       |  SELECT lang, doc_id,
       |    ${SearchOps.hashBucketSql("CAST(doc_id AS VARCHAR)", 10000)} AS bucket
       |  FROM documents
       |), bc AS (
       |  SELECT lang, bucket, COUNT(*) AS nb FROM b GROUP BY lang, bucket
       |), cum AS (
       |  SELECT lang, bucket,
       |    SUM(nb) OVER (PARTITION BY lang ORDER BY bucket) AS cum
       |  FROM bc
       |), thr AS (
       |  SELECT cum.lang,
       |    MAX(CASE WHEN cum.cum <= a.alloc THEN cum.bucket ELSE -1 END) AS tbkt
       |  FROM cum JOIN alloc a ON a.lang = cum.lang
       |  GROUP BY cum.lang
       |)
       |SELECT b.lang, COUNT(*) AS n_total,
       |  CAST(MAX(a.alloc) AS BIGINT) AS alloc,
       |  CAST(SUM(CASE WHEN b.bucket <= t.tbkt THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  CAST(SUM(CASE WHEN b.bucket <= t.tbkt THEN b.doc_id ELSE 0 END) AS BIGINT) AS kept_sum
       |FROM b JOIN thr t ON t.lang = b.lang JOIN alloc a ON a.lang = b.lang
       |GROUP BY b.lang
       |ORDER BY b.lang""".stripMargin) { (s, d) =>
    val wdf = docs(s, d).groupBy("lang").agg(count(lit(1)).as("n_lang"))
      .select(col("lang"),
        floor(sqrt(col("n_lang").cast("double"))).cast("long").as("wl"))
    val quotas = wdf.crossJoin(broadcast(wdf.agg(sum("wl").as("sw"))))
      .select(col("lang"), expr(s"(${TempTarget}L * wl) div sw").as("quota"))
    SearchOps.bucketQuota(docs(s, d), "lang", "doc_id", quotas, 10000)
      .withColumnRenamed("quota", "alloc")
  }

  // ---- connected components over the dedup candidate graph --------------

  /** Build the MinHash-LSH candidate pair list (same parameters as
    * q_dedup_minhash: 8 seeds, 4×2 bands). */
  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val sig = docs(s, d)
      .withColumn("_shw", DedupOps.cleanWords(col("text")))
      .withColumn("_sh", DedupOps.shinglesFromWords(col("_shw")))
      .select(col("doc_id"), DedupOps.minhashSignature(col("_sh"), 8).as("sig"))
    val bands = sig.select(col("doc_id"),
      explode(DedupOps.lshBands(col("sig"), 4, 2)).as("band"))
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Dedup CLUSTERS: connected components of the MinHash candidate
    * graph via iterative min-label propagation — each round every node
    * takes the min component id among itself and its neighbours, until
    * a fixpoint (≤ graph-diameter rounds). The converged label is the
    * min doc_id of the component regardless of evaluation order, so
    * the result is deterministic and matches DuckDB's recursive-CTE
    * reachability closure.
    *
    * Scale: this is the standard Pregel-by-join shape — each round one
    * shuffle on the node id (the same key every round, so AQE reuses
    * the partitioning); `localCheckpoint` cuts the growing lineage (a
    * cluster job would use `checkpoint` to HDFS). Driver holds only
    * the convergence counter, never the graph. */
  private val VocabTopV = 100

  /** VOCABULARY coverage: per language, what fraction of all token
    * occurrences the top-`VocabTopV` words cover — the Zipf planning
    * number behind tokenizer-budget and stopword decisions (a V-word
    * vocabulary covering 90% of tokens means the BPE merge budget goes
    * to the tail). Output is one bounded row per language.
    *
    * Scale: the per-language top-V window rides the same map-side
    * `WindowGroupLimit(Partial)` as q_tfidf_top (each task forwards at
    * most V terms per language — the reducer never sees the
    * corpus-growing vocabulary), and everything else is partial-agg
    * shuffles on (lang, term) / lang.
    *
    * Determinism: counts are exact integers; the ratio is ONE IEEE
    * division of exact longs; top-V ties break on the term. */
  val qVocabCoverage: QueryDef = QueryDef.sql(
    "q_vocab_coverage",
    s"""WITH tok AS (
       |  SELECT lang, unnest(${Chunkers.wordsSql(TF.cleanTextSql("text"))}) AS term
       |  FROM documents
       |), counts AS (
       |  SELECT lang, term, COUNT(*) AS n FROM tok GROUP BY lang, term
       |), topv AS (
       |  SELECT lang, term, n FROM (
       |    SELECT lang, term, n,
       |      ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, term) AS rk
       |    FROM counts) WHERE rk <= $VocabTopV
       |), tot AS (
       |  SELECT lang, CAST(SUM(n) AS BIGINT) AS total FROM counts GROUP BY lang
       |), cov AS (
       |  SELECT lang, CAST(SUM(n) AS BIGINT) AS covered FROM topv GROUP BY lang
       |)
       |SELECT t.lang, t.total, c.covered,
       |  CAST(c.covered AS DOUBLE) / CAST(t.total AS DOUBLE) AS coverage
       |FROM tot t JOIN cov c ON c.lang = t.lang
       |ORDER BY t.lang""".stripMargin) { (s, d) =>
    val tok = docs(s, d).select(col("lang"),
      explode(Chunkers.words(TF.cleanText(col("text")))).as("term"))
    val counts = tok.groupBy("lang", "term").agg(count(lit(1)).as("n"))
    val topv = counts
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("n").desc, col("term"))))
      .filter(col("rk") <= VocabTopV)
    val tot = counts.groupBy("lang").agg(sum("n").cast("long").as("total"))
    val cov = topv.groupBy("lang").agg(sum("n").cast("long").as("covered"))
    tot.join(cov, "lang")
      .select(col("lang"), col("total"), col("covered"),
        (col("covered").cast("double") / col("total").cast("double")).as("coverage"))
      .orderBy("lang")
  }

  private val PrIters = 3
  private val PrUnit = 1000000000000L // 10¹² rank units

  /** PAGERANK over the supplier↔customer trade graph (edges are the
    * DISTINCT supplier–customer pairs that share a lineitem, both
    * directions, node ids parity-namespaced 2·suppkey / 2·custkey+1) —
    * the link-analysis member of the Pregel-by-join family next to
    * [[qDedupComponents]]'s min-label propagation. `PrIters` damped
    * (d=0.85) power iterations, fully unrolled on both engines.
    *
    * Scale: one iteration = the contribution join keyed on src + one
    * inflow shuffle keyed on dst — linear in edges, the standard
    * distributed PageRank shape; the only broadcast is the single-row
    * node count. No corpus-sized window, no driver materialization.
    *
    * Determinism: ranks live on an exact 10¹² integer grid; every step is
    * integer floor division (`div` / `//`), so partial-sum order can't
    * perturb anything. Floor loss (the evaporated dangling/rounding
    * mass) is identical on both engines by construction. */
  val qPageRank: QueryDef = {
    def iterSql(i: Int): String = {
      val prev = if (i == 1) "pr0" else s"pr${i - 1}"
      s"""contrib$i AS (
         |  SELECT e.dst, p.pr // o.od AS c
         |  FROM edges e JOIN $prev p ON p.node = e.src JOIN outdeg o ON o.src = e.src
         |), pr$i AS (
         |  SELECT n.node,
         |    (15 * ($PrUnit // ns.n)) // 100
         |      + (85 * COALESCE(CAST(SUM(c.c) AS BIGINT), 0)) // 100 AS pr
         |  FROM nodes n CROSS JOIN ns LEFT JOIN contrib$i c ON c.dst = n.node
         |  GROUP BY n.node, ns.n
         |)""".stripMargin
    }
    QueryDef.sql(
      "q_pagerank",
      s"""WITH base AS (
         |  SELECT DISTINCT l_suppkey * 2 AS src, o_custkey * 2 + 1 AS dst
         |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         |), edges AS (
         |  SELECT src, dst FROM base UNION ALL SELECT dst AS src, src AS dst FROM base
         |), nodes AS (
         |  SELECT DISTINCT src AS node FROM edges
         |), ns AS (
         |  SELECT COUNT(*) AS n FROM nodes
         |), outdeg AS (
         |  SELECT src, COUNT(*) AS od FROM edges GROUP BY src
         |), pr0 AS (
         |  SELECT node, $PrUnit // ns.n AS pr FROM nodes CROSS JOIN ns
         |), ${(1 to PrIters).map(iterSql).mkString(", ")}
         |SELECT node, pr FROM pr$PrIters
         |ORDER BY pr DESC, node
         |LIMIT 20""".stripMargin) { (s, d) =>
      val li = Tables(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      val ord = Tables(s, d, "orders").select("o_orderkey", "o_custkey")
      val base = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select((col("l_suppkey") * 2).as("src"), (col("o_custkey") * 2 + 1).as("dst"))
        .distinct()
      // r15: pin the edge list (and its derived node/degree tables) —
      // each unrolled iteration re-references them, and unpinned that
      // re-expanded the lineitem⋈orders distinct per reference
      val edges = base.unionAll(base.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint()
      val nodes = edges.select(col("src").as("node")).distinct().localCheckpoint()
      val ns = nodes.agg(count(lit(1)).as("n"))
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("od")).localCheckpoint()
      var pr = nodes.crossJoin(broadcast(ns))
        .select(col("node"), expr(s"$PrUnit div n").as("pr"))
      for (_ <- 1 to PrIters) {
        val contrib = edges
          .join(pr.withColumnRenamed("node", "src"), Seq("src"))
          .join(outdeg, Seq("src"))
          .select(col("dst"), expr("pr div od").as("c"))
        pr = nodes.crossJoin(broadcast(ns))
          .join(contrib, col("node") === col("dst"), "left")
          .groupBy(col("node"), col("n"))
          .agg(expr(s"(15 * ($PrUnit div n)) div 100"
            + " + (85 * coalesce(sum(c), 0L)) div 100").as("pr"))
          .select("node", "pr")
      }
      pr.orderBy(col("pr").desc, col("node")).limit(20)
    }
  }

  val qDedupComponents: QueryDef = QueryDef.sql(
    "q_dedup_components",
    s"""WITH RECURSIVE pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM (SELECT doc_id, unnest(${DedupOps.lshBandsSql(
              DedupOps.minhashSignatureSql(DedupOps.shinglesSql("text"), 8), 4, 2)}) AS band
       |        FROM documents) a
       |  JOIN (SELECT doc_id, unnest(${DedupOps.lshBandsSql(
              DedupOps.minhashSignatureSql(DedupOps.shinglesSql("text"), 8), 4, 2)}) AS band
       |        FROM documents) b
       |    ON a.band = b.band AND a.doc_id < b.doc_id
       |), edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs
       |), nodes AS (
       |  SELECT DISTINCT src AS id FROM edges
       |), reach(id, root) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.id
       |)
       |SELECT id AS doc_id, MIN(root) AS component
       |FROM reach
       |GROUP BY id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pairs = minhashPairs(s, d)
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
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
      changed = next.as("n")
        .join(comp.as("o"), "id")
        .filter(col("n.component") =!= col("o.component"))
        .count()
      comp = next
    }
    comp.select(col("id").as("doc_id"), col("component")).orderBy("doc_id")
  }

  /** Deterministic global shuffle + shard assignment — the data-loader
    * prep step: every doc gets a pseudo-random but REPRODUCIBLE shard
    * (one md5 hex digit → 16 shards) and a position in that shard's
    * read order (md5 order, decorrelated from ingest order). The output
    * pins the whole permutation: endpoints via min_by/max_by on
    * position, and an exact-integer order checksum Σ pos·doc_id that
    * changes if ANY doc moves.
    *
    * Scale: positions come from the bucket-offset two-pass (the
    * q_ntile_balance / q_domain_cap primitive), NOT a 16-partition
    * window: row_numbers run per (shard, bucket) — 256 fine-grained
    * groups — and the cumulative offsets live on a 256-row aggregate
    * that broadcasts. The bucket MUST be the leading key of the
    * within-shard sort order (hex digit 1 of hx, since ordering is by
    * the full hash string) so buckets are contiguous runs of the
    * order; refinement takes a longer hx prefix as the bucket. The
    * materialization shape for an actual data loader is
    * `repartitionByRange(shard, hx).sortWithinPartitions` — narrow
    * after one range shuffle. */
  val qShuffleShards: QueryDef = QueryDef.sql(
    "q_shuffle_shards",
    """WITH h AS (
      |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
      |), sh AS (
      |  SELECT doc_id, hx,
      |    CAST(ascii(substr(hx, 2, 1)) -
      |      CASE WHEN ascii(substr(hx, 2, 1)) >= 97 THEN 87 ELSE 48 END AS INTEGER) AS shard
      |  FROM h
      |), pos AS (
      |  SELECT doc_id, shard,
      |    row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos,
      |    row_number() OVER (PARTITION BY shard ORDER BY hx DESC, doc_id DESC) AS rpos
      |  FROM sh
      |)
      |SELECT shard, COUNT(*) AS n_docs,
      |  MAX(CASE WHEN pos = 1 THEN doc_id END) AS first_doc,
      |  MAX(CASE WHEN rpos = 1 THEN doc_id END) AS last_doc,
      |  CAST(SUM(pos * doc_id) AS BIGINT) AS order_sum
      |FROM pos GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val base = docs(s, d).select(col("doc_id"),
        md5(col("doc_id").cast("string")).as("hx"))
      .select(col("doc_id"), col("hx"),
        conv(substring(col("hx"), 2, 1), 16, 10).cast("int").as("shard"),
        conv(substring(col("hx"), 1, 1), 16, 10).cast("int").as("bkt"))
    val counts = base.groupBy("shard", "bkt").agg(count(lit(1)).as("cnt"))
    val offsets = counts.withColumn("off",
      coalesce(sum(col("cnt")).over(Window.partitionBy("shard").orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    base.join(broadcast(offsets), Seq("shard", "bkt"))
      .withColumn("pos",
        row_number().over(Window.partitionBy("shard", "bkt").orderBy("hx", "doc_id"))
          .cast("long") + col("off"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min_by(col("doc_id"), col("pos")).as("first_doc"),
        max_by(col("doc_id"), col("pos")).as("last_doc"),
        sum(col("pos") * col("doc_id")).as("order_sum"))
      .orderBy("shard")
  }

  private val TrigramPattern = "merge batch"

  /** TRIGRAM substring search — the `LIKE '%pattern%'` query no
    * word-level index can serve ([[graft.sources.TrigramIndex]], the
    * pg_trgm design): the corpus's distinct character 3-grams are
    * persisted once in md5-prefix cells, a probe reads ONLY its
    * pattern's gram cells, intersects postings (candidates ⊇ matches
    * by construction — a doc containing the pattern contains every
    * gram), and re-verifies with exact `contains` on the candidate
    * rows. The oracle recomputes BOTH tiers relationally (per-gram
    * containment → all-grams intersection → exact verify), so cell
    * routing, the intersection count and the verify filter are all
    * hash-checked; n_candidates rides along as pruning evidence.
    *
    * Scale: full-scan LIKE reads the corpus per query; the probe
    * reads O(pattern grams' postings) + O(candidates) rows. */
  val qTrigramSearch: QueryDef = {
    val grams = TrigramPattern.sliding(graft.sources.TrigramIndex.N).toSeq.distinct
    val gramList = grams.map(g => s"'$g'").mkString(", ")
    QueryDef.sql(
      "q_trigram_search",
      s"""WITH cl AS (
         |  SELECT doc_id, lang, ${TF.cleanTextSql("text")} AS t FROM documents
         |), cand AS (
         |  SELECT doc_id FROM (
         |    SELECT DISTINCT doc_id, g
         |    FROM cl, LATERAL (SELECT unnest([$gramList]) AS g)
         |    WHERE contains(t, g)
         |  ) GROUP BY doc_id HAVING COUNT(*) = ${grams.size}
         |)
         |SELECT cl.doc_id, cl.lang,
         |  (SELECT COUNT(*) FROM cand) AS n_candidates
         |FROM cl JOIN cand ON cl.doc_id = cand.doc_id
         |WHERE contains(cl.t, '$TrigramPattern')
         |ORDER BY cl.doc_id""".stripMargin) { (s, d) =>
      import graft.sources.TrigramIndex
      val Seq(indexDir) = Fixtures.dirs(s, "graft_trgidx", "index")
      // 16-cell layout at this corpus size (recorded in _meta; the
      // production default is 256 — see TrigramIndex.build)
      TrigramIndex.build(docs(s, d), indexDir, cellHexChars = 1)
      // r15: pin the candidate set — it feeds BOTH the evidence count
      // and the verify join; unpinned, the gram-intersection probe ran
      // once per reference
      val cand = TrigramIndex.candidates(s, indexDir, TrigramPattern)
        .localCheckpoint()
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      TrigramIndex.search(docs(s, d), indexDir, TrigramPattern, Some(cand))
        .crossJoin(broadcast(nCand))
        .select(col("doc_id"), col("lang"), col("n_candidates"))
        .orderBy("doc_id")
    }
  }

  /** WATERFILLING budget allocation across domains — the data-mixing
    * step of corpus curation the cap/temperature samplers feed into:
    * given a total token budget (60% of the corpus here, data-derived),
    * allocate it so every domain below the water level keeps ALL its
    * tokens (saturated) and the rest share the remaining budget evenly
    * (max-min fairness — the unique allocation maximizing the minimum
    * domain share subject to availability). Exact-integer closed form
    * over the availability-sorted prefix: K = the largest sorted index
    * whose full funding leaves ≥ its own availability for every
    * remaining domain, level = floor-div of the residual budget, and
    * the flooring remainder goes +1 to the first domains above the
    * water line — Σ alloc ≡ budget exactly (asserted in SearchSpec),
    * no IEEE anywhere.
    *
    * Scale: one (lang, source) aggregate over the corpus, then ALL
    * waterfilling arithmetic runs on the O(domains) table (bounded
    * global windows, 1-row scalar sides — the q_drift_ks posture). */
  val qMixWaterfill: QueryDef = QueryDef.sql(
    "q_mix_waterfill",
    """WITH dom AS (
      |  SELECT lang || '/' || source AS domain, CAST(SUM(n_chars) AS BIGINT) AS avail
      |  FROM documents GROUP BY 1
      |), w AS (
      |  SELECT domain, avail,
      |    CAST(ROW_NUMBER() OVER (ORDER BY avail, domain) AS BIGINT) AS i,
      |    CAST(SUM(avail) OVER (ORDER BY avail, domain) AS BIGINT) AS c,
      |    CAST(COUNT(*) OVER () AS BIGINT) AS n,
      |    CAST(SUM(avail) OVER () AS BIGINT) AS total
      |  FROM dom
      |), p AS (
      |  SELECT MAX(n) AS n_doms, MAX(total) * 6 // 10 AS b FROM w
      |), k AS (
      |  SELECT
      |    COALESCE(MAX(CASE WHEN avail * (w.n - i) + c <= b THEN i END), 0) AS kk,
      |    COALESCE(MAX(CASE WHEN avail * (w.n - i) + c <= b THEN c END), 0) AS ck
      |  FROM w, p
      |), s AS (
      |  SELECT kk, ck,
      |    CASE WHEN kk >= n_doms THEN 0 ELSE (b - ck) // (n_doms - kk) END AS lvl,
      |    CASE WHEN kk >= n_doms THEN 0
      |         ELSE (b - ck) - ((b - ck) // (n_doms - kk)) * (n_doms - kk) END AS rem
      |  FROM k, p
      |)
      |SELECT domain, avail,
      |  CAST(CASE WHEN i <= kk THEN avail
      |       ELSE LEAST(avail, lvl + CASE WHEN i - kk <= rem THEN 1 ELSE 0 END)
      |       END AS BIGINT) AS alloc,
      |  (i <= kk) AS saturated
      |FROM w, s
      |ORDER BY domain""".stripMargin) { (s, d) =>
    val dom = docs(s, d)
      .groupBy(concat(col("lang"), lit("/"), col("source")).as("domain"))
      .agg(sum(col("n_chars")).cast("long").as("avail"))
    // bounded O(domains) table from here on — the global windows and
    // 1-row scalar sides never see the corpus
    val byAvail = Window.orderBy(col("avail"), col("domain"))
    val w = dom.select(col("domain"), col("avail"),
      row_number().over(byAvail).cast("long").as("i"),
      sum(col("avail")).over(byAvail).cast("long").as("c"),
      count(lit(1)).over(Window.partitionBy()).cast("long").as("n"),
      sum(col("avail")).over(Window.partitionBy()).cast("long").as("total"))
    val p = w.agg(max(col("n")).as("n_doms"), expr("max(total) * 6 div 10").as("b"))
    val k = w.crossJoin(broadcast(p))
      .agg(
        coalesce(max(when(col("avail") * (col("n") - col("i")) + col("c") <= col("b"),
          col("i"))), lit(0L)).as("kk"),
        coalesce(max(when(col("avail") * (col("n") - col("i")) + col("c") <= col("b"),
          col("c"))), lit(0L)).as("ck"))
    val scalars = k.crossJoin(broadcast(p))
      .select(col("kk"), col("ck"),
        when(col("kk") >= col("n_doms"), 0L)
          .otherwise(expr("(b - ck) div (n_doms - kk)")).as("lvl"),
        when(col("kk") >= col("n_doms"), 0L)
          .otherwise(expr("(b - ck) - ((b - ck) div (n_doms - kk)) * (n_doms - kk)"))
          .as("rem"))
    w.crossJoin(broadcast(scalars))
      .select(col("domain"), col("avail"),
        when(col("i") <= col("kk"), col("avail"))
          .otherwise(least(col("avail"),
            col("lvl") + when(col("i") - col("kk") <= col("rem"), 1L).otherwise(0L)))
          .cast("long").as("alloc"),
        (col("i") <= col("kk")).as("saturated"))
      .orderBy("domain")
  }

  /** DATA SELECTION VIA IMPORTANCE RESAMPLING (the DSIR shape, Xie et
    * al. 2023): score every document by how target-like its hashed
    * unigram profile is — a bag-of-buckets model (md5-bucketed words,
    * B=512) is fitted to the TARGET slice (lang='en') and to the RAW
    * corpus, each bucket gets the Laplace-smoothed target/raw count
    * ratio, and a document's score is its per-token average bucket
    * ratio. The top-50 selection surfaces target-like documents from
    * the whole corpus — the published method's hashed-ngram importance
    * weighting with a pinned exact-integer surrogate: the scaled COUNT
    * RATIO `FLOOR((t+1)·1e9/(r+1))` replaces the log-ratio (ln is not
    * IEEE-reproducible across engines; the ratio is exact in both, the
    * q_doc_bigram_lm discipline).
    *
    * Scale: the two bucket tables are O(B) rows regardless of corpus
    * size — both sides of the scoring join broadcast; the only
    * corpus-sized work is the token explode and one per-doc
    * aggregation (map-side combined); selection is a distributed
    * top-k, never a global sort. */
  val qSelectDsir: QueryDef = QueryDef.sql(
    "q_select_dsir",
    s"""WITH w AS (
       |  SELECT doc_id, lang,
       |    unnest(${Chunkers.wordsSql(TF.cleanTextSql("text"))}) AS w
       |  FROM documents
       |), tok AS (
       |  SELECT doc_id, lang, (('0x' || substr(md5(w), 1, 4))::INTEGER % 512) AS b
       |  FROM w
       |), raw AS (
       |  SELECT b, COUNT(*) AS r FROM tok GROUP BY b
       |), tgt AS (
       |  SELECT b, COUNT(*) AS t FROM tok WHERE lang = 'en' GROUP BY b
       |), sc AS (
       |  SELECT raw.b,
       |    CAST(FLOOR(CAST((COALESCE(t, 0) + 1) * 1000000000 AS DOUBLE)
       |      / CAST(r + 1 AS DOUBLE)) AS BIGINT) AS sb
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b
       |), scored AS (
       |  SELECT tok.doc_id, tok.lang, COUNT(*) AS n_toks, SUM(sb) AS ssum
       |  FROM tok JOIN sc ON sc.b = tok.b
       |  GROUP BY 1, 2
       |)
       |SELECT doc_id, lang,
       |  CAST(ssum AS BIGINT) // CAST(n_toks AS BIGINT) AS avg_score
       |FROM scored
       |ORDER BY avg_score DESC, doc_id
       |LIMIT 50""".stripMargin) { (s, d) =>
    val B = 512
    val toks = docs(s, d)
      .withColumn("_ws", DedupOps.cleanWords(col("text")))
      .select(col("doc_id"), col("lang"), explode(col("_ws")).as("w"))
      .select(col("doc_id"), col("lang"),
        (conv(substring(md5(col("w")), 1, 4), 16, 10).cast("int") % B).as("b"))
    val raw = toks.groupBy("b").agg(count(lit(1)).as("r"))
    val tgt = toks.filter(col("lang") === "en").groupBy("b").agg(count(lit(1)).as("t"))
    val scores = raw.join(tgt, Seq("b"), "left").select(col("b"),
      expr("CAST(FLOOR(CAST((COALESCE(t, 0) + 1) * 1000000000 AS DOUBLE)" +
        " / CAST(r + 1 AS DOUBLE)) AS BIGINT)").as("sb"))
    toks.join(broadcast(scores), Seq("b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_toks"), sum(col("sb")).as("ssum"))
      .select(col("doc_id"), col("lang"), expr("ssum DIV n_toks").as("avg_score"))
      .orderBy(col("avg_score").desc, col("doc_id"))
      .limit(50)
  }

  val all: Seq[QueryDef] = Seq(
    qDocWinnow, qDocCdcChunks, qTfidfTop, qBm25Search, qInvertedSearch, qIndexCompact, qHybridRrf,
    qHeavyHitters, qDocBigramLm,
    qEmbedQuantize, qEmbedRandomProjection, qSampleStratified, qSampleBalanced,
    qDomainCap, qSampleTemperature, qSampleWeighted, qDedupComponents, qPageRank,
    qVocabCoverage, qShuffleShards, qTrigramSearch, qMixWaterfill, qSelectDsir)
}
