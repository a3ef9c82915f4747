package graft.sources

import graft.functions.{Chunkers, TextFunctions => TF}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted text index AT REST — the THIRD index family beside
  * [[VectorIndex]] (IVF over embeddings) and [[MinHashIndex]] (LSH over
  * signatures): term-partitioned postings persisted once, so a keyword
  * query reads the postings of ITS OWN terms instead of tokenizing the
  * corpus per query (`q_bm25_search` is the full-scan form).
  *
  * Layout:
  *   - postings (term, doc_id, tf) partitioned by a BOUNDED cell key
  *     (first two hex chars of md5(term) → ≤256 directories, so files
  *     stay large and hot terms hash-spread instead of skewing a
  *     per-term layout);
  *   - `_doclen` (doc_id, dl) and `_stats` (n_docs, total_dl) sidecars
  *     carry the BM25 normalization terms, KBs regardless of corpus
  *     size.
  *
  * A probe computes its terms' cells ON THE DRIVER (bounded by query
  * length), reads only those directories (static partition pruning —
  * the same IndexSpec-asserted contract as the IVF cells), and scores
  * with the exact rational-idf BM25 the full-scan query uses — so
  * "index probe ≡ full scan" is oracle-checkable, not aspirational.
  *
  * Scale: build is the one-time tokenize+groupBy backfill; per query,
  * I/O is O(query terms' postings) — independent of corpus size — and
  * the score join touches only those postings. df/avgdl come from the
  * sidecars, never a corpus rescan.
  */
object InvertedIndex {

  private[graft] def statsPath(path: String) = s"$path/_stats"
  private[graft] def doclenPath(path: String) = s"$path/_doclen"

  private[graft] def cellOf(term: Column): Column = substring(md5(term), 1, 2)

  /** Run independent Spark jobs (disjoint outputs) concurrently and
    * wait for ALL — [[ParallelJobs.awaitAll]]: the single-writer
    * maintenance window provably ends when this returns or throws. */
  private def parallelJobs(jobs: (() => Unit)*): Unit = {
    ParallelJobs.awaitAll(jobs): Unit
  }

  /** Shared tokenization: (doc_id, term) rows of the cleaned text —
    * the ONE pipeline every build/append/stream face must use, or
    * probes and builds would disagree on terms. */
  private[graft] def tokenize(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id"),
      explode(Chunkers.words(TF.cleanText(col(textCol)))).as("term"))

  /** Tokenize (shared pipeline: cleaned text, word split) and persist
    * postings + sidecars. */
  def build(docs: DataFrame, path: String, textCol: String = "text"): Unit = {
    val tok = docs.select(col("doc_id"),
      explode(Chunkers.words(TF.cleanText(col(textCol)))).as("term"))
    // r16 (guide §2.4): ONE corpus exchange instead of two. The former
    // groupBy(term, doc_id) then repartition(cell) shuffled the token
    // stream twice; cell = f(term), so partitioning by cell FIRST
    // already clusters every (cell, term, doc_id) group — the
    // aggregation reuses the repartition's distribution (tf values and
    // written layout identical; cell rides as the partition column
    // either way)
    tok.withColumn("cell", cellOf(col("term")))
      .repartition(col("cell"))
      .groupBy("cell", "term", "doc_id").agg(count(lit(1)).as("tf"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    // r15: doc length ≡ Σ tf per doc — derive both sidecars from the
    // postings just WRITTEN (a two-column columnar read-back) instead
    // of re-running the corpus tokenize for each sidecar (the build
    // evaluated `tok` three times: postings, doclen, stats)
    val spark = docs.sparkSession
    spark.read.parquet(path)
      .groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      .coalesce(1).write.mode("overwrite").parquet(doclenPath(path))
    spark.read.parquet(doclenPath(path))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("total_dl"))
      .coalesce(1).write.mode("overwrite").parquet(statsPath(path))
  }

  /** Incremental append: NEW documents' postings land in their cells
    * beside the existing files (parquet append — existing postings are
    * never rewritten), `_doclen` gains the new rows, and `_stats` is
    * recomputed from `_doclen` (O(docs) sidecar, not a corpus rescan).
    * Callers feed genuinely new doc_ids (the ingest CDC layer already
    * separates new from superseded); a probe after append scores
    * old + new documents identically to a from-scratch build, because
    * BM25 only consumes postings + sidecars, both now complete. */
  def append(newDocs: DataFrame, path: String, textCol: String = "text"): Unit = {
    val tok = newDocs.select(col("doc_id"),
      explode(Chunkers.words(TF.cleanText(col(textCol)))).as("term"))
    // r15: pin the NEW docs' postings (O(new data), the incremental
    // contract) so the cell write and the doclen derivation share one
    // tokenize instead of two; dl ≡ Σ tf per doc, same value as the
    // former per-token count
    val postings = tok.groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val spark = newDocs.sparkSession
    // r15 (guide §2.6): the cell write and the doclen write consume the
    // SAME pinned postings and land in DISJOINT directories — run them
    // as concurrent jobs so the small sidecar write back-fills the cell
    // write's task tail instead of paying its own job floor
    parallelJobs(
      () => postings
        .withColumn("cell", cellOf(col("term")))
        .repartition(col("cell"))
        .write.mode("append").partitionBy("cell").parquet(path),
      () => postings.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
        .write.mode("append").parquet(doclenPath(path)))
    // _stats derives from the (tiny) doclen sidecar — atomic enough for
    // the single-writer contract every sidecar here assumes
    val dl = spark.read.parquet(doclenPath(path))
    dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("total_dl"))
      .coalesce(1).write.mode("overwrite").parquet(statsPath(path))
  }

  /** Layout maintenance for BOTH write faces. The streamed layout
    * ([[graft.streaming.IndexStreams]]: one `batch_id=` directory per
    * micro-batch, cell-partitioned inside) folds into the flat cell
    * layout via a full staged rewrite with atomic rename swap — the
    * directory count was the one growing cost of streaming ingestion,
    * and folding it restores O(cells) probe listings. The flat layout
    * (build + appends) compacts per-cell via [[CellCompaction]] —
    * only oversized cells are rewritten. Either way the `_doclen`
    * sidecar's accumulated append files coalesce and `_stats` is
    * recomputed from it, and BM25 probes score identically before and
    * after (postings + sidecars carry the same rows — IndexSpec).
    * Single-writer: do not run concurrently with an append/stream. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val batched = fs.listStatus(root).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("batch_id="))
    if (batched) {
      // fold batch dirs -> flat cells, staged then swapped in whole
      CellCompaction.swapIn(fs, root) { staging =>
        spark.read.parquet(path)
          .select(col("term"), col("doc_id"), col("tf"), col("cell"))
          .repartition(col("cell"))
          .write.partitionBy("cell").parquet(staging.toString)
        spark.read.parquet(doclenPath(path)).select(col("doc_id"), col("dl"))
          .coalesce(1).write.parquet(s"$staging/_doclen")
        spark.read.parquet(s"$staging/_doclen")
          .agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("total_dl"))
          .coalesce(1).write.parquet(s"$staging/_stats")
      }
    } else {
      // r15 (guide §2.6): the cell compaction and the doclen fold act
      // on DISJOINT directories — run them as concurrent jobs; only
      // the stats recompute below needs the folded doclen
      parallelJobs(
        () => { CellCompaction.compact(spark, path, "cell", targetBytes): Unit },
        () => {
          // fold doclen append files; _doclen is O(docs) rows, tiny
          val dlDir = new Path(doclenPath(path))
          val dlFiles = fs.listStatus(dlDir).count(f =>
            f.isFile && !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
          if (dlFiles > 1)
            CellCompaction.swapIn(fs, dlDir) { staging =>
              spark.read.parquet(doclenPath(path)).select(col("doc_id"), col("dl"))
                .coalesce(1).write.parquet(staging.toString)
            }
        })
      spark.read.parquet(doclenPath(path))
        .agg(count(lit(1)).as("n_docs"), sum(col("dl")).cast("long").as("total_dl"))
        .coalesce(1).write.mode("overwrite").parquet(statsPath(path))
    }
  }

  /** BM25 top-k (k1=1.2, b=0.75, rational Robertson idf — the exact
    * arithmetic of `q_bm25_search`, term scores summed in the given
    * term order) reading ONLY the query terms' cells. */
  def searchBm25(spark: SparkSession, path: String, terms: Seq[String],
      k: Int): DataFrame = {
    require(terms.nonEmpty)
    val cells = terms.map { t =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    }.distinct.sorted
    val postings = spark.read.parquet(path)
      .filter(col("cell").isin(cells: _*)) // static partition pruning
      .filter(col("term").isin(terms: _*))
      .select("term", "doc_id", "tf")
    val df = postings.groupBy("term").agg(count(lit(1)).as("df"))
    val dl = spark.read.parquet(doclenPath(path))
    val stats = spark.read.parquet(statsPath(path))
    val part = postings
      .join(dl, "doc_id")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("term"),
        (((col("n_docs") - col("df")).cast("double") + lit(0.5)) / (col("df").cast("double") + lit(0.5))
          * (col("tf").cast("double") * lit(2.2))
          / (col("tf").cast("double") + lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("dl").cast("double") / (col("total_dl").cast("double") / col("n_docs").cast("double")))))).as("s"))
    val score = terms
      .map(t => coalesce(max(when(col("term") === t, col("s"))), lit(0.0)))
      .reduce(_ + _)
    part.groupBy("doc_id").agg(score.as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }
}
