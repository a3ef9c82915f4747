package graft.pipeline

import graft.functions.{Chunkers, Embedders, TextFunctions => TF}
import graft.sources.{ParseOps, VectorStore}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's TOP-LEVEL driver (`/root/reference/data_ingestion.py`)
  * as one composable job: full refresh (:80-99 — enumerate, parse,
  * chunk, embed, load) and incremental refresh (:56-66 — read state,
  * diff, re-ingest only changes, overwrite state), both producing the
  * reference's exact 11-column chunk/vector schema
  * (`column_dict_prepare` data_ingestion.py:22-34, built row-by-row in
  * `weaviate_vector_data_preparation` sharepointutils.py:363-408):
  *
  *   name, url, modified_dt, index, text, vector, n_tokens, chunk_id,
  *   load_dt, source, title
  *
  * Input is a LANDED-FILES DataFrame — (name, url, last_modified,
  * content: binary[, source]) — i.e. the post-download truth the
  * reference walks with python loops; upstream that frame comes from
  * `spark.read.format("binaryFile")` over the landing dir joined to
  * the listing. Everything downstream of the listing is ONE
  * declarative plan per run: the per-file/per-chunk loops, the O(n²)
  * `pd.concat` accumulation (:386-405) and the 1-HTTP-call-per-chunk
  * embedding (:377) have no analog here.
  *
  * Scale: parse→chunk→embed is narrow (projections + one generator —
  * the DocPipeline shape, plan-asserted shuffle-free); the CDC diff is
  * one join on `name`; the store upsert rewrites only the touched
  * `load_dt=` partitions, each once (VectorStore's partition swap).
  * Driver state is the RunReport counters, never data.
  *
  * Embedding: the deterministic offline embedder by default (SURVEY
  * §7.4); production swaps [[BatchedEmbedder]] over an
  * [[HttpEmbedBackend]] via `embed` — same schema either way.
  */
object IngestJob {

  final case class RunReport(filesIn: Long, filesProcessed: Long, chunksUpserted: Long)

  /** Landed files → the reference's chunk/vector rows. `index` is the
    * chunk ordinal within its file (enumerate :374), `chunk_id` the
    * deterministic per-chunk key (F7 — uuid4 :381 is pinned
    * non-reproducible), `title` = name (:399), `modified_dt` kept
    * DateType (the reference stringifies, :391 — pinned deviation). */
  def prepareVectorData(
      files: DataFrame,
      loadDt: String,
      chunkWords: Int = DocPipeline.ChunkWords,
      overlapFraction: Double = DocPipeline.OverlapFraction,
      dim: Int = Embedders.DefaultDim,
      embed: (SparkSession, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
        (s, c) => Embedders.l2Normalize(Embedders.deterministicEmbedIn(s, c)),
      // offline default (§7.4 deviation); a user with the public
      // cl100k_base.tiktoken file passes
      // Tiktoken.tokenCountCol(spark, Tiktoken.loadRanks(path)) for
      // exact reference token parity
      tokenCounter: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
        c => TF.wordCount(c)): DataFrame = {
    val s = files.sparkSession
    val withSource =
      if (files.columns.contains("source")) files
      else files.withColumn("source", lit("")) // REF default '', sharepointutils.py:341
    withSource
      .withColumn("file_type", TF.extExtract(col("name")))
      .filter(ParseOps.isSupported(col("file_type")))
      .withColumn("parsed", ParseOps.parseText(col("file_type"), col("content")))
      .withColumn("clean", TF.cleanText(col("parsed")))
      .select(col("name"), col("url"), to_date(col("last_modified")).as("modified_dt"),
        col("source"),
        posexplode(Chunkers.chunkFixedWordsIn(s, col("clean"), chunkWords, overlapFraction))
          .as(Seq("index", "text")))
      .withColumn("index", col("index").cast("int"))
      .withColumn("vector", embed(s, col("text")).cast("array<float>"))
      .withColumn("n_tokens", tokenCounter(col("text")).cast("int"))
      .withColumn("chunk_id", TF.chunkId(col("name"), col("index")))
      .withColumn("load_dt", to_date(lit(loadDt)))
      .withColumn("title", col("name")) // :399
      .select("name", "url", "modified_dt", "index", "text", "vector",
        "n_tokens", "chunk_id", "load_dt", "source", "title")
  }

  private def listingOf(files: DataFrame): DataFrame =
    files.select(col("name"), col("url"), col("last_modified"),
      TF.extExtract(col("name")).as("file_type"))

  /** Full refresh (data_ingestion.py:80-99): process EVERY landed file,
    * replace the store content wholesale, overwrite the ledger with the
    * post-run listing (:60,69 — state reflects downloaded truth).
    *
    * The report's counts come from `observe()` metrics collected DURING
    * the store and ledger writes — not from re-reading the store
    * afterwards (a full second scan of what was just written; at
    * 100 TB that doubles the job) and not from separate `count()`
    * actions (which would re-run parse+chunk+embed, or re-scan the
    * listing). `CollectMetrics` rides the write action for free. */
  def fullRefresh(spark: SparkSession, files: DataFrame,
      ledgerPath: String, storePath: String, loadDt: String): RunReport = {
    val chunks = new Observation()
    VectorStore.replaceAll(spark, storePath, counted(prepareVectorData(files, loadDt), chunks))
    val n = writeLedger(files, ledgerPath)
    RunReport(n, n, countOf(chunks))
  }

  /** Incremental refresh (data_ingestion.py:56-66): diff the landed
    * files against the ledger (J1 — new OR strictly newer), then ONE
    * store upsert that writes the fresh chunks and drops every stored
    * chunk of a changed file by name (S12 semantics — an update may
    * shrink a file's chunk count, even to zero, so a keyed upsert alone
    * would leave orphans). The superseded names come from the diff, not
    * from the fresh chunks, so an update that yields no chunks still
    * drops its old ones. Each touched `load_dt=` partition is rewritten
    * once and swapped in with its old and new chunks together, so an
    * updated file is never without chunks in between. The ledger is
    * overwritten only after the store: a crash before that replays the
    * same diff, and the replay's upsert (key- and name-idempotent)
    * converges on the same store. Unchanged files are never parsed,
    * chunked or embedded; the report's counts are observed on the two
    * checkpoints and the ledger write, with no extra action. */
  def incremental(spark: SparkSession, files: DataFrame,
      ledgerPath: String, storePath: String, loadDt: String): RunReport = {
    // localCheckpoint cuts the plan's dependence on the ledger files
    // BEFORE the end-of-run ledger overwrite (Spark refuses to
    // overwrite a path a live plan still reads)
    val changedN = new Observation()
    val changed = counted(Ledger.newAndUpdated(files, Ledger.read(spark, ledgerPath)), changedN)
      .localCheckpoint()
    // materialized once: the upsert reads the vectors twice (their
    // partitions, then the rewrite), and parse+chunk+embed runs once
    val chunks = new Observation()
    val vectors = counted(prepareVectorData(changed.drop("change_type"), loadDt), chunks)
      .localCheckpoint()
    VectorStore.upsert(spark, storePath, vectors, superseded = Some(changed.select("name")))
    val filesIn = writeLedger(files, ledgerPath)
    RunReport(filesIn, countOf(changedN), countOf(chunks))
  }

  private def counted(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"))

  private def countOf(obs: Observation): Long = obs.get("n").asInstanceOf[Long]

  /** Overwrite the ledger with the listing of `files`; returns the file
    * count, observed during the write. */
  private def writeLedger(files: DataFrame, ledgerPath: String): Long = {
    val n = new Observation()
    Ledger.write(counted(listingOf(files), n), ledgerPath)
    countOf(n)
  }

  /** STREAMING face of [[incremental]]: the reference's scheduled
    * re-ingest loop (run the script again tomorrow,
    * data_ingestion.py:56-66) becomes a stream over the landed-files
    * source where each micro-batch is one incremental run — the same
    * CDC diff, upsert with superseded-chunk drop, and ledger
    * overwrite, so a crash replay re-lands on the identical store state
    * (the upsert is key-idempotent and the diff sees the already-
    * advanced ledger). AvailableNow drains the backlog and stops — the
    * scheduled-ingest trigger shape ([[graft.streaming.IncrementalDedup]]
    * uses the same pattern, and for the same reason the screen runs as
    * a batch job inside foreachBatch: the diff needs a join against a
    * corpus-sized ledger that has no business living in the state
    * store). */
  def incrementalStream(files: DataFrame, ledgerPath: String,
      storePath: String, loadDt: String, checkpoint: String): Unit = {
    val q = files.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // per-batch "current listing" = ledger ∪ batch (a micro-batch
        // sees only landed deltas, not the full listing a scheduled run
        // re-enumerates — unchanged ledger rows must survive the
        // overwrite)
        val spark = batch.sparkSession
        // keep the optional `source` column the batch faces pass through
        val cols = Seq("name", "url", "last_modified", "content") ++
          (if (batch.columns.contains("source")) Seq("source") else Nil)
        val landed = batch.select(cols.map(col): _*)
        val prior = Ledger.read(spark, ledgerPath)
          .join(landed.select("name"), Seq("name"), "left_anti")
          .withColumn("content", lit(null).cast("binary"))
          .withColumn("source", lit("")) // never re-parsed; placeholder only
          .select(cols.map(col): _*)
          .localCheckpoint() // the run ends by overwriting the ledger this plan reads
        incremental(spark, landed.unionByName(prior), ledgerPath, storePath, loadDt)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** File removal (S12, `delete_filedata_from_vectordb`
    * cmfunctions.py:226-261): drop every chunk of the named files from
    * the store and the files from the ledger. */
  def deleteFiles(spark: SparkSession, names: DataFrame,
      ledgerPath: String, storePath: String): Unit = {
    VectorStore.deleteWhere(spark, storePath, names.select("name"), "name")
    val remaining = Ledger.read(spark, ledgerPath)
      .join(names.select("name"), Seq("name"), "left_anti")
      .localCheckpoint() // see incremental(): must not read the path it overwrites
    Ledger.write(remaining, ledgerPath)
  }
}
