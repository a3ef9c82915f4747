package graft.pipeline

import graft.functions.{Chunkers, Embedders, TextFunctions => TF}
import graft.sources.{ParallelJobs, ParseOps, TimeTravel, VectorStore}
import org.apache.spark.sql.{Column, DataFrame, GraftPlanApi, Observation, SparkSession}
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
  * one join on `name`; the store upsert is one keyed TimeTravel commit
  * that tombstones the superseded chunks and adds the fresh ones, so it
  * writes O(changed chunks) and rewrites no stored row. The ledger is a
  * TimeTravel table as well: each entry point stages the ledger's next
  * version beside its store commit, as a concurrent job, and publishes
  * it once the store commit has returned, so the store always publishes
  * first. Each ledger write reclaims its superseded dirs, and every
  * entry point ends with the store's upkeep step, which folds its small
  * dirs and reclaims superseded ones. Driver state is the RunReport
  * counters, never data.
  *
  * Embedding: the deterministic offline embedder by default (SURVEY
  * §7.4), one `graft_embed` per chunk normalized by the fused
  * `graft_l2_normalize` — the offline face of the reference's one
  * gateway call per chunk; production swaps [[BatchedEmbedder]] over an
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
    * replace the store content wholesale, then publish the post-run
    * listing (:60,69 — state reflects downloaded truth) as the ledger,
    * written beside the store write.
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
    val (_, n) = withLedger(listingOf(files), ledgerPath)(
      VectorStore.replaceAll(spark, storePath, counted(prepareVectorData(files, loadDt), chunks)))
    VectorStore.upkeep(spark, storePath)
    RunReport(n, n, countOf(chunks))
  }

  /** Incremental refresh (data_ingestion.py:56-66): diff the landed
    * files against the ledger (J1 — new OR strictly newer), then ONE
    * store upsert that writes the fresh chunks and drops every stored
    * chunk of a changed file by name (S12 semantics — an update may
    * shrink a file's chunk count, even to zero, so a keyed upsert alone
    * would leave orphans). The superseded names come from the diff, not
    * from the fresh chunks, so an update that yields no chunks still
    * drops its old ones. The old chunks' tombstones and the new chunks
    * publish in one manifest rename, so a reader never sees an updated
    * file without chunks, or with both. A run that finds nothing changed
    * leaves the store as it is. Unchanged files are never parsed,
    * chunked or embedded; the report's counts are observed on the two
    * checkpoints and the ledger write, with no extra action.
    *
    * The ledger's next version is written beside the diff and the
    * upsert, and published after them: the store and the ledger publish
    * one after the other, and the store commit is tagged with the run's
    * identity: the ledger version the diff read, the diff's row count
    * and an order-independent hash of its (name, last_modified) pairs. A run that failed after the
    * store commit leaves the ledger at that version, so its replay
    * computes the same tag, finds it on the store's latest manifest,
    * and commits only the ledger: nothing is parsed, chunked or embedded
    * twice. Any other replay redoes the upsert, which is key- and
    * name-idempotent, so no change is dropped. */
  def incremental(spark: SparkSession, files: DataFrame,
      ledgerPath: String, storePath: String, loadDt: String): RunReport = {
    val ledgerV = TimeTravel.versions(spark, ledgerPath).lastOption.getOrElse(0L)
    val state = Ledger.read(spark, ledgerPath)
    val ((changedN, chunksN), filesIn) = withLedger(listingOf(files), ledgerPath) {
      val (changed, n, diff) = pinned(Ledger.newAndUpdated(files, state),
        bit_xor(xxhash64(col("name"), col("last_modified"))).as("h"))
      val run = s"cdc:ledger-v$ledgerV:$n:${diff("h")}"
      if (n == 0 || TimeTravel.latestTag(spark, storePath).contains(run)) (n, 0L)
      else {
        // materialized once: the upsert reads the vectors twice (their
        // keys for the tombstones, then the new data dir), and
        // parse+chunk+embed runs once
        val (vectors, chunks, _) = pinned(prepareVectorData(changed.drop("change_type"), loadDt))
        VectorStore.upsert(spark, storePath, vectors, Some(changed.select("name")), Some(run))
        (n, chunks)
      }
    }
    VectorStore.upkeep(spark, storePath)
    RunReport(filesIn, changedN, chunksN)
  }

  /** `df` materialized once (`localCheckpoint`), with its row count and
    * the `extra` metrics, observed during that one job. The pin's
    * planner statistics carry the count: the checkpoint would otherwise
    * keep the estimate of the plan it cut (for the ledger diff, the
    * product of the left-outer join's inputs), and the store upsert
    * would shuffle the whole store to join it instead of broadcasting
    * the few changed keys. */
  private def pinned(df: DataFrame, extra: Column*): (DataFrame, Long, Map[String, Any]) = {
    val obs = new Observation()
    val pin = df.observe(obs, count(lit(1)).as("n"), extra: _*).localCheckpoint()
    val n = countOf(obs)
    (GraftPlanApi.withRowCount(pin, n), n, obs.get)
  }

  private def counted(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"))

  private def countOf(obs: Observation): Long = obs.get("n").asInstanceOf[Long]

  /** Commit `ledger` as the ledger's next version beside `store`, an
    * entry point's store work: the ledger's data write runs on its own
    * thread while `store` runs on the caller's, with no deadline on
    * either, and the ledger publishes only once `store` has returned,
    * so the store always publishes first. If `store` fails, the staged
    * ledger version is awaited and not published, and its dir is left
    * for a later ledger write to reclaim. Returns the ledger's row
    * count, observed during its write. */
  private def withLedger[A](ledger: DataFrame, ledgerPath: String)(store: => A): (A, Long) = {
    val n = new Observation()
    val staged = ParallelJobs.beside(Ledger.stage(counted(ledger, n), ledgerPath))
    val a = try store catch { case e: Throwable => scala.util.Try(staged()); throw e }
    staged().publish()
    (a, countOf(n))
  }

  /** STREAMING face of [[incremental]]: the reference's scheduled
    * re-ingest loop (run the script again tomorrow,
    * data_ingestion.py:56-66) becomes a stream over the landed-files
    * source where each micro-batch is one incremental run — the same
    * CDC diff, tagged upsert with superseded-chunk drop, and ledger
    * commit, so a crash replay re-lands on the identical store state
    * (a replay after the store commit finds its tag and embeds nothing;
    * one after the ledger commit sees the already-advanced ledger and
    * an empty diff). AvailableNow drains the backlog and stops — the
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
        // ledger commit)
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
        incremental(spark, landed.unionByName(prior), ledgerPath, storePath, loadDt)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** File removal (S12, `delete_filedata_from_vectordb`
    * cmfunctions.py:226-261): drop every chunk of the named files from
    * the store, then publish the ledger without them, written beside the
    * store delete. A run that failed between the two commits replays to
    * the same state: the store delete finds nothing left to drop. */
  def deleteFiles(spark: SparkSession, names: DataFrame,
      ledgerPath: String, storePath: String): Unit = {
    withLedger(Ledger.read(spark, ledgerPath)
        .join(names.select("name"), Seq("name"), "left_anti"), ledgerPath)(
      VectorStore.deleteWhere(spark, storePath, names.select("name"), "name"))
    VectorStore.upkeep(spark, storePath)
  }
}
