package graft.pipeline

import graft.sources.TimeTravel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-metadata ledger + CDC (SURVEY.md §2.4 J1, §3.2).
  *
  * The reference keeps its only durable state in `files_df.csv`
  * (/root/reference/data_ingestion.py:58,69) and detects changes with a
  * per-file nested loop (`find_new_and_updated_files`
  * /root/reference/llmcore/cms/sharepointutils.py:169-186): a file is
  * NEW when its name is absent from the state, UPDATED when present but
  * the current timestamp is strictly newer.
  *
  * Here the ledger is a [[TimeTravel]] table, the vector store's commit
  * protocol: each write is one overwrite commit of the whole listing,
  * one data dir published by a manifest rename. [[IngestJob]] stages
  * that dir beside its store commit and publishes it after the store's
  * ([[stage]]). A write that fails leaves the previous version as the
  * ledger, and a run may read the version it replaces. A ledger in the
  * earlier plain-parquet layout reads as it is, and its first write
  * adopts it. Change detection is one left-outer join — O(n) with a
  * broadcast when the state is small, a shuffled hash join otherwise,
  * where both sides partition by `name` and nothing touches the
  * driver. The write's task count follows the listing's estimated size
  * ([[stage]]).
  */
object Ledger {

  /** Rows of `current` that are new or strictly newer than `state`.
    * Both frames need (name, last_modified); all other current columns
    * pass through, plus `change_type` ∈ {new, updated}. */
  def newAndUpdated(current: DataFrame, state: DataFrame): DataFrame = {
    val st = state.select(col("name").as("_st_name"),
      col("last_modified").as("_st_last_modified"))
    current.join(st, current("name") === col("_st_name"), "left_outer")
      .filter(col("_st_name").isNull ||
        current("last_modified") > col("_st_last_modified"))
      .withColumn("change_type",
        when(col("_st_name").isNull, "new").otherwise("updated"))
      .drop("_st_name", "_st_last_modified")
  }

  /** Commit the post-run listing as the ledger's next version (REF
    * re-lists after download, data_ingestion.py:60,69 — state reflects
    * downloaded truth), then reclaim the dirs of every version but the
    * last [[KeepVersions]]. */
  def write(listing: DataFrame, path: String): Unit = stage(listing, path).publish(): Unit

  /** [[write]] in two steps: this writes the next version's data dir,
    * and its `publish()` publishes that version and reclaims the old
    * dirs. Until then readers see the previous version, and a staged
    * version that never publishes leaves one unpublished dir, which a
    * later write reclaims once its version leaves the kept window.
    *
    * A version is written in one task per `spark.sql.files.maxPartitionBytes`
    * of the planner's size estimate of `listing` ([[writeTasks]]), so
    * a small listing is one file, written by one task: its write then
    * runs beside the store commit without taking the store's cores, and
    * every later diff reads one file. `coalesce` does not shuffle, so
    * those tasks also compute the listing's upstream (the landing scan,
    * or the previous ledger's read); a large listing keeps as many
    * tasks as its estimated bytes call for. */
  private[graft] def stage(listing: DataFrame, path: String): TimeTravel.Staged =
    TimeTravel.stageAdopting(listing.coalesce(writeTasks(listing)), path)
      .andThen(TimeTravel.vacuumShared(listing.sparkSession, path, KeepVersions): Unit)

  /** One task per `spark.sql.files.maxPartitionBytes` of `listing`'s
    * estimated size, at least one. The estimate is the optimizer's, made
    * on the driver with no job; over a `binaryFile` landing scan it
    * scales with the landed bytes, so it overstates a listing and never
    * leaves a large one with too few tasks. More tasks than `listing`'s
    * partitions leave it as it is. */
  private def writeTasks(listing: DataFrame): Int = {
    val bytes = listing.queryExecution.optimizedPlan.stats.sizeInBytes
    val per = BigInt(listing.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    ((bytes + per - 1) / per).max(1).min(Int.MaxValue).toInt
  }

  /** The versions a ledger write keeps: its own and the one before, so
    * a run whose diff resolved the previous version before this write
    * published still finishes its scan. Each version is one data dir. */
  private val KeepVersions = 2

  def read(spark: SparkSession, path: String): DataFrame = TimeTravel.readLatest(spark, path)

  /** S12 predicate delete re-expressed as an anti-join rewrite: keep
    * store rows whose key is NOT in `keys`. */
  def deleteByKey(store: DataFrame, keys: DataFrame, keyCol: String): DataFrame =
    store.join(keys.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
}
