package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face of the vector store (SURVEY §4.3 optional item):
  * registers the parquet-backed store as a named catalog table so the
  * ingestion surface is plain SQL/`writeTo`:
  *
  * {{{
  * CREATE TABLE graft_store USING `graft-store` OPTIONS (path '...')
  * df.writeTo("graft_store").append()            -- S10 upsert-by-chunk_id
  * DELETE FROM graft_store WHERE chunk_id IN (…) -- S12 predicate delete
  * SELECT … FROM graft_store                     -- full parquet scan path
  * }}}
  *
  * Semantics are [[VectorStore]]'s, unchanged behind the V2 surface:
  * append IS upsert (replace-by-`chunk_id` as one keyed TimeTravel
  * commit — the reference's Weaviate batch upsert contract,
  * cmfunctions.py:177-223), and DELETE maps key predicates onto the
  * same commit with no data dir (:226-261).
  *
  * Scale/plumbing choices:
  *   - READ is the latest snapshot's [[TimeTravelTable]]: a parquet scan
  *     of its data dirs with the native vectorized reader, filter
  *     pushdown and column pruning; pending deletion vectors splice in
  *     through [[graft.plans.DvApply]] and `load_dt` predicates skip
  *     files through [[graft.plans.StatsPrune]], exactly as for
  *     `graft-table`. A store still in the unversioned layout scans its
  *     path as plain parquet until its first write adopts it.
  *   - WRITE uses the [[V1Write]] bridge: the committed V2 write API
  *     hands the incoming rows to [[VectorStore.upsert]], which commits
  *     through TimeTravel. A bespoke BatchWrite would re-implement
  *     parquet commit machinery for zero semantic gain.
  *   - DELETE accepts only conjunctions of `chunk_id` IN/= predicates
  *     (`canDeleteWhere`); anything else falls back to Spark's error,
  *     never a silent full-table rewrite.
  */
class GraftStoreProvider extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-store"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftStoreTable(options).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    GraftStoreTable(new CaseInsensitiveStringMap(properties))
}

object GraftStoreTable {
  def apply(options: CaseInsensitiveStringMap): GraftStoreTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-store requires a 'path' option"))
    new GraftStoreTable(path, options)
  }
}

final class GraftStoreTable(path: String, options: CaseInsensitiveStringMap)
  extends Table with SupportsRead with SupportsWrite with SupportsDelete {

  private def spark: SparkSession = SparkSession.active

  /** The latest snapshot, resolved when the table is built (each query
    * builds its own); None while the store is unversioned. */
  private[graft] val snapshot: Option[TimeTravelTable] =
    if (TimeTravel.versions(spark, path).isEmpty) None
    else Some(new TimeTravelTable(path, None, options))

  /** The parquet scan of the snapshot's data dirs, or of an unversioned
    * path. [[graft.plans.DvApply]] splices every read of a snapshot with
    * tombstones, so this scan is reached unspliced only as a DELETE's
    * target, whose rows are never read. */
  private def files: ParquetTable = snapshot.fold(
    ParquetTable(name(), spark, options, Seq(path), None, classOf[ParquetFileFormat]))(_.delegate)

  override def name(): String = s"graft_store($path)"

  override def schema(): StructType = files.schema

  override def partitioning(): Array[Transform] = files.partitioning()

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder =
    files.newScanBuilder(caseInsensitiveOptions)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var replaceAll = false
      override def truncate(): WriteBuilder = { replaceAll = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit =
              if (replaceAll || overwrite)
                VectorStore.replaceAll(data.sparkSession, path, data)
              else
                VectorStore.upsert(data.sparkSession, path, data)
          }
      }
    }

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.nonEmpty && filters.forall {
      case In(attr, _)      => attr == VectorStore.KeyCol
      case EqualTo(attr, _) => attr == VectorStore.KeyCol
      case _                => false
    }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    // the filter array is a conjunction: intersect the key sets
    val keySets = filters.toSeq.map {
      case In(_, vs)      => vs.toSet
      case EqualTo(_, v)  => Set(v)
      case f => throw new IllegalArgumentException(
        s"graft-store DELETE supports only ${VectorStore.KeyCol} IN/= predicates, got $f")
    }
    val keys = keySets.reduce(_ intersect _).toSeq.map(v => String.valueOf(v))
    if (keys.nonEmpty) {
      val sp = spark
      import sp.implicits._
      VectorStore.deleteWhere(sp, path, keys.toDF(VectorStore.KeyCol), VectorStore.KeyCol)
    }
  }
}
