package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 read face of the versioned table ([[TimeTravel]]) —
  * time travel as plain Spark surface, the `VERSION AS OF` idiom:
  *
  * {{{
  * spark.read.format("graft-table").load(path)                       -- latest
  * spark.read.format("graft-table").option("version", 3).load(path) -- as of v3
  * CREATE TABLE hist USING `graft-table` OPTIONS (path '…', version '3')
  * }}}
  *
  * The manifest resolves ONCE at table construction (snapshot pinned —
  * a commit after planning can't shear the scan), then the scan
  * delegates to Spark's own [[ParquetTable]] over exactly the
  * snapshot's directories, so it gets the vectorized reader, filter
  * pushdown and column pruning for free.
  *
  * DV-bearing snapshots (a pending merge-on-read delete) are handled
  * by [[graft.plans.DvApply]], an injected optimizer rule that rewrites
  * the relation into the same tombstone anti-join [[TimeTravel.read]]
  * performs — so `VERSION AS OF` SQL works on MoR-deleted snapshots
  * with no user action. Without the extension (or with the rule
  * excluded) the scan FAILS LOUDLY at build time: a pass-through file
  * scan cannot express the anti-join, and silently returning the
  * un-deleted rows would be wrong.
  */
class TimeTravelProvider extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft-table"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TimeTravelTable(options).schema()

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    TimeTravelTable(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false

  // ---- streaming read (V1 Source fallback: the table declares only
  // BATCH_READ, so DataStreamReader routes readStream.format(...) here)

  private def sourceFor(spark: SparkSession,
      parameters: Map[String, String]): TimeTravelSource = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = params.getOrElse("path",
      throw new IllegalArgumentException("graft-table requires a 'path' option"))
    new TimeTravelSource(spark, path, params)
  }

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      sourceFor(sqlContext.sparkSession, parameters).schema))

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
      metadataPath: String, schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source =
    sourceFor(sqlContext.sparkSession, parameters)
}

object TimeTravelTable {
  def apply(options: CaseInsensitiveStringMap): TimeTravelTable = {
    val path = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException("graft-table requires a 'path' option"))
    val version = Option(options.get("version")).map(_.toLong)
    new TimeTravelTable(path, version, options)
  }

  /** The snapshot a V2 relation's table scans: a `graft-table`, or a
    * versioned `graft-store` — the tables the DvApply and StatsPrune
    * rules rewrite. */
  private[graft] object Of {
    def unapply(t: Table): Option[TimeTravelTable] = t match {
      case tt: TimeTravelTable => Some(tt)
      case store: GraftStoreTable => store.snapshot
      case _ => None
    }
  }
}

final class TimeTravelTable(path: String, versionOpt: Option[Long],
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {

  private def spark: SparkSession = SparkSession.active

  /** Snapshot resolution, pinned at construction. */
  private[graft] val snapshotVersion: Long = versionOpt.getOrElse(
    TimeTravel.versions(spark, path).lastOption.getOrElse(
      throw new IllegalArgumentException(s"no versions at $path")))

  /** The table path, for [[graft.plans.DvApply]]'s rewrite. */
  private[graft] def tablePath: String = path

  /** The snapshot's manifest, read once. */
  private val snapshot = TimeTravel.manifest(spark, path, snapshotVersion)

  /** Pinned with the snapshot: whether it resolves through a COLUMN
    * MAPPING (rename/drop/widen history). A pass-through file scan
    * cannot serve it (physical names/types differ per era), so mapped
    * snapshots surface their LOGICAL schema here and rely on
    * [[graft.plans.DvApply]] to splice the library read in-plan —
    * the same mechanic as pending deletion vectors. */
  private[graft] val mapped: Boolean = snapshot.cols.nonEmpty

  /** Pinned at construction with the rest of the snapshot: whether this
    * snapshot carries merge-on-read tombstones that a plain file scan
    * cannot apply. */
  private[graft] val pendingDvs: Boolean = snapshot.dvs.nonEmpty

  private val dirs: Seq[String] = snapshot.dirs.map(d => s"$path/$d")

  // mapped tables never touch the delegate: its schema would carry
  // PHYSICAL names (and one footer cannot speak for widened
  // heterogeneous directory types); their logical schema comes from
  // the library read. The delegate's schema is the one Spark's
  // inference would read, taken from a footer on the driver.
  private[sources] lazy val delegate: ParquetTable =
    ParquetTable(name(), spark, options, dirs, Some(TimeTravel.footerSchema(spark, dirs)),
      classOf[ParquetFileFormat])

  override def name(): String = s"graft_table($path@v$snapshotVersion)"

  override def schema(): StructType =
    if (mapped) TimeTravel.read(spark, path, Some(snapshotVersion)).schema
    else delegate.schema

  override def partitioning(): Array[Transform] =
    if (mapped) Array.empty else delegate.partitioning()

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // Reached only when graft.plans.DvApply did NOT rewrite this
    // relation (extensions absent, rule excluded, or a shape the
    // rewrite declines, e.g. a _metadata reference): fail loudly
    // rather than return wrong rows.
    if (mapped)
      throw new UnsupportedOperationException(
        s"graft-table: ${name()} resolves through a column mapping; load " +
          "graft.GraftExtensions (the DvApply rule splices the mapped read " +
          "in-plan) or read via TimeTravel.read")
    if (pendingDvs)
      throw new UnsupportedOperationException(
        s"graft-table: ${name()} has pending deletion vectors; load " +
          "graft.GraftExtensions (the DvApply rule applies them in-plan), " +
          "read via TimeTravel.read (merge-on-read), or run " +
          "TimeTravel.optimize to fold them, then re-scan")
    delegate.newScanBuilder(caseInsensitiveOptions)
  }
}
