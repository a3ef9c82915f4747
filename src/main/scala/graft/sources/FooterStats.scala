package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Column statistics from parquet footers, read on the driver: one
  * footer read per file, no Spark job. The Iceberg and Delta exporters
  * take their bounds from here, and [[TimeTravel]] its file-skipping
  * sidecars. */
private[sources] object FooterStats {

  /** The footer of the parquet file at `p`. */
  def footer(conf: Configuration, p: Path): ParquetMetadata = {
    val rdr = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
    try rdr.getFooter finally rdr.close()
  }

  /** Rows in the file, summed over its row groups. */
  def rows(footer: ParquetMetadata): Long =
    footer.getBlocks.asScala.map(_.getRowCount).sum

  /** The statistics of top-level column `name`, merged over every row
    * group through parquet's own comparators. None when the file has
    * no row group, or any row group carries no usable statistics for
    * the column: a bound from some row groups only would be wrong. None
    * also for a date or timestamp column of a file Spark wrote under
    * its LEGACY calendar rebase (`datetimeRebaseModeInWrite=LEGACY`):
    * the footer then holds hybrid-Julian values, which do not bound the
    * proleptic-Gregorian ones Spark reads back. */
  def merged(footer: ParquetMetadata, name: String): Option[Statistics[_]] = {
    val stats = footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
      .filter(_.getPath.toDotString == name)).map(_.getStatistics)
    if (stats.isEmpty || stats.exists(s => s == null || s.isEmpty) ||
        legacyRebased(footer, name)) None
    else Some(stats.reduceLeft[Statistics[_]] { (a, b) =>
      val m = a.copy(); m.mergeStatistics(b); m
    })
  }

  private def legacyRebased(footer: ParquetMetadata, name: String): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation.{DateLogicalTypeAnnotation, TimestampLogicalTypeAnnotation}
    val meta = footer.getFileMetaData
    meta.getKeyValueMetaData.containsKey("org.apache.spark.legacyDateTime") &&
      meta.getSchema.getFields.asScala.find(_.getName == name).exists(f =>
        f.getLogicalTypeAnnotation match {
          case _: DateLogicalTypeAnnotation | _: TimestampLogicalTypeAnnotation => true
          case _ => false
        })
  }
}
