package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to the `private[sql]` members the library's native operator
  * API needs, starting with building a DataFrame from a custom
  * LogicalPlan (the extension-point Spark itself uses for every
  * DataFrame API method). Everything else in the library goes through
  * public API.
  */
object GraftPlanApi {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A checkpointed DataFrame (`localCheckpoint` / `checkpoint`) whose
    * planner statistics say it holds `rows` rows. A checkpoint keeps
    * the size estimate of the plan it cut, which after a join can be
    * orders of magnitude above what it materialized; the join planner
    * then shuffles the other side instead of broadcasting this one. The
    * size is `rows` times the schema's estimated row width. */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = df.queryExecution.logical match {
    case r: execution.LogicalRDD =>
      val stats = catalyst.plans.logical.Statistics(
        sizeInBytes = catalyst.plans.logical.statsEstimation.EstimationUtils
          .getSizePerRow(r.output) * rows,
        rowCount = Some(BigInt(rows)))
      ofRows(df.sparkSession, execution.LogicalRDD(r.output, r.rdd,
        r.outputPartitioning, r.outputOrdering, r.isStreaming, r.stream)(
        df.sparkSession.asInstanceOf[classic.SparkSession], Some(stats), Some(r.constraints)))
    case other => throw new IllegalArgumentException(
      s"withRowCount needs a checkpointed DataFrame, got ${other.nodeName}")
  }

  /** Spark's own DIVIDE_BY_ZERO error (ANSI mode), for fused kernels
    * that replace a composed division. */
  def divideByZeroError(): ArithmeticException =
    errors.QueryExecutionErrors.divideByZeroError(null)

  /** Wrap a Catalyst expression as a user-facing Column — the inverse
    * bridge, needed by the SQL DML translation
    * ([[graft.plans.SqlDml]]) to hand a parsed WHERE/SET expression to
    * the library's Column-typed table operations. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Column → Catalyst expression (the inverse of [[column]]): lets the
    * row-level table operations INSPECT a user predicate's column
    * references before Spark's lenient add-missing-references
    * resolution could bind them past the logical projection. */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)

  /** Re-flag a batch plan's file relations as STREAMING — the exact
    * move `FileStreamSource.getBatch` makes: a V1 streaming source
    * must hand MicroBatchExecution a `isStreaming = true` DataFrame,
    * and flipping the flag on the resolved parquet relation keeps the
    * whole batch read stack (vectorized reader, pushdown, pruning)
    * under the stream. Only [[execution.datasources.LogicalRelation]]
    * leaves flip; anything joined against them (e.g. a deletion-vector
    * side) stays batch, which is what makes the DV subtraction a
    * supported stream-static anti-join. */
  def markFileRelationsStreaming(df: DataFrame): DataFrame = {
    val plan = df.queryExecution.analyzed.transform {
      case lr: execution.datasources.LogicalRelation => lr.copy(isStreaming = true)
    }
    ofRows(df.sparkSession, plan)
  }

  /** [[markFileRelationsStreaming]] restricted to file relations rooted
    * at `onlyRoots` — the merge-on-read first-batch shape: the DATA
    * scan streams while the bounded delete-side scans stay static, so
    * the anti-joins plan as stream-static (supported) instead of
    * stream-stream (not, without watermarks). */
  def markFileRelationsStreaming(df: DataFrame, onlyRoots: Set[String]): DataFrame = {
    // scheme-normalized match: FileIndex root paths come back qualified
    // (file:/…) while callers hold raw or differently-rendered URIs
    def norm(s: String) = graft.sources.PathKeys.normKey(s)
    val roots = onlyRoots.map(norm)
    val plan = df.queryExecution.analyzed.transform {
      case lr: execution.datasources.LogicalRelation
          if lr.relation.isInstanceOf[execution.datasources.HadoopFsRelation] &&
            lr.relation.asInstanceOf[execution.datasources.HadoopFsRelation]
              .location.rootPaths.exists(p => roots(norm(p.toString))) =>
        lr.copy(isStreaming = true)
    }
    ofRows(df.sparkSession, plan)
  }

  /** A DataFrame over a custom [[execution.datasources.FileIndex]] —
    * ONE parquet relation whose file list, sizes, and partition values
    * come from the index instead of a filesystem listing (the shape
    * Delta-style table formats serve their snapshots in). Partition
    * pruning, filter pushdown, and column pruning all ride the
    * standard `FileSourceStrategy` path. */
  def fileRelationDataFrame(spark: SparkSession,
      index: execution.datasources.FileIndex,
      partitionSchema: org.apache.spark.sql.types.StructType,
      dataSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    val relation = execution.datasources.HadoopFsRelation(
      index, partitionSchema, dataSchema, None,
      new execution.datasources.parquet.ParquetFileFormat, Map.empty)(spark)
    spark.asInstanceOf[classic.SparkSession].baseRelationToDataFrame(relation)
  }

  /** A session CLONE with `spark.sql.parquet.fieldId.read.enabled` on —
    * the id-mode scans build their relations against it. The conf is
    * consumed at EXECUTION time through `relation.sparkSession`
    * (`FileSourceScanExec` passes it to
    * `ParquetFileFormat.buildReaderWithPartitionValues`), so a plan-time
    * save-and-restore would silently flip the lazy scan back to
    * name-binding; capturing a clone pins the binding for the relation's
    * whole life WITHOUT mutating the caller's session — a later plain
    * parquet read over id-carrying files keeps name semantics (r13
    * ADVICE). Clones share the SparkContext and shared state; cost is
    * one SessionState copy per id-mode scan, metadata-scale. */
  def fieldIdReadSession(spark: SparkSession): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession].cloneSession()
    s.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    s
  }

  /** A streaming-flagged DataFrame over an already-planned batch
    * computation's row RDD — the face for per-batch results whose plan
    * shape streaming cannot host directly (e.g. the change-feed's
    * full-outer self-join). The RDD stays lazy and distributed; only
    * the `isStreaming` bit is minted here. */
  def streamingDataFrame(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)
}
