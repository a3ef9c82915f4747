package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * All queries receive an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * tables lazily; Catalyst pushes filters/projections into the parquet
  * scan, so at 100 TB the scan reads only the referenced columns and
  * row groups surviving predicate pushdown.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Inferred-schema memo, keyed by (path, nanosAsLong — the one conf
    * that changes what parquet inference returns here — and the path's
    * freshness token: the sorted names and lengths of its data files).
    * A Spark write names its files with a fresh UUID, so a dir rewritten
    * at the same path gets a new key even within the second its mtime
    * resolves to, and a stale schema is never served.
    *
    * Why (r16, guide §6 / the floor accounting in OPTIMIZATION_r16):
    * every bare `spark.read.parquet(path)` runs a schema-inference JOB
    * (a footer read) before the query proper — the floor probe showed
    * each headline micro-query paying 3 such jobs (~0.1 s each at
    * local[32]) per execution, a third of the whole query's wall. A
    * real catalog (Hive/Iceberg/Delta) serves the schema from metadata
    * for exactly this reason; this memo is that catalog for the
    * driver-generated dirs; the token costs one driver-side listing,
    * no Spark job. Only METADATA is cached — no rows, no results; the
    * cached value is the inference result itself, so plans are
    * identical. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, String, Seq[(String, Long)]), org.apache.spark.sql.types.StructType]

  /** Empty for a missing path, whose read then fails as it always did. */
  private def freshness(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val files = fs.listFiles(p, true)
      Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
        .map(st => st.getPath.getName -> st.getLen)
        .filterNot { case (n, _) => n.startsWith("_") || n.startsWith(".") }.toSeq.sorted
    }
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val schema = schemaMemo.computeIfAbsent((path, nanos, freshness(spark, path)),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    // The generator has emitted events.ts under several parquet encodings
    // across rounds; normalize every one of them to a session-TZ TIMESTAMP
    // so downstream event-time queries (`unix_micros`, `window`, as-of)
    // always see the same type:
    //  - TIMESTAMP(NANOS): Spark 4 can't read it as a timestamp; sessions
    //    set spark.sql.legacy.parquet.nanosAsLong=true and we rebuild the
    //    µs timestamp (ns div 1000 — generated values are exact µs
    //    multiples, so lossless).
    //  - timestamp[us] with no UTC adjustment: Spark reads TIMESTAMP_NTZ;
    //    the session TZ is pinned UTC, so NTZ→LTZ is an identity on the
    //    underlying instants.
    if (name != "events") df
    else df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
}
