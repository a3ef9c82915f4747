package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload run sees. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, cores: Int,
    work: Path, tables: String, tracer: Tracer, benchDir: Path) {
  def traced: Boolean = tracer.enabled
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))
}

/** What one workload run produced: e2e samples, named report values,
  * per-layer values, and the attempt/failure tally. */
final class Outcome {
  val setups = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Double]
  val report = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  /** Count one attempt; a throw or a false result is a failure. */
  def attempt[A](what: String)(f: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    try {
      val r = f
      if (!ok(r)) failures += s"$what: output check failed"
      Some(r)
    } catch {
      case scala.util.control.NonFatal(e) =>
        failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  /** An output check: one attempt, failed when false. */
  def check(what: String)(cond: => Boolean): Unit = attempt(what)(cond)(identity)

  def tail(name: String, xs: Seq[Double]): Unit = if (xs.nonEmpty) {
    val t = Stats.tail(xs)
    report(name) = Map("value" -> t.value, "percentile" -> t.percentile, "samples" -> t.samples)
  }
}

object Harness {

  /** JSON in and out: the result and report lines, spans, pins.json and
    * the stub gateway's request bodies. Scala maps keep their key order. */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Log a phase boundary to stderr, in seconds since the JVM started. */
  def phase(name: String): Unit =
    System.err.println(f"perfbench: $name at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

  def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `op` until `budget` seconds have passed and at least `min` runs
    * are done; returns each run's seconds. */
  def loop(budget: Double, min: Int)(op: Int => Unit): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (out.size < min || (System.nanoTime() - t0) / 1e9 < budget)
      out += seconds(op(out.size))._2
    out.toSeq
  }

  /** The landed-files frame `IngestJob` takes, from Spark's `binaryFile`
    * source over the landing dir: (name, url, last_modified, content). */
  def listing(spark: SparkSession, dir: Path): DataFrame =
    spark.read.format("binaryFile").load(dir.toString)
      .select(element_at(split(col("path"), "/"), -1).as("name"), col("path").as("url"),
        col("modificationTime").as("last_modified"), col("content"))

  /** Word pool for generated files: the `documents` table's texts. */
  def wordPool(spark: SparkSession, tables: String): IndexedSeq[Array[String]] =
    spark.read.parquet(s"$tables/documents.parquet").orderBy("doc_id").select("text")
      .collect().map(_.getString(0).split(" ")).toIndexedSeq

  /** Land every entry; returns the landing dir. */
  def land(dir: Path, seed: Long, entries: Seq[Corpus.Entry],
      pool: IndexedSeq[Array[String]]): Path = {
    entries.foreach(e => Corpus.land(dir, seed, e, pool))
    dir
  }

  /** Parquet data files under `dir` (recursive): (count, bytes). */
  def dataFiles(dir: Path): (Int, Long) =
    if (!Files.exists(dir)) (0, 0L)
    else {
      val fs = Files.walk(dir).iterator().asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
      }.toVector
      (fs.size, fs.map(Files.size).sum)
    }

  /** Data files (name -> bytes) per `load_dt=` partition dir, to see what a write touched. */
  def partitionFiles(store: Path): Map[String, Map[String, Long]] =
    if (!Files.exists(store)) Map.empty
    else Files.list(store).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("load_dt="))
      .map(p => p.getFileName.toString -> Files.list(p).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(f => f.getFileName.toString -> Files.size(f)).toMap)
      .toMap

  /** Raw bytes of a frame's rows: strings as UTF-8, numbers and dates at
    * their binary width, arrays as their elements; nulls count nothing. */
  def rowBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.types._
    def width(t: DataType): Int = t match {
      case ByteType | BooleanType             => 1
      case ShortType                          => 2
      case IntegerType | FloatType | DateType => 4
      case _                                  => 8
    }
    val perRow = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      val b = f.dataType match {
        case StringType       => octet_length(c)
        case ArrayType(et, _) => size(c) * width(et)
        case t                => lit(width(t))
      }
      coalesce(b.cast("long"), lit(0L))
    }.reduce(_ + _)
    df.agg(coalesce(sum(perRow), lit(0L))).head().getLong(0)
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
  }
}
