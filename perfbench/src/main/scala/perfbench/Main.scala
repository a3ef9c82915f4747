package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Benchmark entry point (launched by run.py after it has built the
  * classpath and the tables):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *       --work DIR --tables DIR --bench-dir DIR --cores C --spans FILE
  *   perfbench.Main --dump-oracle FILE
  *
  * Prints a report line, then the result line (last line of stdout). */
object Main {

  val Workloads: Map[String, (Ctx, Outcome) => Unit] = Map(
    "ingest_full" -> IngestFull.run, "ingest_cdc" -> IngestCdc.run,
    "query_mix" -> QueryMix.run, "embed_gateway" -> EmbedGateway.run)

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "op_p50_s" -> "s", "rss_peak_mb" -> "MB")

  /** Every per-layer metric, in BENCHMARK.json order; a run reports 0
    * for a layer its workload does not touch. */
  val PerLayer: Seq[(String, String)] = Seq(
    "landing.list_s" -> "s", "landing.scan_s" -> "s", "landing.files_listed" -> "count",
    "parse.self_s" -> "s", "parse.files" -> "count", "parse.stub_fallbacks" -> "count",
    "chunk.self_s" -> "s", "chunk.chunks" -> "count",
    "embed.self_s" -> "s", "embed.vectors_per_s" -> "1/s",
    "ledger.diff_s" -> "s", "ledger.write_s" -> "s", "ledger.changed_ratio" -> "ratio",
    "store.replace_s" -> "s", "store.upsert_s" -> "s", "store.delete_s" -> "s",
    "store.jobs_per_upsert" -> "count", "store.partitions_rewritten" -> "count",
    "store.write_amp" -> "ratio", "store.files" -> "count", "store.bytes" -> "B",
    "ingest.self_s" -> "s", "ingest.jobs_per_round" -> "count", "ingest.self_sum_ratio" -> "ratio",
    "index.build_s" -> "s", "index.load_centroids_s" -> "s", "index.jobs_per_query" -> "count",
    "index.files_read" -> "count", "index.files_pruned" -> "count",
    "index.candidates_per_query" -> "count") ++
    QueryMix.Headline.flatMap(n => Seq(s"query.${n}_s" -> "s", s"query.${n}_jobs" -> "count")) ++ Seq(
    "gateway.requests" -> "count", "gateway.texts_per_request" -> "count",
    "gateway.transport_s" -> "s", "gateway.server_busy_s" -> "s", "gateway.server_idle_s" -> "s",
    "gateway.concurrency_peak" -> "count", "gateway.retries" -> "count",
    "gateway.useful_ratio" -> "ratio", "gateway.chunks_per_s" -> "1/s",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead_s" -> "s", "trace.cdc_overhead_s" -> "s",
    "trace.spans" -> "count")

  private def args(argv: Array[String]): Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val a = args(argv)
    a.get("dump-oracle") match {
      case Some(path) =>
        val sql = QueryMix.Headline.map(n => n -> graft.SparkEntry.oracleSql(n))
        Harness.Json.writeValue(Paths.get(path).toFile, sql.toMap)
      case None =>
        // exit explicitly: the local-mode Spark context runs inside this
        // JVM, so exiting ends it, and a failed run cannot hang on a live thread
        try run(a) catch {
          case e: Throwable =>
            e.printStackTrace()
            sys.exit(1)
        }
        sys.exit(0)
    }
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = a("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val work = Files.createDirectories(Paths.get(a("work")))
    val cores = a("cores").toInt
    Harness.phase("main")
    val spark = Session.start(cores, work)
    Harness.phase("session")
    val tracer = new Tracer(spark, traced, s"$workload-$seed-${if (traced) "traced" else "plain"}")
    val ctx = Ctx(spark, seed, a("seconds").toDouble, cores, work, a("tables"), tracer,
      Paths.get(a("bench-dir")))
    val out = new Outcome
    val gc0 = gcSeconds()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

    body(ctx, out)

    val rss = rssPeakMb()
    out.layers("jvm.gc_s") = gcSeconds() - gc0
    out.layers("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    out.layers("trace.spans") = tracer.spans.size
    if (traced) a.get("spans").foreach(p => tracer.writeJsonl(Paths.get(p)))
    tracer.close()

    val setup = Stats.median(out.setups.toSeq)
    val op = Stats.median(out.ops.toSeq)
    val failed = out.failures.size
    out.report("setup_s") = setup
    out.report("rss_peak_mb") = rss
    out.report("failed_ops_frac") = failed.toDouble / out.attempted
    out.report("setup_samples") = out.setups.toSeq
    out.report("op_samples") = out.ops.toSeq
    out.report("failures") = out.failures.toSeq
    val metrics =
      if (traced) PerLayer.map { case (n, u) => n -> Map("value" -> out.layers.getOrElse(n, 0.0), "unit" -> u) }
      else Seq("setup_s" -> setup, "op_p50_s" -> op, "rss_peak_mb" -> rss).map { case (n, v) =>
        n -> Map("value" -> v, "unit" -> EndToEnd.toMap.apply(n)) }
    println(Harness.Json.writeValueAsString(Map("report" ->
      (scala.collection.immutable.ListMap("workload" -> workload, "seed" -> seed) ++ out.report))))
    println(Harness.Json.writeValueAsString(scala.collection.immutable.ListMap(
      "correct" -> out.failures.isEmpty, "attempted" -> out.attempted, "failed" -> failed.toLong,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1000.0

  /** Peak resident set of this process (VmHWM), in MB. */
  private def rssPeakMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Runtime.getRuntime.totalMemory / 1048576.0
    else Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
