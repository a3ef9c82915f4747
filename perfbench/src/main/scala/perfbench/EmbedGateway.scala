package perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.config.PipelineConfig
import graft.functions.{Chunkers, TextFunctions => TF}
import graft.pipeline.{BatchedEmbedder, DocPipeline, HttpEmbedBackend}
import graft.pipeline.BatchedEmbedder.{DeterministicBackend, RetryingBackend}
import graft.sources.ParseOps

/** `embed_gateway`: chunk text of a seeded corpus goes through
  * `BatchedEmbedder.embed` with the configured batch size; each
  * partition's backend is `RetryingBackend(HttpEmbedBackend(...))`
  * against the loopback [[Gateway]]. The in-process embed kernel does
  * nothing here; batching, connection reuse, per-partition concurrency
  * and retry/backoff do. The same leg runs in `ingest_cdc`'s traced run
  * over that workload's corpus. */
object EmbedGateway {
  val CorpusFiles = 100
  val CorpusWords = 200000
  val Dim = 64
  val PerRequestMs = 20.0
  val PerTextMs = 0.1
  val FailEvery = 50
  val BackoffMs = 20L

  /** Nanoseconds spent inside the HTTP transport, across all partitions. */
  val transportNs = new AtomicLong

  /** The program's public transport, timed. */
  val timedTransport: HttpEmbedBackend.Transport = (url, headers, body) => {
    val t0 = System.nanoTime()
    try HttpEmbedBackend.javaHttpTransport(url, headers, body)
    finally transportNs.addAndGet(System.nanoTime() - t0)
  }

  /** Parsed, cleaned, chunked text of a landed corpus, materialized. */
  def chunkText(ctx: Ctx, landing: Path): DataFrame =
    Harness.listing(ctx.spark, landing)
      .withColumn("file_type", TF.extExtract(col("name")))
      .filter(ParseOps.isSupported(col("file_type")))
      .select(col("name"), posexplode(Chunkers.chunkFixedWordsIn(ctx.spark,
        TF.cleanText(ParseOps.parseText(col("file_type"), col("content"))),
        DocPipeline.ChunkWords, DocPipeline.OverlapFraction)).as(Seq("index", "text")))
      .repartition(ctx.cores)
      .localCheckpoint(eager = true)

  def run(ctx: Ctx, out: Outcome): Unit = {
    val pool = Harness.wordPool(ctx.spark, ctx.tables)
    val entries = Corpus.initial(ctx.seed, CorpusFiles, CorpusWords)
    out.report("corpus_digest") = Corpus.digest(ctx.seed, entries, pool)
    // set-up, three times: land the corpus and materialize its chunk text
    var chunks: DataFrame = null
    (0 until 3).foreach { k =>
      out.setups += Harness.seconds {
        chunks = chunkText(ctx, Harness.land(ctx.dir(s"gw$k"), ctx.seed, entries, pool))
      }._2
    }
    val plain = leg(ctx, out, chunks, ctx.seconds, if (ctx.traced) 4 else 3)
    out.ops ++= plain
    out.report("embed_chunks_per_s") = chunks.count() / Stats.median(plain)
  }

  /** Start a gateway, check one pass bit for bit against
    * `DeterministicBackend`, then time passes for `seconds` (at least
    * `min`); fills the gateway.* layer values and returns the plain
    * passes' seconds. Traced runs alternate plain and traced passes. */
  def leg(ctx: Ctx, out: Outcome, chunks: DataFrame, seconds: Double, min: Int): Seq[Double] = {
    val gw = new Gateway(ctx.cores, PerRequestMs, PerTextMs, Dim, FailEvery)
    try {
      val n = chunks.count()
      val url = gw.url
      def embedded(): DataFrame = BatchedEmbedder.embed(chunks, "text", PipelineConfig.Default.batchSize,
        () => new RetryingBackend(new HttpEmbedBackend(url, Map("api-key" -> "perfbench"), timedTransport),
          baseDelayMs = BackoffMs))
      val xorHash = bit_xor(xxhash64(col("name"), col("index"), col("embedding"))).as("h")

      gw.newEpoch()
      val warmObs = new Observation()
      val rows = embedded().observe(warmObs, xorHash).select("text", "embedding").collect()
      val want = new DeterministicBackend(Dim)
      out.check("gateway vectors = DeterministicBackend") {
        rows.length == n && rows.grouped(500).forall { b =>
          want.embedBatch(b.map(_.getString(0)).toSeq).lazyZip(b.toSeq)
            .forall((w, r) => java.util.Arrays.equals(w, r.getSeq[Double](1).toArray))
        }
      }
      val expected = warmObs.get("h")

      gw.resetCounters()
      transportNs.set(0)
      val passes = Harness.loop(seconds, min) { i =>
        val span = ctx.traced && i % 2 == 1
        gw.newEpoch()
        val obs = new Observation()
        def pass(): Unit = embedded().observe(obs, xorHash).write.mode("overwrite").format("noop").save()
        out.attempt("embed pass")(if (span) ctx.tracer.span("embed.pass")(pass()) else pass())(
          _ => obs.get("h") == expected)
      }
      val plain = if (ctx.traced) passes.indices.filter(_ % 2 == 0).map(passes) else passes
      val np = passes.size.toDouble
      val ok = gw.attempts.get - gw.failures.get
      out.layers("gateway.requests") = gw.attempts.get / np
      out.layers("gateway.texts_per_request") = gw.texts.get.toDouble / math.max(1L, ok)
      out.layers("gateway.transport_s") = transportNs.get / 1e9 / np
      out.layers("gateway.server_busy_s") = gw.busyNs.get / 1e9 / np
      out.layers("gateway.server_idle_s") = (ctx.cores * passes.sum - gw.busyNs.get / 1e9) / np
      out.layers("gateway.concurrency_peak") = gw.peak.get
      out.layers("gateway.retries") = gw.failures.get / np
      out.layers("gateway.useful_ratio") = ok.toDouble / math.max(1L, gw.attempts.get)
      out.layers("gateway.chunks_per_s") = n / Stats.median(plain)
      plain
    } finally gw.stop()
  }
}
