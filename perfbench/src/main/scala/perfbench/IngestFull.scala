package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.functions.{Chunkers, TextFunctions => TF}
import graft.pipeline.{DocPipeline, IngestJob}
import graft.sources.{ParseOps, VectorStore}

/** `ingest_full`: `IngestJob.fullRefresh` over a seeded landed corpus.
  * Every per-row layer (parse, clean, chunk, embed, store write) runs;
  * the ledger does almost nothing. */
object IngestFull {
  val CorpusFiles = 100
  val CorpusWords = 50000
  val LoadDt = "2024-02-01"

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.spark
    val pool = Harness.wordPool(spark, ctx.tables)
    val entries = Corpus.initial(ctx.seed, CorpusFiles, CorpusWords)
    out.report("corpus_digest") = Corpus.digest(ctx.seed, entries, pool)

    // set-up, three times: land the corpus and list it
    var landing = ctx.work
    (0 until 3).foreach { k =>
      val (dir, s) = Harness.seconds {
        val d = Harness.land(ctx.dir(s"landing$k"), ctx.seed, entries, pool)
        ctx.tracer.span("landing.list")(Harness.listing(spark, d))
        d
      }
      out.setups += s
      if (k > 0) Harness.deleteTree(landing)
      landing = dir
    }
    val store = ctx.work.resolve("store").toString
    val ledger = ctx.work.resolve("ledger").toString
    def refresh(): IngestJob.RunReport =
      IngestJob.fullRefresh(spark, Harness.listing(spark, landing), ledger, store, LoadDt)

    Harness.phase("setup")
    val expected = refresh().chunksUpserted // warm-up
    Harness.phase("warm-up")
    val times = Harness.loop(ctx.seconds, 3) { _ =>
      out.attempt("fullRefresh")(refresh())(_.chunksUpserted == expected)
    }
    out.ops ++= times
    Harness.phase("measured")
    checkStore(ctx, out, entries, landing, store, expected)
    val (files, bytes) = Harness.dataFiles(ctx.work.resolve("store"))
    out.report("full_refresh_s") = Stats.median(times)
    out.report("chunks") = expected
    out.report("store_bytes_per_chunk") = bytes.toDouble / expected
    out.layers("store.files") = files
    out.layers("store.bytes") = bytes.toDouble
    out.layers("landing.files_listed") = entries.size
    if (ctx.traced) {
      prefixes(ctx, out, landing, Stats.median(times))
      out.layers("landing.list_s") = Stats.median(ctx.tracer.named("landing.list").map(_.seconds))
    }
  }

  /** Row count = observed chunks, unique chunk ids, corrupt files as one
    * stub chunk, unsupported files absent, every valid file present. */
  def checkStore(ctx: Ctx, out: Outcome, entries: Seq[Corpus.Entry],
      landing: java.nio.file.Path, store: String, expected: Long): Unit = {
    val rows = VectorStore.read(ctx.spark, store)
    val perFile = rows.groupBy("name").agg(count(lit(1)).as("n"),
      countDistinct(col("chunk_id")).as("ids"), first(col("text")).as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val landed = entries.map(e => e.name -> e).toMap
    out.check("store rows = observed chunks")(perFile.values.map(_._1).sum == expected)
    out.check("chunk_id unique")(perFile.values.forall(v => v._1 == v._2) &&
      rows.select("chunk_id").distinct().count() == expected)
    out.check("unsupported files filtered")(entries.filter(_.kind == Corpus.Unsupported)
      .forall(e => !perFile.contains(e.name)))
    out.check("corrupt files degrade to the stub")(entries.filter(_.kind == Corpus.Corrupt).forall { e =>
      val size = java.nio.file.Files.size(landing.resolve(e.name)).toInt
      perFile.get(e.name).exists(v => v._1 == 1 && v._3 == Corpus.stubText(e, size))
    })
    out.check("every valid file stored")(entries.filter(_.kind == Corpus.Valid)
      .forall(e => perFile.get(e.name).exists(_._1 >= 1)) && perFile.keySet.forall(landed.contains))
  }

  /** Traced only: materialize cumulative prefixes of the fused plan
    * through the noop sink, up to the store write. A layer's self time is
    * the difference between neighbouring prefixes, so the self times sum
    * to the store-write prefix; `ingest.self_sum_ratio` compares that sum
    * with `plainFullS`, the median untraced full refresh. What the
    * prefixes miss (the ledger write and counts in `fullRefresh`) is
    * `ingest.self_s`. A traced full refresh right after a plain one gives
    * the tracing overhead. */
  def prefixes(ctx: Ctx, out: Outcome, landing: java.nio.file.Path, plainFullS: Double): Unit = {
    import ctx.spark
    val t = ctx.tracer
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    val stub = """^\[(pdf|docx|pptx|msg|eml):\d+ bytes\]$"""
    def timed(name: String)(f: => Unit): Double = Harness.seconds(t.span(name)(f))._2

    val files = () => Harness.listing(spark, landing)
      .withColumn("file_type", TF.extExtract(col("name")))
      .filter(ParseOps.isSupported(col("file_type")))
    val parsed = () => files().withColumn("parsed", ParseOps.parseText(col("file_type"), col("content")))
    val chunked = () => parsed().withColumn("clean", TF.cleanText(col("parsed")))
      .select(col("name"), posexplode(Chunkers.chunkFixedWordsIn(spark, col("clean"),
        DocPipeline.ChunkWords, DocPipeline.OverlapFraction)).as(Seq("index", "text")))

    val scan = timed("prefix.scan")(noop(files()))
    val parse = timed("prefix.parse")(noop(parsed()))
    val pObs = new Observation()
    noop(parsed().observe(pObs, count(lit(1)).as("files"),
      sum(when(col("parsed").rlike(stub), 1).otherwise(0)).as("stubs")))
    val chunk = timed("prefix.chunk")(noop(chunked()))
    val cObs = new Observation()
    noop(chunked().observe(cObs, count(lit(1)).as("chunks")))
    val embed = timed("prefix.embed")(noop(IngestJob.prepareVectorData(Harness.listing(spark, landing), LoadDt)))
    val tmpStore = ctx.work.resolve("prefix-store").toString
    val storeW = timed("prefix.store")(VectorStore.replaceAll(spark, tmpStore,
      IngestJob.prepareVectorData(Harness.listing(spark, landing), LoadDt)))
    def fullRefresh(): Unit = IngestJob.fullRefresh(spark, Harness.listing(spark, landing),
      ctx.work.resolve("prefix-ledger").toString, tmpStore, LoadDt)
    val plain = Harness.seconds(fullRefresh())._2
    val traced = timed("ingest.fullRefresh")(fullRefresh())

    val chunks = cObs.get("chunks").asInstanceOf[Long]
    Seq("landing.scan_s" -> scan, "parse.self_s" -> (parse - scan), "chunk.self_s" -> (chunk - parse),
      "embed.self_s" -> (embed - chunk), "store.replace_s" -> (storeW - embed))
      .foreach { case (k, v) => out.layers(k) = v }
    out.layers("parse.files") = pObs.get("files").asInstanceOf[Long].toDouble
    out.layers("parse.stub_fallbacks") = pObs.get("stubs").asInstanceOf[Long].toDouble
    out.layers("chunk.chunks") = chunks.toDouble
    out.layers("embed.vectors_per_s") = chunks / math.max(1e-9, embed - chunk)
    out.layers("ingest.self_s") = plainFullS - storeW
    out.layers("ingest.self_sum_ratio") = storeW / plainFullS
    out.layers("trace.overhead_s") = traced - plain
  }
}
