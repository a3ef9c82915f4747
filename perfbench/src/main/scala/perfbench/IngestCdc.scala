package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{IngestJob, Ledger}
import graft.sources.VectorStore

/** `ingest_cdc`: the corpus is fully refreshed in set-up, then one
  * client runs incremental rounds in a closed loop. Each round lands a
  * seeded change set (~2% updated, ~0.5% new), runs
  * `IngestJob.incremental`, then `IngestJob.deleteFiles` on ~0.5%.
  * A round embeds few chunks, so fixed per-job cost, the CDC diff,
  * partition-scoped rewrites and metadata reads dominate it. */
object IngestCdc {
  val CorpusFiles = 200
  val CorpusWords = 40000
  /** `load_dt` cycles over this many dates, bounding the partition count. */
  val Window = 3

  private def loadDt(round: Int): String = f"2024-02-${1 + round % Window}%02d"

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val pool = Harness.wordPool(spark, ctx.tables)
    val initial = Corpus.initial(ctx.seed, CorpusFiles, CorpusWords)
    out.report("corpus_digest") = Corpus.digest(ctx.seed, initial, pool)

    // set-up, three times: land the corpus and load it with a full refresh
    var base: Path = null
    val fullS = mutable.ArrayBuffer.empty[Double]
    (0 until 3).foreach { k =>
      val dir = ctx.dir(s"cdc$k")
      out.setups += Harness.seconds {
        val landing = Harness.land(ctx.dir(s"cdc$k/landing"), ctx.seed, initial, pool)
        fullS += Harness.seconds(IngestJob.fullRefresh(spark, Harness.listing(spark, landing),
          dir.resolve("ledger").toString, dir.resolve("store").toString, loadDt(0)))._2
      }._2
      if (base != null) Harness.deleteTree(base)
      base = dir
    }
    val landing = base.resolve("landing")
    val storeDir = base.resolve("store")
    val store = storeDir.toString
    val ledger = base.resolve("ledger").toString
    if (ctx.traced) {
      // the full-refresh layers (set-up's work) and the production
      // embedding path, over the initial corpus
      IngestFull.prefixes(ctx, out, landing, Stats.median(fullS.toSeq))
      EmbedGateway.leg(ctx, out, EmbedGateway.chunkText(ctx, landing), 0, 2)
    }
    Harness.phase("setup")

    var live = initial
    var next = CorpusFiles
    val incr = mutable.ArrayBuffer.empty[Double]
    val dels = mutable.ArrayBuffer.empty[Double]
    val partsRewritten = mutable.ArrayBuffer.empty[Double]
    val writeAmp = mutable.ArrayBuffer.empty[Double]
    val changedRatio = mutable.ArrayBuffer.empty[Double]
    val diffS = mutable.ArrayBuffer.empty[Double]

    // traced runs alternate traced and plain rounds after the first
    // (overhead); only plain rounds are end-to-end samples
    val rounds = mutable.ArrayBuffer.empty[Double] // incremental + deleteFiles
    Harness.loop(ctx.seconds, 3) { i =>
      val round = i + 1
      val span = ctx.traced && i % 2 == 1
      def sp[A](name: String)(f: => A): A = if (span) t.span(name)(f) else f
      val c = Corpus.change(ctx.seed, round, live, next)
      next += c.added.size
      (c.updated ++ c.added).foreach(e => Corpus.land(landing, ctx.seed, e, pool))
      val before = if (span) Harness.partitionFiles(storeDir) else Map.empty[String, Map[String, Long]]
      if (span) {
        val (n, s) = Harness.seconds(t.span("ledger.diff")(
          Ledger.newAndUpdated(Harness.listing(spark, landing), Ledger.read(spark, ledger)).count()))
        diffS += s
        changedRatio += n.toDouble / (live.size + c.added.size)
      }
      val (_, si) = Harness.seconds(out.attempt("incremental")(sp("ingest.incremental")(
        IngestJob.incremental(spark, sp("landing.list")(Harness.listing(spark, landing)),
          ledger, store, loadDt(round))))(r => r.filesProcessed == c.updated.size + c.added.size))
      c.deleted.foreach(e => Files.delete(landing.resolve(e.name)))
      val (_, sd) = Harness.seconds(out.attempt("deleteFiles")(sp("ingest.deleteFiles")(
        IngestJob.deleteFiles(spark, c.deleted.map(_.name).toDF("name"), ledger, store)))(_ => true))
      live = Corpus.applyChange(live, c)
      rounds += si + sd
      if (span) {
        val after = Harness.partitionFiles(storeDir)
        val touched = after.keySet.union(before.keySet).filter(p => after.get(p) != before.get(p))
        partsRewritten += touched.size
        // bytes of the data files the round wrote, over the raw bytes of
        // the rows it upserted (the changed files' chunks)
        val written = after.toSeq.flatMap { case (p, fs) =>
          fs.collect { case (f, b) if !before.get(p).exists(_.contains(f)) => b } }.sum
        val incoming = Harness.rowBytes(VectorStore.read(spark, store)
          .filter(col("name").isin((c.updated ++ c.added).map(_.name): _*)))
        if (incoming > 0) writeAmp += written.toDouble / incoming
      } else if (i > 0) { incr += si; dels += sd }
    }
    // the first round warms the CDC path: counted and checked, not a sample
    val plain = rounds.indices.filter(i => i > 0 && (!ctx.traced || i % 2 == 0)).map(rounds).toSeq
    out.ops ++= plain
    Harness.phase("measured")

    check(ctx, out, live, landing, store, ledger)
    val (files, bytes) = Harness.dataFiles(storeDir)
    val rows = VectorStore.read(spark, store).count()
    out.report("full_refresh_s") = Stats.median(fullS.toSeq)
    out.report("cdc_round_p50_s") = Stats.median(plain)
    out.tail("cdc_round_tail_s", plain)
    out.report("incremental_p50_s") = Stats.median(incr.toSeq)
    out.report("delete_p50_s") = Stats.median(dels.toSeq)
    out.report("store_bytes_per_chunk") = bytes.toDouble / math.max(1L, rows)
    out.layers("store.files") = files
    out.layers("store.bytes") = bytes.toDouble
    out.layers("landing.files_listed") = live.size

    if (ctx.traced) {
      val traced = rounds.indices.filter(_ % 2 == 1).map(rounds)
      val n = traced.size.toDouble
      def entry(span: String, prefix: String): (Int, Double) =
        t.named(span).map(s => t.inclusive(s).entry(prefix))
          .foldLeft((0, 0.0)) { case ((a, b), (c, d)) => (a + c, b + d) }
      val roundSpans = t.named("ingest.incremental") ++ t.named("ingest.deleteFiles")
      out.layers("landing.list_s") = Stats.median(t.named("landing.list").map(_.seconds))
      out.layers("ledger.diff_s") = Stats.median(diffS.toSeq)
      out.layers("ledger.changed_ratio") = Stats.median(changedRatio.toSeq)
      out.layers("ledger.write_s") = (entry("ingest.incremental", "ledger.write")._2 +
        entry("ingest.deleteFiles", "ledger.write")._2) / n
      out.layers("store.upsert_s") = entry("ingest.incremental", "store.upsert")._2 / n
      out.layers("store.jobs_per_upsert") = entry("ingest.incremental", "store.upsert")._1 / n
      out.layers("store.delete_s") = (entry("ingest.incremental", "store.deleteWhere")._2 +
        entry("ingest.deleteFiles", "store.deleteWhere")._2) / n
      out.layers("store.partitions_rewritten") = Stats.median(partsRewritten.toSeq)
      if (writeAmp.nonEmpty) out.layers("store.write_amp") = Stats.median(writeAmp.toSeq)
      out.layers("ingest.jobs_per_round") = roundSpans.map(s => t.inclusive(s).jobs).sum / n
      out.layers("trace.cdc_overhead_s") = Stats.median(traced) - Stats.median(plain)
    }
  }

  /** The final store equals a fresh full refresh of the final listing
    * (as a multiset of chunk_id, name, index, text and vector hashes),
    * which itself passes the full-refresh store checks; the ledger
    * equals the final listing. */
  private def check(ctx: Ctx, out: Outcome, live: Seq[Corpus.Entry], landing: Path,
      store: String, ledger: String): Unit = {
    import ctx.spark
    val fresh = ctx.dir("cdc-check")
    val report = IngestJob.fullRefresh(spark, Harness.listing(spark, landing),
      fresh.resolve("ledger").toString, fresh.resolve("store").toString, loadDt(0))
    IngestFull.checkStore(ctx, out, live, landing, fresh.resolve("store").toString, report.chunksUpserted)
    def keyed(df: DataFrame): DataFrame = df.select(col("chunk_id"), col("name"), col("index"),
      sha2(col("text"), 256).as("text_h"), xxhash64(col("vector")).as("vec_h"))
    val a = keyed(VectorStore.read(spark, store))
    val b = keyed(VectorStore.read(spark, fresh.resolve("store").toString))
    out.check("store = fresh full refresh")(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    val led = Ledger.read(spark, ledger).select(col("name"), col("last_modified").cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.check("ledger = final listing")(led == live.map(e => e.name -> e.mtimeS).toMap)
    Harness.deleteTree(fresh)
  }
}
