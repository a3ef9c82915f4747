package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.pipeline.IngestJob
import graft.sources.VectorStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end CDC scenario for the reference's top-level driver loop
  * (data_ingestion.py): full refresh → incremental with one updated +
  * one new file (only those reprocessed; superseded chunks dropped) →
  * file delete. The store and ledger live in temp dirs; bytes are real
  * txt/html so the parse dispatch runs its actual decoders.
  */
class IngestSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def filesDf(rows: Seq[(String, String, Timestamp, Array[Byte])]): DataFrame = {
    import spark.implicits._
    rows.toDF("name", "url", "last_modified", "content")
  }

  private val t0 = ts("2023-01-01 00:00:00")
  private val t1 = ts("2023-02-01 00:00:00")

  private def initial = filesDf(Seq(
    ("a.txt", "http://x.io/a.txt", t0,
      "alpha beta gamma delta epsilon zeta eta theta".getBytes("UTF-8")),
    ("b.html", "http://x.io/b.html", t0,
      "<html><body><p>one two three four five six</p></body></html>".getBytes("UTF-8")),
    ("c.txt", "http://x.io/c.txt", t0,
      ("lorem ipsum " * 30).trim.getBytes("UTF-8"))))

  test("full refresh → incremental update/new → delete") {
    val dir = Files.createTempDirectory("ingest").toFile.getAbsolutePath
    val ledger = s"$dir/ledger"
    val store = s"$dir/store"

    val r1 = IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    assert(r1.filesProcessed == 3)
    val s1 = VectorStore.read(spark, store)
    // the report's chunk count is an observe() metric collected during
    // the write — it must equal the store truth without re-scanning it
    assert(r1.chunksUpserted == s1.count() && r1.chunksUpserted > 0)
    assert(s1.select("name").distinct().count() == 3)
    // the reference's 11-column chunk/vector schema, exactly
    assert(s1.columns.sorted.toSeq == Seq("chunk_id", "index", "load_dt",
      "modified_dt", "n_tokens", "name", "source", "text", "title", "url", "vector"))
    val cChunksBefore = s1.filter(col("name") === "c.txt").count()
    assert(cChunksBefore > 1, "c.txt must split into several chunks")

    // c.txt shrinks to one chunk (update), d.txt appears (new),
    // a/b untouched
    val second = filesDf(Seq(
      ("a.txt", "http://x.io/a.txt", t0,
        "alpha beta gamma delta epsilon zeta eta theta".getBytes("UTF-8")),
      ("b.html", "http://x.io/b.html", t0,
        "<html><body><p>one two three four five six</p></body></html>".getBytes("UTF-8")),
      ("c.txt", "http://x.io/c.txt", t1, "short now".getBytes("UTF-8")),
      ("d.txt", "http://x.io/d.txt", t1, "fresh file content here".getBytes("UTF-8"))))
    val aChunkIds = VectorStore.read(spark, store)
      .filter(col("name") === "a.txt").select("chunk_id").collect().map(_.getString(0)).toSet

    val r2 = IngestJob.incremental(spark, second, ledger, store, "2023-02-01")
    assert(r2.filesIn == 4)
    assert(r2.filesProcessed == 2, "only c (updated) and d (new) reprocess")
    val s2 = VectorStore.read(spark, store)
    // superseded c chunks are gone — no orphans from the shrink
    assert(s2.filter(col("name") === "c.txt").count() == 1)
    assert(s2.filter(col("name") === "d.txt").count() >= 1)
    // untouched files keep their rows (and keys) verbatim
    assert(s2.filter(col("name") === "a.txt").select("chunk_id")
      .collect().map(_.getString(0)).toSet == aChunkIds)
    // updated rows carry the new load_dt partition
    assert(s2.filter(col("name") === "c.txt")
      .select(col("load_dt").cast("string")).head().getString(0) == "2023-02-01")
    // ledger reflects the post-run listing
    assert(graft.pipeline.Ledger.read(spark, ledger).count() == 4)

    // repeating the same incremental is a no-op (CDC sees no changes)
    val r3 = IngestJob.incremental(spark, second, ledger, store, "2023-03-01")
    assert(r3.filesProcessed == 0 && r3.chunksUpserted == 0)
    assert(VectorStore.read(spark, store).count() == s2.count())

    import spark.implicits._
    IngestJob.deleteFiles(spark, Seq("c.txt").toDF("name"), ledger, store)
    val s4 = VectorStore.read(spark, store)
    assert(s4.filter(col("name") === "c.txt").count() == 0)
    assert(s4.filter(col("name") === "a.txt").count() > 0)
    assert(graft.pipeline.Ledger.read(spark, ledger).count() == 3)
  }

  test("streaming incremental ingest lands on the same store state as the batch run") {
    val dir = Files.createTempDirectory("ingest_stream").toFile.getAbsolutePath
    val ledger = s"$dir/ledger"
    val store = s"$dir/store"
    IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    val before = VectorStore.read(spark, store)
    val aChunks = before.filter(col("name") === "a.txt").count()

    // land the delta (one update, one new) as a file-source stream,
    // carrying the optional source column the batch faces pass through
    val deltaDir = Files.createTempDirectory("landing").toFile.getAbsolutePath
    val delta = filesDf(Seq(
      ("c.txt", "http://x.io/c.txt", t1, "short now".getBytes("UTF-8")),
      ("d.txt", "http://x.io/d.txt", t1, "fresh file content here".getBytes("UTF-8"))))
      .withColumn("source", lit("sp"))
    delta.coalesce(1).write.mode("append").parquet(deltaDir)
    val stream = spark.readStream.schema(delta.schema).parquet(deltaDir)
    IngestJob.incrementalStream(stream, ledger, store, "2023-02-01",
      s"$dir/ck-${System.nanoTime()}")

    val after = VectorStore.read(spark, store)
    assert(after.filter(col("name") === "c.txt").count() == 1, "update applied")
    assert(after.filter(col("name") === "d.txt").count() >= 1, "new file landed")
    assert(after.filter(col("name") === "d.txt").select("source").head().getString(0) == "sp",
      "streamed ingest must keep the source column, not blank it")
    assert(after.filter(col("name") === "a.txt").count() == aChunks, "untouched file intact")
    // unchanged ledger rows survive the per-batch overwrite
    assert(graft.pipeline.Ledger.read(spark, ledger).count() == 4)
  }

  private def leftovers(store: String): Seq[String] =
    Seq(".staging", ".old").map(store + _).filter(new java.io.File(_).exists())

  private def partFiles(store: String, dt: String): Set[(String, Long)] =
    new java.io.File(store, s"load_dt=$dt").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => (f.getName, f.length)).toSet

  test("an update that yields no chunks still drops every old chunk of that file") {
    val dir = Files.createTempDirectory("ingest_empty").toFile.getAbsolutePath
    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    val aChunks = VectorStore.read(spark, store).filter(col("name") === "a.txt").count()
    def updateC(content: org.apache.spark.sql.Column, at: Timestamp) =
      initial.withColumn("last_modified",
          when(col("name") === "c.txt", lit(at)).otherwise(col("last_modified")))
        .withColumn("content", when(col("name") === "c.txt", content).otherwise(col("content")))
    def cTexts() = VectorStore.read(spark, store).filter(col("name") === "c.txt")
      .select("text").collect().map(_.getString(0)).toSeq

    // empty text: the word chunker yields one empty chunk, and no old one survives
    val r1 = IngestJob.incremental(spark, updateC(lit(Array.emptyByteArray), t1),
      ledger, store, "2023-02-01")
    assert(r1.filesProcessed == 1 && r1.chunksUpserted == 1)
    assert(cTexts() == Seq(""))
    // no content at all: zero new chunks, and the superseded set (taken
    // from the diff, not from the new chunks) still drops the old one
    val r2 = IngestJob.incremental(spark, updateC(lit(null).cast("binary"),
      ts("2023-03-01 00:00:00")), ledger, store, "2023-03-01")
    assert(r2.filesProcessed == 1 && r2.chunksUpserted == 0)
    assert(cTexts().isEmpty)
    assert(VectorStore.read(spark, store).filter(col("name") === "a.txt").count() == aChunks)
  }

  test("CDC calls swap only touched partitions and leave no staging or old sibling") {
    val dir = Files.createTempDirectory("ingest_swap").toFile.getAbsolutePath
    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    val jan = partFiles(store, "2023-01-01")
    def landed(d: (Timestamp, String)) = initial.unionByName(
      filesDf(Seq(("d.txt", "http://x.io/d.txt", d._1, d._2.getBytes("UTF-8")))))
    // d.txt new: only 02-01 is written
    IngestJob.incremental(spark, landed(t1 -> "fresh file"), ledger, store, "2023-02-01")
    assert(leftovers(store).isEmpty)
    assert(partFiles(store, "2023-01-01") == jan, "untouched partition was rewritten")
    // d.txt updated: only 02-01 (its old chunks) and 03-01 (its new ones) swap
    IngestJob.incremental(spark, landed(ts("2023-03-01 00:00:00") -> "newer words"),
      ledger, store, "2023-03-01")
    assert(leftovers(store).isEmpty)
    assert(partFiles(store, "2023-01-01") == jan, "untouched partition was rewritten")
    assert(!new java.io.File(store, "load_dt=2023-02-01").exists(),
      "a partition left with no rows is swapped out")
    assert(VectorStore.read(spark, store).filter(col("name") === "d.txt")
      .select(col("text")).collect().map(_.getString(0)).toSeq == Seq("newer words"))
    import spark.implicits._
    IngestJob.deleteFiles(spark, Seq("d.txt").toDF("name"), ledger, store)
    assert(leftovers(store).isEmpty)
    assert(partFiles(store, "2023-01-01") == jan, "untouched partition was rewritten")
    val s = VectorStore.read(spark, store)
    assert(s.filter(col("name") === "d.txt").count() == 0)
    assert(s.select("name").distinct().count() == 3)
  }

  /** Spark jobs run by `f`, counted by job group. A job in a second
    * group marks when the listener has seen them all: the bus delivers
    * events in order. */
  private def jobsOf(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-of-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet(): Unit
          case Some(g) if g == s"$group-end" => drained.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("job budget: an incremental refresh rewrites its partitions in one pass") {
    val dir = Files.createTempDirectory("ingest_jobs").toFile.getAbsolutePath
    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    val changed = initial.withColumn("last_modified",
        when(col("name") === "c.txt", lit(t1)).otherwise(col("last_modified")))
      .withColumn("content",
        when(col("name") === "c.txt", lit("short now".getBytes("UTF-8"))).otherwise(col("content")))
    val n = jobsOf(IngestJob.incremental(spark, changed, ledger, store, "2023-02-01"))
    assert(n <= 12, s"incremental ran $n Spark jobs")
  }

  test("unsupported file types are filtered before parsing") {
    val files = filesDf(Seq(
      ("ok.txt", "u", t0, "plain text".getBytes("UTF-8")),
      ("skip.bin", "u", t0, Array[Byte](0, 1, 2))))
    val v = IngestJob.prepareVectorData(files, "2023-01-01")
    assert(v.select("name").distinct().collect().map(_.getString(0)).toSeq == Seq("ok.txt"))
  }
}
