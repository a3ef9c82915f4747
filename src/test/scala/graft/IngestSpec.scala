package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.pipeline.{IngestJob, Ledger}
import graft.sources.{TimeTravel, VectorStore}
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

  /** Entries beside the store dir: a staged swap would leave some. */
  private def leftovers(store: String): Seq[String] = {
    val f = new java.io.File(store)
    f.getParentFile.listFiles().map(_.getName).filterNot(Set(f.getName, "ledger")).toSeq
  }

  /** The store's dirs under `kind` (`data` or `dv`). */
  private def dirs(store: String, kind: String): Set[String] =
    Option(new java.io.File(store, kind).list()).toSet.flatten

  /** (data dir, file name, size) of every data file in the store. */
  private def dataFiles(store: String): Set[(String, String, Long)] =
    dirs(store, "data").flatMap(d => new java.io.File(s"$store/data/$d").listFiles()
      .filter(_.getName.startsWith("part-")).map(f => (d, f.getName, f.length)))

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

  test("a CDC round keeps every data file, adds one data and one DV dir, leaves no sibling") {
    val dir = Files.createTempDirectory("ingest_swap").toFile.getAbsolutePath
    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    def landed(d: (Timestamp, String)) = initial.unionByName(
      filesDf(Seq(("d.txt", "http://x.io/d.txt", d._1, d._2.getBytes("UTF-8")))))
    /** Run `f`; assert it kept every data file and added `data`/`dv` dirs. */
    def commit(data: Int, dv: Int)(f: => Unit): Unit = {
      val (files, d0, v0) = (dataFiles(store), dirs(store, "data"), dirs(store, "dv"))
      f
      assert(files.subsetOf(dataFiles(store)), "an existing data file was rewritten")
      assert((dirs(store, "data") -- d0).size == data && (dirs(store, "dv") -- v0).size == dv)
      assert(leftovers(store).isEmpty, leftovers(store))
    }
    // d.txt new
    commit(data = 1, dv = 1)(
      IngestJob.incremental(spark, landed(t1 -> "fresh file"), ledger, store, "2023-02-01"))
    // d.txt updated: its old chunks tombstoned, its new ones added, together
    commit(data = 1, dv = 1)(IngestJob.incremental(spark,
      landed(ts("2023-03-01 00:00:00") -> "newer words"), ledger, store, "2023-03-01"))
    assert(VectorStore.read(spark, store).filter(col("name") === "d.txt")
      .select(col("text")).collect().map(_.getString(0)).toSeq == Seq("newer words"))
    import spark.implicits._
    commit(data = 0, dv = 1)(
      IngestJob.deleteFiles(spark, Seq("d.txt").toDF("name"), ledger, store))
    val s = VectorStore.read(spark, store)
    assert(s.filter(col("name") === "d.txt").count() == 0)
    assert(s.select("name").distinct().count() == 3)
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
    import spark.implicits._
    val d = jobsOf(IngestJob.deleteFiles(spark, Seq("c.txt").toDF("name"), ledger, store))
    assert(n <= 8, s"incremental ran $n Spark jobs")
    assert(d <= 5, s"deleteFiles ran $d Spark jobs")
  }

  test("a CDC upsert broadcasts the changed keys: its staged write shuffles no store rows") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val dir = Files.createTempDirectory("ingest_bcast").toFile.getAbsolutePath
    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    // enough files that the ledger diff's join estimate (the product of
    // its inputs) passes the broadcast threshold, as it does at scale
    val landed = initial.unionByName(filesDf((0 until 150).map(i =>
      (s"f$i.txt", s"http://x.io/f$i.txt", t0, s"file $i words".getBytes("UTF-8")))))
    IngestJob.fullRefresh(spark, landed, ledger, store, "2023-01-01")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val changed = landed.withColumn("last_modified",
        when(col("name") === "c.txt", lit(t1)).otherwise(col("last_modified")))
      IngestJob.incremental(spark, changed, ledger, store, "2023-02-01")
      // the listener bus delivers in order: the marker comes last
      spark.range(1).toDF("ingest_bcast_marker").collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!plans.toArray.exists(_.toString.contains("ingest_bcast_marker")) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val tombstones = plans.toArray.map(_.toString).filter(_.contains("store/dv/v"))
    assert(tombstones.length == 1, plans)
    assert(tombstones.head.contains("BroadcastHashJoin") &&
      !tombstones.head.contains("Exchange hashpartitioning"),
      s"the tombstone write must broadcast the changed keys:\n${tombstones.head}")
  }

  /** A directory on the staging name of the next manifest `table`
    * publishes, so that publish fails; delete it to let publishes
    * through again. */
  private def squatNextPublish(table: String): java.io.File = {
    val next = TimeTravel.versions(spark, table).lastOption.getOrElse(0L) + 1
    val squat = new java.io.File(s"$table/_versions/.v%05d.json.staging".format(next))
    assert(squat.mkdirs(), squat)
    squat
  }

  /** `df`'s rows, as a set of strings (vectors compare by value). */
  private def rowSet(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  test("a failed ledger write leaves the previous ledger readable; a plain-parquet ledger is adopted") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ingest_ledger").toFile.getAbsolutePath
    val ledger = s"$dir/ledger"
    val before = Seq(("a.txt", t0), ("b.txt", t0)).toDF("name", "last_modified")
    Ledger.write(before, ledger)
    // the UDF throws in the write's tasks, on the executors
    val boom = udf((i: Long) => { if (i >= 0) throw new IllegalStateException("injected"); i })
    val failing = spark.range(0, 2, 1, 2)
      .select(boom(col("id")).cast("string").as("name"), lit(t1).as("last_modified"))
    intercept[Exception](Ledger.write(failing, ledger))
    assert(rowSet(Ledger.read(spark, ledger)) == rowSet(before))

    // the layout the ledger had before it was versioned: plain parquet
    val legacy = s"$dir/legacy"
    before.write.parquet(legacy)
    assert(rowSet(Ledger.read(spark, legacy)) == rowSet(before), "it reads as it is")
    val grown = Seq(("c.txt", t1)).toDF("name", "last_modified")
    // the first write may read the rows it replaces
    Ledger.write(Ledger.read(spark, legacy).unionByName(grown), legacy)
    assert(rowSet(Ledger.read(spark, legacy)) == rowSet(before.unionByName(grown)))
    assert(TimeTravel.versions(spark, legacy) == Seq(1L))
    assert(!new java.io.File(legacy).list().exists(_.startsWith("part-")), "old part files must go")
  }

  test("a ledger version's write tasks follow the listing's estimated size") {
    val dir = Files.createTempDirectory("ingest_ledger_tasks").toFile.getAbsolutePath
    val listing = spark.range(0, 300, 1, 3)
      .select(col("id").cast("string").as("name"), lit(t0).as("last_modified"))
    def filesOf(path: String) = { Ledger.write(listing, path); Ledger.read(spark, path).inputFiles.length }
    assert(filesOf(s"$dir/small") == 1, "a small listing is one file")
    val key = "spark.sql.files.maxPartitionBytes"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try assert(filesOf(s"$dir/large") == 3, "a listing past the per-task bytes keeps its partitions")
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(rowSet(Ledger.read(spark, s"$dir/large")) == rowSet(listing))
  }

  test("a CDC round replayed after its store commit embeds nothing and publishes no store version") {
    val dir = Files.createTempDirectory("ingest_replay").toFile.getAbsolutePath
    val changed = initial.withColumn("last_modified",
        when(col("name") === "c.txt", lit(t1)).otherwise(col("last_modified")))
      .withColumn("content",
        when(col("name") === "c.txt", lit("short now".getBytes("UTF-8"))).otherwise(col("content")))
    // fault-free
    val (okLedger, okStore) = (s"$dir/ok/ledger", s"$dir/ok/store")
    IngestJob.fullRefresh(spark, initial, okLedger, okStore, "2023-01-01")
    IngestJob.incremental(spark, changed, okLedger, okStore, "2023-02-01")

    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    val storeVersions = TimeTravel.versions(spark, store)
    // the ledger's publish fails, after the store commit
    val squat = squatNextPublish(ledger)
    intercept[Exception](IngestJob.incremental(spark, changed, ledger, store, "2023-02-01"))
    assert(TimeTravel.versions(spark, store).size == storeVersions.size + 1, "the store committed")
    squat.delete()

    val retry = IngestJob.incremental(spark, changed, ledger, store, "2023-02-01")
    assert(retry.filesProcessed == 1 && retry.chunksUpserted == 0, retry)
    assert(TimeTravel.versions(spark, store).size == storeVersions.size + 1,
      "the retry must publish no store version")
    assert(rowSet(VectorStore.read(spark, store)) == rowSet(VectorStore.read(spark, okStore)))
    assert(rowSet(Ledger.read(spark, ledger)) == rowSet(Ledger.read(spark, okLedger)))
  }

  test("every entry point publishes the store before the ledger") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ingest_order").toFile.getAbsolutePath
    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    /** Run `f` with the ledger's next publish failing: the store
      * publishes one version, the ledger none. */
    def ledgerFails(f: => Unit): Unit = {
      val (s0, l0) = (TimeTravel.versions(spark, store), TimeTravel.versions(spark, ledger))
      val squat = squatNextPublish(ledger)
      intercept[Exception](f)
      squat.delete()
      assert(TimeTravel.versions(spark, store).size == s0.size + 1, "the store published")
      assert(TimeTravel.versions(spark, ledger) == l0, "the ledger published")
    }
    ledgerFails(IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01"))
    IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    val changed = initial.withColumn("last_modified",
      when(col("name") === "c.txt", lit(t1)).otherwise(col("last_modified")))
    ledgerFails(IngestJob.incremental(spark, changed, ledger, store, "2023-02-01"))
    ledgerFails(IngestJob.deleteFiles(spark, Seq("c.txt").toDF("name"), ledger, store))
    assert(VectorStore.read(spark, store).filter(col("name") === "c.txt").isEmpty)
    assert(Ledger.read(spark, ledger).count() == 3)
  }

  test("a failed store commit publishes no ledger version; a later round reclaims its staged dir") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ingest_store_fault").toFile.getAbsolutePath
    val changed = initial.withColumn("last_modified",
        when(col("name") === "c.txt", lit(t1)).otherwise(col("last_modified")))
      .withColumn("content",
        when(col("name") === "c.txt", lit("short now".getBytes("UTF-8"))).otherwise(col("content")))
    /** One CDC round: `landed` refreshes the store, then `gone` leaves it. */
    def round(ledger: String, store: String, landed: DataFrame, gone: String, at: String): Unit = {
      IngestJob.incremental(spark, landed, ledger, store, at)
      IngestJob.deleteFiles(spark, Seq(gone).toDF("name"), ledger, store)
    }
    // fault-free
    val (okLedger, okStore) = (s"$dir/ok/ledger", s"$dir/ok/store")
    IngestJob.fullRefresh(spark, initial, okLedger, okStore, "2023-01-01")
    round(okLedger, okStore, changed, "b.html", "2023-02-01")

    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    IngestJob.fullRefresh(spark, initial, ledger, store, "2023-01-01")
    val (ledgerVersions, ledgerDirs) = (TimeTravel.versions(spark, ledger), dirs(ledger, "data"))
    val squat = squatNextPublish(store)
    intercept[Exception](IngestJob.incremental(spark, changed, ledger, store, "2023-02-01"))
    squat.delete()
    assert(TimeTravel.versions(spark, ledger) == ledgerVersions, "the ledger published")
    val staged = dirs(ledger, "data") -- ledgerDirs
    assert(staged.size == 1, s"the ledger staged ${staged.size} dirs")
    assert(!Ledger.read(spark, ledger).inputFiles.exists(f => staged.exists(f.contains)),
      "the staged dir is listed")

    round(ledger, store, changed, "b.html", "2023-02-01")
    assert(rowSet(VectorStore.read(spark, store)) == rowSet(VectorStore.read(spark, okStore)))
    assert(rowSet(Ledger.read(spark, ledger)) == rowSet(Ledger.read(spark, okLedger)))
    // the retry published the staged dir's version; the next round's
    // first ledger write moves that version out of the kept window
    round(ledger, store, changed.filter(col("name") =!= "b.html"), "a.txt", "2023-03-01")
    assert((dirs(ledger, "data") intersect staged).isEmpty, "the staged dir is still on disk")
  }

  test("soak: over 20 CDC rounds the live dirs stay bounded and a round's jobs do not grow") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ingest_soak").toFile.getAbsolutePath
    val (ledger, store) = (s"$dir/ledger", s"$dir/store")
    var landed = initial
    IngestJob.fullRefresh(spark, landed, ledger, store, "2023-01-01")
    def onDisk(table: String): Int = dirs(table, "data").size + dirs(table, "dv").size
    /** (Spark jobs, store versions published) per round. */
    val rounds = (1 to 20).map { r =>
      val at = new Timestamp(t1.getTime + r * 1000L)
      // a.txt changes, n<r>.txt lands, and the previous round's new file leaves
      val gone = if (r == 1) "b.html" else s"n${r - 1}.txt"
      landed = landed.filter(col("name") =!= "a.txt").unionByName(filesDf(Seq(
        ("a.txt", "http://x.io/a.txt", at, s"alpha round $r".getBytes("UTF-8")),
        (s"n$r.txt", s"http://x.io/n$r.txt", at, s"new file $r words".getBytes("UTF-8")))))
        .localCheckpoint()
      val v0 = TimeTravel.versions(spark, store).size
      val jobs = jobsOf {
        IngestJob.incremental(spark, landed, ledger, store, f"2023-02-$r%02d")
        landed = landed.filter(col("name") =!= gone).localCheckpoint()
        IngestJob.deleteFiles(spark, Seq(gone).toDF("name"), ledger, store)
      }
      // Spark lists more than 32 paths with a job of its own
      assert(onDisk(store) < 32, s"round $r: the store keeps ${onDisk(store)} dirs")
      assert(onDisk(ledger) <= 3, s"round $r: the ledger keeps ${onDisk(ledger)} dirs")
      (jobs, TimeTravel.versions(spark, store).size - v0)
    }
    // a plain round publishes the upsert and the delete, and no compaction
    assert(rounds(2)._2 == 2 && rounds(19)._2 == 2, rounds)
    assert(rounds(19)._1 <= rounds(2)._1, s"(jobs, store versions) per round: $rounds")
    val fresh = s"$dir/fresh"
    IngestJob.fullRefresh(spark, landed, s"$fresh/ledger", s"$fresh/store", "2023-01-01")
    def chunks(store: String) = VectorStore.read(spark, store)
      .select("chunk_id", "name", "index", "text", "vector")
    assert(rowSet(chunks(store)) == rowSet(chunks(s"$fresh/store")))
    assert(rowSet(Ledger.read(spark, ledger)) == rowSet(Ledger.read(spark, s"$fresh/ledger")))
  }

  test("unsupported file types are filtered before parsing") {
    val files = filesDf(Seq(
      ("ok.txt", "u", t0, "plain text".getBytes("UTF-8")),
      ("skip.bin", "u", t0, Array[Byte](0, 1, 2))))
    val v = IngestJob.prepareVectorData(files, "2023-01-01")
    assert(v.select("name").distinct().collect().map(_.getString(0)).toSeq == Seq("ok.txt"))
  }
}
