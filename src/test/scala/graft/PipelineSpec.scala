package graft

import java.nio.file.Files

import graft.functions.{Embedders, HtmlFunctions}
import graft.pipeline.{BatchedEmbedder, DocPipeline, HttpEmbedBackend, Ledger}
import graft.sources.VectorStore
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private def docs = Tables(spark, sf, "documents")

  test("BatchedEmbedder (mapPartitions) ≡ Catalyst deterministic embedder") {
    val sample = docs.limit(20).select(col("doc_id"), col("text"))
    val viaExpr = sample
      .select(col("doc_id"), Embedders.deterministicEmbed(col("text"), 8).as("embedding"))
    val viaBatch = BatchedEmbedder.embed(
      sample, "text", batchSize = 7,
      () => new BatchedEmbedder.DeterministicBackend(8))
      .select(col("doc_id"), col("embedding"))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    assert(dump(viaExpr) == dump(viaBatch))
  }

  test("vector store: create, upsert (replace-by-key), delete") {
    val dir = Files.createTempDirectory("vstore").toFile
    val path = s"${dir.getAbsolutePath}/store"
    val v1 = DocPipeline.vectors(docs.limit(10), dim = 8)
    VectorStore.upsert(spark, path, v1)
    val n1 = VectorStore.read(spark, path).count()
    assert(n1 > 0)

    // re-upserting the same rows must not duplicate
    VectorStore.upsert(spark, path, v1)
    assert(VectorStore.read(spark, path).count() == n1)

    // delete one document's chunks
    val delKeys = v1.filter(col("doc_id") === 0).select("chunk_id")
    val nDel = delKeys.count()
    VectorStore.deleteWhere(spark, path, delKeys, "chunk_id")
    assert(VectorStore.read(spark, path).count() == n1 - nDel)
  }

  test("retrying backend: exponential backoff, bounded attempts, same output") {
    import BatchedEmbedder._
    def flaky(failures: Int): (EmbedBackend, () => Int) = {
      var calls = 0
      val b = new EmbedBackend {
        val real = new DeterministicBackend(4)
        override def embedBatch(texts: Seq[String]): Seq[Array[Double]] = {
          calls += 1
          if (calls <= failures) throw new java.io.IOException(s"flake $calls")
          real.embedBatch(texts)
        }
      }
      (b, () => calls)
    }

    // transient flakes: retried on the expo schedule, output unchanged
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val (b1, calls1) = flaky(failures = 2)
    val retrying = new RetryingBackend(b1, maxRetries = 5, baseDelayMs = 100L,
      sleep = sleeps += _)
    val got = retrying.embedBatch(Seq("a", "b"))
    val want = new DeterministicBackend(4).embedBatch(Seq("a", "b"))
    assert(got.map(_.toSeq) == want.map(_.toSeq))
    assert(calls1() == 3)
    assert(sleeps.toSeq == Seq(100L, 200L))

    // permanent failure: attempts bounded, last error propagates
    val (b2, calls2) = flaky(failures = Int.MaxValue)
    val bounded = new RetryingBackend(b2, maxRetries = 3, baseDelayMs = 1L, sleep = _ => ())
    val e = intercept[java.io.IOException](bounded.embedBatch(Seq("x")))
    assert(e.getMessage == "flake 4")
    assert(calls2() == 4)

    // non-transient errors are not retried
    val boom = new EmbedBackend {
      override def embedBatch(texts: Seq[String]): Seq[Array[Double]] =
        throw new IllegalArgumentException("bad input")
    }
    intercept[IllegalArgumentException](
      new RetryingBackend(boom, sleep = _ => ()).embedBatch(Seq("x")))
  }

  test("vector store: load_dt-partitioned upsert touches only affected partitions") {
    val dir = Files.createTempDirectory("vstorep").toFile
    val path = s"${dir.getAbsolutePath}/store"
    import spark.implicits._
    def rows(ids: Seq[Int], dt: String, v: String) =
      ids.map(i => (s"c$i", v, java.sql.Date.valueOf(dt)))
        .toDF("chunk_id", "payload", "load_dt")

    VectorStore.upsert(spark, path,
      rows(1 to 10, "2023-01-01", "a").unionByName(rows(11 to 20, "2023-02-01", "a")))
    assert(VectorStore.read(spark, path).count() == 20)

    val jan = new java.io.File(path, "load_dt=2023-01-01")
    def files(f: java.io.File): Set[(String, Long)] =
      f.listFiles().filter(_.getName.startsWith("part-"))
        .map(x => (x.getName, x.length)).toSet
    val janBefore = files(jan)

    // replace 5 keys inside the Feb partition: Jan's files must be untouched
    VectorStore.upsert(spark, path, rows(11 to 15, "2023-02-01", "b"))
    val s1 = VectorStore.read(spark, path)
    assert(s1.count() == 20)
    assert(s1.filter(col("payload") === "b").count() == 5)
    assert(files(jan) == janBefore, "untouched partition was rewritten")
    assert(leftovers(path).isEmpty)

    // a key re-ingested under a new load_dt moves partitions, no duplicate
    VectorStore.upsert(spark, path, rows(Seq(1), "2023-03-01", "c"))
    val s2 = VectorStore.read(spark, path)
    assert(s2.count() == 20)
    assert(s2.filter(col("chunk_id") === "c1").count() == 1)
    assert(s2.filter(col("chunk_id") === "c1")
      .select(col("load_dt").cast("string")).head().getString(0) == "2023-03-01")

    // deleting every Feb key drops the partition directory entirely
    VectorStore.deleteWhere(spark, path,
      (11 to 20).map(i => s"c$i").toDF("chunk_id"), "chunk_id")
    assert(VectorStore.read(spark, path).count() == 10)
    assert(!new java.io.File(path, "load_dt=2023-02-01").exists())
    assert(leftovers(path).isEmpty)

    // a superseded key set drops matching rows in the same rewrite
    val janNow = files(jan)
    VectorStore.upsert(spark, path, rows(Seq(30), "2023-03-01", "d"),
      superseded = Some(Seq("c").toDF("payload")))
    val s3 = VectorStore.read(spark, path)
    assert(s3.select("chunk_id").collect().map(_.getString(0)).toSet ==
      (2 to 10).map(i => s"c$i").toSet + "c30")
    assert(files(jan) == janNow, "untouched partition was rewritten")
    assert(leftovers(path).isEmpty)
  }

  private def leftovers(path: String): Seq[String] =
    Seq(".staging", ".old").map(path + _).filter(new java.io.File(_).exists())

  /** (partition dir, file name, size) of every data file in the store. */
  private def storeFiles(path: String): Set[(String, String, Long)] =
    new java.io.File(path).listFiles().filter(_.getName.startsWith("load_dt=")).toSet
      .flatMap((p: java.io.File) => p.listFiles().filter(_.getName.startsWith("part-"))
        .map(f => (p.getName, f.getName, f.length)))

  test("vector store: a failed staging write leaves every partition as it was") {
    val path = Files.createTempDirectory("vstore_fail").toFile.getAbsolutePath + "/store"
    VectorStore.upsert(spark, path,
      dtRows(1 to 10, "2023-01-01", "a").unionByName(dtRows(11 to 20, "2023-02-01", "a")))
    val before = storeFiles(path)
    val rowsBefore = VectorStore.read(spark, path).collect().map(_.toString).toSet
    // the payload fails only when the staging write's tasks compute it
    // (the repartition keeps the optimizer from folding it into a local relation)
    val bad = dtRows(Seq(1, 11, 30), "2023-03-01", "x").repartition(2)
      .withColumn("payload", raise_error(lit("staging write fails")).cast("string"))
    def failing(f: => Unit) =
      assert(intercept[Exception](f).getMessage.contains("staging write fails"))
    failing(VectorStore.upsert(spark, path, bad))
    failing(VectorStore.upsert(spark, path, bad,
      superseded = Some(dtRows(Seq(2), "2023-01-01", "a").select("chunk_id"))))
    assert(storeFiles(path) == before)
    assert(VectorStore.read(spark, path).collect().map(_.toString).toSet == rowsBefore)
    assert(leftovers(path).isEmpty)
  }

  test("vector store: a partition left in .old by an interrupted swap is restored first") {
    val path = Files.createTempDirectory("vstore_crash").toFile.getAbsolutePath + "/store"
    VectorStore.upsert(spark, path,
      dtRows(1 to 10, "2023-01-01", "a").unionByName(dtRows(11 to 20, "2023-02-01", "a")))
    // a swap that stopped between its two renames: Feb moved out, not back in
    new java.io.File(path + ".old").mkdirs()
    assert(new java.io.File(path, "load_dt=2023-02-01")
      .renameTo(new java.io.File(path + ".old", "load_dt=2023-02-01")))
    // the next upsert replaces a Feb key: it must see Feb, not duplicate c11
    VectorStore.upsert(spark, path, dtRows(Seq(11), "2023-03-01", "b"))
    val s = VectorStore.read(spark, path)
    assert(s.count() == 20)
    assert(s.filter(col("chunk_id") === "c11").select("payload")
      .collect().map(_.getString(0)).toSeq == Seq("b"))
    assert(leftovers(path).isEmpty)
  }

  test("vector store: legacy unpartitioned store migrates when incoming has load_dt") {
    val dir = Files.createTempDirectory("vstorem").toFile
    val path = s"${dir.getAbsolutePath}/store"
    import spark.implicits._
    // legacy layout: no load_dt column at all
    Seq(("c1", "old"), ("c2", "old"), ("c3", "old"))
      .toDF("chunk_id", "payload")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)

    // incoming carries load_dt: upsert must migrate, not throw, and not
    // drop the incoming dates (ADVICE r2: partitionBy on a missing column)
    val incoming = Seq(("c2", "new", java.sql.Date.valueOf("2023-05-01")),
      ("c4", "new", java.sql.Date.valueOf("2023-05-01")))
      .toDF("chunk_id", "payload", "load_dt")
    VectorStore.upsert(spark, path, incoming)

    val store = VectorStore.read(spark, path)
    assert(store.count() == 4)
    assert(store.columns.contains("load_dt"))
    assert(store.filter(col("chunk_id") === "c2").select("payload").head().getString(0) == "new")
    // incoming rows keep their dates; legacy survivors land in the null partition
    assert(store.filter(col("load_dt").cast("string") === "2023-05-01").count() == 2)
    assert(store.filter(col("load_dt").isNull).count() == 2)
    // the store is hive-partitioned from here on: the next upsert takes the
    // partition-scoped path and only touches affected partitions
    assert(new java.io.File(path, "load_dt=2023-05-01").exists())
    VectorStore.upsert(spark, path,
      Seq(("c5", "newer", java.sql.Date.valueOf("2023-06-01")))
        .toDF("chunk_id", "payload", "load_dt"))
    assert(VectorStore.read(spark, path).count() == 5)
    assert(new java.io.File(path, "load_dt=2023-06-01").exists())
  }

  test("batched sink flushes per batch, one client per partition") {
    val acc = spark.sparkContext.collectionAccumulator[Int]("batches")
    VectorStore.foreachBatched(docs.limit(25).repartition(2), batchSize = 10)(
      () => "client")((_, batch) => acc.add(batch.size))(_ => ())
    val sizes = acc.value
    import scala.jdk.CollectionConverters._
    assert(sizes.asScala.map(_.toInt).sum == 25)
    assert(sizes.asScala.forall(_ <= 10))
  }

  test("ledger CDC golden scenario: only new/updated flow on rerun") {
    val dir = Files.createTempDirectory("ledger").toFile
    val path = s"${dir.getAbsolutePath}/ledger"
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2023-01-01 00:00:00")
    val t1 = java.sql.Timestamp.valueOf("2023-02-01 00:00:00")
    val state = Seq(("a.txt", t0), ("b.txt", t0)).toDF("name", "last_modified")
    Ledger.write(state, path)

    val current = Seq(("a.txt", t0), ("b.txt", t1), ("c.txt", t1))
      .toDF("name", "last_modified")
    val changed = Ledger.newAndUpdated(current, Ledger.read(spark, path))
      .select("name", "change_type").as[(String, String)].collect().toMap
    assert(changed == Map("b.txt" -> "updated", "c.txt" -> "new"))

    // post-run overwrite; rerun with identical listing -> empty delta
    Ledger.write(current, path)
    assert(Ledger.newAndUpdated(current, Ledger.read(spark, path)).isEmpty)
  }

  test("html_to_text: style dropped, anchors resolved, nested tags") {
    assert(HtmlFunctions.htmlToText(
      """<style>p{}</style><div><p>Hello <b>world</b></p><a href="http://x.io/a">link</a></div>""")
      == "Hello world link (http://x.io/a)")
    assert(HtmlFunctions.htmlToText("""<a href="kb/7">rel</a>""")
      == "rel (https://example.com/kb/7)")
    assert(HtmlFunctions.htmlToText(
      "<table><tr><th>A</th><th>B</th></tr><tr><td>1</td><td>2</td></tr></table>")
      == "Table: \nA | B\n1 | 2\n Table ends here")
  }

  private def dtRows(ids: Seq[Int], dt: String, v: String) = {
    import spark.implicits._
    ids.map(i => (s"c$i", v, java.sql.Date.valueOf(dt)))
      .toDF("chunk_id", "payload", "load_dt")
  }

  test("compact coalesces oversized partitions, preserves rows, skips tidy ones") {
    val path = Files.createTempDirectory("vstore_compact").toFile.getAbsolutePath + "/store"
    // 6 files in the 01-01 partition, 1 file in 06-01
    graft.sources.VectorStore.upsert(spark, path,
      dtRows(1 to 12, "2023-01-01", "a").repartition(6)
        .unionByName(dtRows(13 to 14, "2023-06-01", "b").coalesce(1)))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def files(part: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(path, s"load_dt=$part"))
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_")
          && !st.getPath.getName.startsWith("."))
    assert(files("2023-01-01").length > 1, "fixture must start fragmented")
    val janStamp = files("2023-06-01").map(_.getPath.getName).toSet
    val before = graft.sources.VectorStore.read(spark, path)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // huge target → every partition wants exactly one file
    graft.sources.VectorStore.compact(spark, path)
    assert(files("2023-01-01").length == 1, "fragmented partition must compact to one file")
    assert(files("2023-06-01").map(_.getPath.getName).toSet == janStamp,
      "already-compact partition must not be rewritten")
    val after = graft.sources.VectorStore.read(spark, path)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(after == before, "compaction must not change the row set")
  }

  test("retention drops only partitions strictly before the cutoff; null partition survives") {
    import graft.sources.VectorStore
    val path = Files.createTempDirectory("vstore_ttl").toFile.getAbsolutePath + "/store"
    VectorStore.upsert(spark, path,
      dtRows(1 to 3, "2023-01-01", "old")
        .unionByName(dtRows(4 to 6, "2023-03-01", "mid"))
        .unionByName(dtRows(7 to 9, "2023-06-01", "new")))
    // migrate a legacy row into the null partition via an unpartitioned seed
    import spark.implicits._
    VectorStore.upsert(spark, path,
      Seq(("c99", "legacy", null.asInstanceOf[java.sql.Date]))
        .toDF("chunk_id", "payload", "load_dt"))
    val dropped = VectorStore.dropPartitionsBefore(spark, path, "2023-03-01")
    assert(dropped == 1, "exactly the 2023-01-01 partition is older than the cutoff")
    val left = VectorStore.read(spark, path).select("chunk_id").collect()
      .map(_.getString(0)).toSet
    assert(left == Set("c4", "c5", "c6", "c7", "c8", "c9", "c99"),
      "cutoff-day and newer rows plus the ageless null partition survive")
    // idempotent: nothing older remains
    assert(VectorStore.dropPartitionsBefore(spark, path, "2023-03-01") == 0)
    intercept[IllegalArgumentException] {
      VectorStore.dropPartitionsBefore(spark, path, "03/01/2023")
    }
  }

  test("retention on an unpartitioned store falls back to a filter rewrite") {
    import graft.sources.VectorStore
    import spark.implicits._
    val path = Files.createTempDirectory("vstore_ttl_flat").toFile.getAbsolutePath + "/store"
    // unpartitioned layout: single write without hive dirs but WITH the column
    Seq(("a", "x", java.sql.Date.valueOf("2023-01-01")),
      ("b", "y", java.sql.Date.valueOf("2023-06-01")),
      ("c", "z", null.asInstanceOf[java.sql.Date]))
      .toDF("chunk_id", "payload", "load_dt")
      .write.mode("overwrite").parquet(path)
    assert(VectorStore.dropPartitionsBefore(spark, path, "2023-03-01") == 0)
    val left = VectorStore.read(spark, path).select("chunk_id").collect()
      .map(_.getString(0)).toSet
    assert(left == Set("b", "c"), "old row rewritten away; null load_dt kept")
  }

  test("compact and upsert keep the null (legacy-migrated) partition's rows") {
    // migrated legacy rows live in load_dt=__HIVE_DEFAULT_PARTITION__
    // with NULL values; '=' / isin comparisons silently skip nulls, so
    // partition matching must go through a null-safe token or a
    // 'layout maintenance' compact() deletes the whole legacy partition
    val path = Files.createTempDirectory("vstore_null").toFile.getAbsolutePath + "/store"
    import spark.implicits._
    (1 to 8).map(i => (s"L$i", "legacy")).toDF("chunk_id", "payload")
      .repartition(4)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    VectorStore.upsert(spark, path, dtRows(1 to 2, "2023-05-01", "n")) // migrates
    assert(VectorStore.read(spark, path).filter(col("load_dt").isNull).count() == 8)

    // force fragmentation: land one more file straight into the null dir
    Seq(("L9", "legacy")).toDF("chunk_id", "payload").coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .parquet(s"$path/load_dt=__HIVE_DEFAULT_PARTITION__")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def nullFiles() = fs.listStatus(
      new org.apache.hadoop.fs.Path(path, "load_dt=__HIVE_DEFAULT_PARTITION__"))
      .count(st => st.isFile && !st.getPath.getName.startsWith("_")
        && !st.getPath.getName.startsWith("."))
    assert(nullFiles() > 1, "fixture must start fragmented")
    VectorStore.compact(spark, path)
    val store = VectorStore.read(spark, path)
    assert(store.filter(col("load_dt").isNull).count() == 9,
      "compact must rewrite, not delete, the null partition")
    assert(nullFiles() == 1, "null partition must actually compact")

    // keyed upsert against a legacy row must replace it, not duplicate it
    VectorStore.upsert(spark, path,
      Seq(("L3", "replaced", java.sql.Date.valueOf("2023-07-01")))
        .toDF("chunk_id", "payload", "load_dt"))
    val l3 = VectorStore.read(spark, path).filter(col("chunk_id") === "L3")
    assert(l3.count() == 1, "null-partition key must not survive alongside its replacement")
    assert(l3.select("payload").head().getString(0) == "replaced")
  }

  test("v2 catalog table: append=upsert, SQL delete, overwrite=replace, partition-scoped") {
    val dir = Files.createTempDirectory("vstorev2").toFile
    val path = s"${dir.getAbsolutePath}/store"
    // seed a partitioned store, then register it as a catalog table
    VectorStore.upsert(spark, path,
      dtRows(1 to 10, "2023-01-01", "a").unionByName(dtRows(11 to 20, "2023-02-01", "a")))
    spark.sql("DROP TABLE IF EXISTS graft_store")
    spark.sql(s"CREATE TABLE graft_store USING `graft-store` OPTIONS (path '$path')")
    try {
      assert(spark.table("graft_store").count() == 20)
      // the catalog read path is the native parquet scan: load_dt
      // predicates prune partitions instead of filtering rows
      val pruned = spark.table("graft_store")
        .filter(col("load_dt") === java.sql.Date.valueOf("2023-01-01"))
      assert(pruned.count() == 10)
      assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(load_dt"),
        "load_dt predicate must reach the scan's partition filters")

      val jan = new java.io.File(path, "load_dt=2023-01-01")
      def files(f: java.io.File): Set[(String, Long)] =
        f.listFiles().filter(_.getName.startsWith("part-"))
          .map(x => (x.getName, x.length)).toSet
      val janBefore = files(jan)

      // V2 append IS upsert: 5 replaced Feb keys, no duplicates, Jan untouched
      dtRows(11 to 15, "2023-02-01", "b").writeTo("graft_store").append()
      val s1 = spark.table("graft_store")
      assert(s1.count() == 20)
      assert(s1.filter(col("payload") === "b").count() == 5)
      assert(files(jan) == janBefore, "untouched partition was rewritten through the V2 path")

      // SQL DELETE drives the partition-scoped anti-join rewrite
      spark.sql("DELETE FROM graft_store WHERE chunk_id IN " +
        (11 to 20).map(i => s"'c$i'").mkString("(", ",", ")"))
      assert(spark.table("graft_store").count() == 10)
      assert(!new java.io.File(path, "load_dt=2023-02-01").exists(),
        "emptied partition must be dropped")

      // overwrite(true) = TRUNCATE capability = full replace
      dtRows(30 to 32, "2023-07-01", "z").writeTo("graft_store").overwrite(lit(true))
      assert(spark.table("graft_store").count() == 3)
      assert(spark.table("graft_store").select("chunk_id").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet == Set("c30", "c31", "c32"))
    } finally spark.sql("DROP TABLE IF EXISTS graft_store")
  }

  test("v2 catalog table: legacy unpartitioned store migrates on first append") {
    val dir = Files.createTempDirectory("vstorev2m").toFile
    val path = s"${dir.getAbsolutePath}/store"
    // legacy layout: load_dt present as a plain column, no partition dirs
    dtRows(1 to 3, "2023-01-01", "old")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
    spark.sql("DROP TABLE IF EXISTS graft_store_m")
    spark.sql(s"CREATE TABLE graft_store_m USING `graft-store` OPTIONS (path '$path')")
    try {
      dtRows(Seq(2, 4), "2023-06-01", "new").writeTo("graft_store_m").append()
      val store = spark.table("graft_store_m")
      assert(store.count() == 4)
      assert(store.filter(col("payload") === "new").count() == 2)
      assert(new java.io.File(path, "load_dt=2023-06-01").exists(),
        "store must be hive-partitioned after the migrating upsert")
    } finally spark.sql("DROP TABLE IF EXISTS graft_store_m")
  }

  private def okBody(dims: Seq[Seq[Double]]): String =
    dims.zipWithIndex.map { case (e, i) =>
      s"""{"index": $i, "embedding": [${e.mkString(", ")}]}"""
    }.mkString("""{"data": [""", ", ", "]}")

  test("http backend: one batched POST, ordered payload, newline strip, header passthrough") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Map[String, String], String)]
    val transport: HttpEmbedBackend.Transport = (u, h, b) => {
      calls += ((u, h, b))
      (200, okBody(Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))))
    }
    val be = new HttpEmbedBackend("https://example.com/azure/engines/e/embeddings",
      Map("Ocp-Apim-Subscription-Key" -> "k"), transport)
    val out = be.embedBatch(Seq("a\nb", "c"))
    assert(calls.size == 1, "one POST per batch, not per text")
    val (url, headers, body) = calls.head
    assert(url.endsWith("/embeddings") && headers("Ocp-Apim-Subscription-Key") == "k")
    assert(body == """{"input": ["a b", "c"], "user": null}""",
      "texts must arrive in order with newlines stripped")
    assert(out.map(_.toSeq) == Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
    assert(be.embedBatch(Nil).isEmpty && calls.size == 1, "empty batch makes no call")
  }

  test("http backend + retrying backend: 500s back off then succeed, order preserved") {
    var attempt = 0
    val transport: HttpEmbedBackend.Transport = (_, _, _) => {
      attempt += 1
      if (attempt <= 2) (500, "boom")
      else (200, okBody(Seq(Seq(7.0))))
    }
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val be = new BatchedEmbedder.RetryingBackend(
      new HttpEmbedBackend("https://example.com/e", Map.empty, transport),
      maxRetries = 5, baseDelayMs = 100L, sleep = sleeps += _)
    assert(be.embedBatch(Seq("x")).head.toSeq == Seq(7.0))
    assert(attempt == 3, "two failures then success")
    assert(sleeps.toSeq == Seq(100L, 200L), "exponential schedule")
  }

  test("http backend: out-of-order data[] entries reorder by index; bad index sets throw") {
    // a gateway may return data[] in any order — the index field, not
    // document order, decides which vector belongs to which text
    val shuffled =
      """{"data": [{"index": 1, "embedding": [3.0, 4.0]}, {"index": 0, "embedding": [1.0, 2.0]}]}"""
    val be = new HttpEmbedBackend("https://example.com/e", Map.empty, (_, _, _) => (200, shuffled))
    assert(be.embedBatch(Seq("a", "b")).map(_.toSeq) == Seq(Seq(1.0, 2.0), Seq(3.0, 4.0)))
    // index after the embedding array within the entry still counts
    val trailing =
      """{"data": [{"embedding": [3.0], "index": 1}, {"embedding": [1.0], "index": 0}]}"""
    val be2 = new HttpEmbedBackend("https://example.com/e", Map.empty, (_, _, _) => (200, trailing))
    assert(be2.embedBatch(Seq("a", "b")).map(_.toSeq) == Seq(Seq(1.0), Seq(3.0)))
    // no index fields at all (non-OpenAI gateway) → document order
    val plain = """{"data": [{"embedding": [1.0]}, {"embedding": [2.0]}]}"""
    val be3 = new HttpEmbedBackend("https://example.com/e", Map.empty, (_, _, _) => (200, plain))
    assert(be3.embedBatch(Seq("a", "b")).map(_.toSeq) == Seq(Seq(1.0), Seq(2.0)))
    // duplicate index = not a permutation → hard failure, never misassignment
    val dup = """{"data": [{"index": 0, "embedding": [1.0]}, {"index": 0, "embedding": [2.0]}]}"""
    val be4 = new HttpEmbedBackend("https://example.com/e", Map.empty, (_, _, _) => (200, dup))
    intercept[java.io.IOException] { be4.embedBatch(Seq("a", "b")) }
  }

  test("http backend: count mismatch is a transport failure, not silent truncation") {
    val transport: HttpEmbedBackend.Transport = (_, _, _) => (200, okBody(Seq(Seq(1.0))))
    val be = new HttpEmbedBackend("https://example.com/e", Map.empty, transport)
    intercept[java.io.IOException] { be.embedBatch(Seq("a", "b")) }
  }

  test("time travel: snapshot isolation, rollback-as-new-version, vacuum keeps live files") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttravel").toFile.getAbsolutePath + "/t"
    def table(range: Range) = range.map(i => (i.toLong, s"row-$i")).toDF("id", "payload")

    val v1 = TimeTravel.commitOverwrite(table(0 until 10), dir)
    val v2 = TimeTravel.commitAppend(table(10 until 15), dir)
    val v3 = TimeTravel.commitOverwrite(table(100 until 102), dir)
    assert((v1, v2, v3) == (1L, 2L, 3L))

    // isolation: every snapshot keeps exactly its own row set
    def ids(v: Long) = TimeTravel.read(spark, dir, Some(v))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(v1) == (0L until 10L))
    assert(ids(v2) == (0L until 15L))
    assert(ids(v3) == Seq(100L, 101L))
    // latest = v3
    assert(TimeTravel.read(spark, dir).count() == 2)

    // rollback re-publishes v2's listing as v4 — history intact
    val v4 = TimeTravel.rollback(spark, dir, v2)
    assert(ids(v4) == (0L until 15L) && ids(v3) == Seq(100L, 101L))
    assert(TimeTravel.versions(spark, dir) == Seq(1L, 2L, 3L, 4L))

    // no staging debris: the atomic-rename publish leaves only manifests
    // (plus Hadoop's dot-hidden .crc checksum sidecars on local FS)
    val manifests = new java.io.File(s"$dir/_versions").listFiles().map(_.getName)
      .filterNot(_.startsWith("."))
    assert(manifests.forall(n => n.matches("v\\d{5}\\.json")), manifests.mkString(","))
    assert(!manifests.exists(_.contains("staging")))

    // vacuum keeping only the latest version (v4 → dirs v1+v2) drops
    // exactly v3's directory; v4 still reads intact, v3 is now gone
    val dropped = TimeTravel.vacuum(spark, dir, keepVersions = 1)
    assert(dropped == Seq("data/v00003"))
    assert(ids(v4) == (0L until 15L))
    intercept[Exception](TimeTravel.read(spark, dir, Some(v3)).count())

    // OPTIMIZE compacts the live multi-dir snapshot into one new
    // version with an identical row set; vacuum then reclaims the rest
    val v5 = TimeTravel.optimize(spark, dir)
    assert(v5 == 5L && ids(v5) == (0L until 15L))
    val dropped2 = TimeTravel.vacuum(spark, dir, keepVersions = 1)
    assert(dropped2 == Seq("data/v00001", "data/v00002"))
    assert(ids(v5) == (0L until 15L))
    // an already-compact table is a no-op, not a fresh version
    assert(TimeTravel.optimize(spark, dir) == v5)

    // a corrupted manifest must FAIL the read loudly, never resolve to
    // an empty table (the silent-shrink failure mode round 6 taught us)
    val mf = new java.io.File(s"$dir/_versions/v00005.json")
    Files.write(mf.toPath, "{\"version\":5,\"garbage\":true}".getBytes)
    new java.io.File(s"$dir/_versions/.v00005.json.crc").delete() // stale checksum
    val ex = intercept[java.io.IOException](TimeTravel.read(spark, dir, Some(v5)).count())
    assert(ex.getMessage.contains("corrupt manifest"))
  }

  test("purge destroys rows from EVERY version — no time-traveled copy survives") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttpurge").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      Seq((1L, "keep"), (2L, "secret"), (3L, "keep")).toDF("id", "payload"), dir)
    TimeTravel.commitAppend(Seq((4L, "secret-too")).toDF("id", "payload"), dir)
    val v = TimeTravel.purge(spark, dir, col("payload").startsWith("secret"))
    // live snapshot: only the kept rows
    val ids = TimeTravel.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 3L))
    // history is truncated at the purge: only the purge version remains,
    // and no file anywhere under the table still holds the purged bytes
    assert(TimeTravel.versions(spark, dir) == Seq(v))
    def grepTree(f: java.io.File): Boolean =
      if (f.isDirectory) f.listFiles().exists(grepTree)
      else {
        val bytes = Files.readAllBytes(f.toPath)
        new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1).contains("secret")
      }
    assert(!grepTree(new java.io.File(dir)), "purged payload bytes still on disk")
  }

  test("expectation-gated commit reports per-rule counts and loses no rows") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val base = Files.createTempDirectory("ttexpect").toFile.getAbsolutePath
    val rows = Seq((1L, 10L), (2L, -5L), (3L, 0L), (22L, 7L), (33L, -1L))
      .toDF("id", "score")
    val rep = TimeTravel.commitAppendExpect(rows, s"$base/main", s"$base/q", Map(
      "positive" -> (col("score") > 0L),
      "id_rule" -> (col("id") % 11 =!= 0)))
    // 1(ok) 2(neg) 3(zero) 22(id) 33(id+neg)
    assert(rep.admitted == 1L)
    assert(rep.quarantined == Map("positive" -> 3L, "id_rule" -> 2L))
    assert(TimeTravel.read(spark, s"$base/main").count() == 1)
    val q = TimeTravel.read(spark, s"$base/q")
      .select("id", "_violated").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(q == Map(2L -> "positive", 3L -> "positive",
      22L -> "id_rule", 33L -> "id_rule,positive"))
  }

  test("time travel schema evolution: widened append, frozen old snapshots") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttevolve").toFile.getAbsolutePath + "/t"
    val v1 = TimeTravel.commitOverwrite(
      Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir)
    TimeTravel.commitAppend(
      Seq((3L, "c", 30L)).toDF("id", "payload", "score"), dir)
    // merged read: the widened column exists, narrow history reads null
    val merged = TimeTravel.read(spark, dir, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "payload", "score"))
    assert(merged.filter(col("score").isNull).count() == 2)
    assert(merged.filter(col("score") === 30L).count() == 1)
    // the old snapshot's schema is FROZEN: v1 never grows the column
    assert(TimeTravel.read(spark, dir, Some(v1), mergeSchema = true)
      .columns.toSet == Set("id", "payload"))
  }

  test("merge-on-read delete: tombstones compose, data files never rewritten, optimize folds") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttdv").toFile.getAbsolutePath + "/t"
    def dataDirs = {
      val root = new java.io.File(s"$dir/data")
      if (!root.exists()) Set.empty[String]
      else root.listFiles().map(_.getName).toSet
    }
    def dataMtimes = new java.io.File(s"$dir/data").listFiles()
      .flatMap(d => d.listFiles().map(f => f.getPath -> f.lastModified())).toMap
    def ids = TimeTravel.read(spark, dir).select("id")
      .collect().map(_.getLong(0)).sorted.toSeq

    val v1 = TimeTravel.commitOverwrite(
      (0L until 10L).map(i => (i, s"row-$i")).toDF("id", "payload"), dir)
    val before = (dataDirs, dataMtimes)

    // delete = new DV dir only: same data dirs, same bytes untouched
    val v2 = TimeTravel.deleteMoR(spark, dir, col("id") < 3L)
    assert(ids == (3L until 10L))
    assert((dataDirs, dataMtimes) == before, "a MoR delete must not touch data files")
    assert(new java.io.File(s"$dir/dv").listFiles().map(_.getName).toSeq == Seq("v00002"))
    // pre-delete snapshot still complete
    assert(TimeTravel.read(spark, dir, Some(v1)).count() == 10)

    // tombstones carry across an append; a second delete composes
    TimeTravel.commitAppend((10L until 15L).map(i => (i, s"row-$i")).toDF("id", "payload"), dir)
    assert(ids == (3L until 15L))
    TimeTravel.deleteMoR(spark, dir, col("id") % 2 === 0)
    assert(ids == Seq(3L, 5L, 7L, 9L, 11L, 13L))
    // re-deleting already-dead rows: a no-op tombstone set, not double entries
    TimeTravel.deleteMoR(spark, dir, col("id") % 2 === 0)
    assert(ids == Seq(3L, 5L, 7L, 9L, 11L, 13L))

    // optimize folds DVs into a compacted rewrite; vacuum reclaims them
    val vOpt = TimeTravel.optimize(spark, dir)
    assert(ids == Seq(3L, 5L, 7L, 9L, 11L, 13L))
    TimeTravel.vacuum(spark, dir, keepVersions = 1)
    assert(!new java.io.File(s"$dir/dv").exists() ||
      new java.io.File(s"$dir/dv").listFiles().isEmpty,
      "vacuum must reclaim deletion-vector dirs no kept version references")
    // post-fold the table is compact: optimize is now a no-op
    assert(TimeTravel.optimize(spark, dir) == vOpt)
    assert(ids == Seq(3L, 5L, 7L, 9L, 11L, 13L))
  }

  test("change feed: insert/delete/update classification, unchanged rows dropped") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttcdf").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("id", "payload"), dir)
    TimeTravel.commitOverwrite(
      Seq((2L, "B"), (3L, "c"), (4L, "d"), (7L, "g")).toDF("id", "payload"), dir)
    val feed = TimeTravel.changeFeed(spark, dir, "id", 1L, 2L)
      .select("id", "payload", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed == Set(
      (1L, "a", "delete"),
      (2L, "b", "update_preimage"),
      (2L, "B", "update_postimage"),
      (7L, "g", "insert")), s"got $feed")
  }

  test("change feed across schema evolution: added column reads null on the preimage side") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttcdfevo").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir)
    TimeTravel.commitOverwrite(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "payload", "score"), dir)
    val feed = TimeTravel.changeFeed(spark, dir, "id", 1L, 2L)
    assert(feed.columns.toSet == Set("id", "payload", "score", "_change_type"))
    // every row "changed" (score went null→value); preimages carry null
    assert(feed.filter(col("_change_type") === "update_preimage")
      .filter(col("score").isNull).count() == 2)
    assert(feed.filter(col("_change_type") === "update_postimage")
      .filter(col("score").isNotNull).count() == 2)
  }

  test("readAppendsSince: O(new data) delta for append-only history, loud on divergence") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttinc").toFile.getAbsolutePath + "/t"
    val v1 = TimeTravel.commitOverwrite(Seq((1L, "a")).toDF("id", "payload"), dir)
    TimeTravel.commitAppend(Seq((2L, "b")).toDF("id", "payload"), dir)
    TimeTravel.commitAppend(Seq((3L, "c")).toDF("id", "payload"), dir)
    val delta = TimeTravel.readAppendsSince(spark, dir, v1)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(delta == Seq(2L, 3L))
    // caught up: empty delta
    val v3 = TimeTravel.versions(spark, dir).last
    assert(TimeTravel.readAppendsSince(spark, dir, v3).isEmpty)
    // a MoR delete keeps all dirs but changes the row set → loud failure
    TimeTravel.deleteMoR(spark, dir, col("id") === 2L)
    intercept[IllegalStateException] { TimeTravel.readAppendsSince(spark, dir, v1) }
    // an overwrite drops dirs the old snapshot saw → loud failure
    TimeTravel.commitOverwrite(Seq((9L, "z")).toDF("id", "payload"), dir)
    intercept[IllegalStateException] { TimeTravel.readAppendsSince(spark, dir, v1) }
  }

  test("concurrent commit conflict: the losing writer fails loudly, never replaces") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttconflict").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(Seq((1L, "a")).toDF("id", "payload"), dir)
    // a racing writer already published v2; a loser that computed v=2
    // from a stale latest must throw at publish, not overwrite the
    // winner's manifest (the race window the public API can't
    // interleave — driven through the publish step directly)
    val winner = new java.io.File(s"$dir/_versions/v00002.json")
    java.nio.file.Files.writeString(winner.toPath,
      """{"version":2,"dirs":["data/v00001"]}""")
    val before = java.nio.file.Files.readString(winner.toPath)
    intercept[java.io.IOException] {
      TimeTravel.publish(spark, dir, 2L, Seq("data/v00001", "data/v00002"))
    }
    assert(java.nio.file.Files.readString(winner.toPath) == before,
      "the winner's manifest must survive byte-identical")
    // the conflicted table still reads and commits normally afterwards
    assert(TimeTravel.read(spark, dir).count() == 1)
    assert(TimeTravel.commitAppend(Seq((2L, "b")).toDF("id", "payload"), dir) == 3L)
  }

  test("conflict retry: concurrent appends both land, each as its own version") {
    import graft.sources.{CommitConflictException, TimeTravel}
    import spark.implicits._
    val dir = Files.createTempDirectory("ttretry_app").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(Seq((1L, "seed")).toDF("id", "payload"), dir)
    var calls = 0
    val v = TimeTravel.withConflictRetry(spark, dir, rowLevel = false) {
      calls += 1
      if (calls == 1) {
        // the racing writer wins the rename between our read and publish
        TimeTravel.commitAppend(Seq((2L, "racer")).toDF("id", "payload"), dir)
        throw new CommitConflictException("simulated: stale publish lost the race")
      }
      TimeTravel.commitAppend(Seq((3L, "mine")).toDF("id", "payload"), dir)
    }
    assert(calls == 2 && v == 3L, "loser retried once from a fresh latest")
    assert(TimeTravel.read(spark, dir).select("id").as[Long].collect().toSet
      == Set(1L, 2L, 3L), "both writers' rows landed")
  }

  test("conflict retry: row-level op retries past appends, fails loudly on a rewrite") {
    import graft.sources.{CommitConflictException, TimeTravel}
    import spark.implicits._
    // appends intervening → the delete re-runs against the fresh snapshot
    val dir = Files.createTempDirectory("ttretry_rl").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite((1L to 10L).map(i => (i, s"p$i")).toDF("id", "payload"), dir)
    var calls = 0
    val v = TimeTravel.withConflictRetry(spark, dir, rowLevel = true) {
      calls += 1
      if (calls == 1) {
        TimeTravel.commitAppend(Seq((11L, "racer")).toDF("id", "payload"), dir)
        throw new CommitConflictException("simulated")
      }
      TimeTravel.deleteMoR(spark, dir, col("id") > 9L)
    }
    assert(calls == 2 && v == 3L)
    // the retried predicate saw the racer's row too — serialized AFTER it
    assert(TimeTravel.read(spark, dir).select("id").as[Long].collect().toSet
      == (1L to 9L).toSet)

    // a rewrite intervening → loud failure, no retry
    val dir2 = Files.createTempDirectory("ttretry_rw").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite((1L to 5L).map(i => (i, s"p$i")).toDF("id", "payload"), dir2)
    val e = intercept[IllegalStateException] {
      TimeTravel.withConflictRetry(spark, dir2, rowLevel = true) {
        TimeTravel.commitOverwrite(Seq((99L, "winner")).toDF("id", "payload"), dir2)
        throw new CommitConflictException("simulated")
      }
    }
    assert(e.getMessage.contains("rewrite"), e.getMessage)
  }

  test("conflict retry is bounded: sustained contention gives up loudly") {
    import graft.sources.{CommitConflictException, TimeTravel}
    import spark.implicits._
    val dir = Files.createTempDirectory("ttretry_cap").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(Seq((1L, "seed")).toDF("id", "payload"), dir)
    var calls = 0
    val e = intercept[java.io.IOException] {
      TimeTravel.withConflictRetry(spark, dir, rowLevel = false, maxRetries = 2) {
        calls += 1
        throw new CommitConflictException("always losing")
      }
    }
    assert(calls == 3 && e.getMessage.contains("after 2 retries"))
    assert(e.getCause.isInstanceOf[CommitConflictException])
  }

  test("commit classification fuzz: random op sequences match the op-semantics model") {
    import graft.sources.TimeTravel
    import TimeTravel.{Append, CommitKind, Rewrite, RowLevel, SchemaChange}
    import spark.implicits._
    // the model tracks WHAT EACH OP DOES to the directory/DV/column-map
    // state (its published semantics) and derives the expected class
    // from the same decision rule — the implementation must read
    // identical facts back out of the real manifests; note a rollback
    // restoring an identical listing is correctly APPEND-safe (nothing
    // to conflict with), and one restoring a prior MAPPING across an
    // unchanged listing is a SchemaChange (r11: DDL commits classify
    // explicitly)
    for (seed <- Seq(7L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"ttclass_fuzz_$seed").toFile.getAbsolutePath + "/t"
      var nextId = 100L
      var payloadName = "payload"
      def fresh(n: Int) = {
        val r = (nextId until nextId + n).map(i => (i, s"p$i")); nextId += n
        r.toDF("id", payloadName)
      }
      var tag = 0
      def freshTag() = { tag += 1; tag }
      TimeTravel.commitOverwrite(fresh(10), dir)
      var dirs = Set(freshTag()); var dvs = Set.empty[Int]
      val snaps = scala.collection.mutable.ArrayBuffer((dirs, dvs, payloadName))
      def kindOf(pd: Set[Int], pv: Set[Int], pc: String,
          nd: Set[Int], nv: Set[Int], nc: String): CommitKind =
        if (pd.exists(!nd.contains(_))) Rewrite
        else if (nv != pv) RowLevel
        else if (nc != pc) SchemaChange
        else Append
      val expected = scala.collection.mutable.ArrayBuffer[CommitKind](Append)
      (1 to 12).foreach { _ =>
        val (pd, pv, pc) = (dirs, dvs, payloadName)
        rnd.nextInt(6) match {
          case 0 =>
            TimeTravel.commitAppend(fresh(3), dir); dirs = dirs + freshTag()
          case 1 =>
            val anyId = TimeTravel.read(spark, dir)
              .select(min(col("id"))).head.getLong(0)
            TimeTravel.deleteMoR(spark, dir, col("id") === anyId)
            dvs = dvs + freshTag()
          case 2 =>
            val anyId = TimeTravel.read(spark, dir)
              .select(max(col("id"))).head.getLong(0)
            TimeTravel.replaceWhere(spark, dir, col("id") === anyId,
              Seq((anyId, "replaced")).toDF("id", payloadName))
            dirs = dirs + freshTag(); dvs = dvs + freshTag()
          case 3 =>
            TimeTravel.commitOverwrite(fresh(5), dir)
            dirs = Set(freshTag()); dvs = Set.empty
          case 4 =>
            val vs = TimeTravel.versions(spark, dir)
            val target = vs(rnd.nextInt(vs.size)).toInt
            TimeTravel.rollback(spark, dir, target.toLong)
            val (td, tv, tc) = snaps(target - 1)
            dirs = td; dvs = tv; payloadName = tc
          case 5 =>
            // DDL: rename the payload column (metadata-only commit)
            val next = s"payload_${freshTag()}"
            TimeTravel.renameColumn(spark, dir, payloadName, next)
            payloadName = next
        }
        expected += kindOf(pd, pv, pc, dirs, dvs, payloadName)
        snaps += ((dirs, dvs, payloadName))
      }
      val got = TimeTravel.versions(spark, dir)
        .map(v => TimeTravel.classifyCommit(spark, dir, v))
      assert(got == expected.toSeq,
        s"seed $seed: classifier ${got.mkString(",")} vs model ${expected.mkString(",")}")
    }
  }

  test("conflict retry × DDL: appends retry across a rename; a row-level op racing " +
      "the drop of its own column fails loudly") {
    import graft.sources.TimeTravel
    import spark.implicits._
    // append racing a rename: the retried attempt re-reads the latest
    // snapshot (now mapped) and must land cleanly with the NEW name
    val dir = Files.createTempDirectory("ttddl_race1").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (1L to 10L).map(i => (i, i * 10)).toDF("k", "bal"), dir) // v1
    val v2 = TimeTravel.renameColumn(spark, dir, "bal", "balance") // v2 (the "winner")
    assert(TimeTravel.classifyCommit(spark, dir, v2) == TimeTravel.SchemaChange)
    val v3 = TimeTravel.commitAppendRetrying(
      Seq((11L, 110L)).toDF("k", "balance"), dir)
    assert(v3 == 3L && TimeTravel.read(spark, dir).count() == 11)
    // row-level racing a rename of an UNRELATED column: retried attempt
    // re-resolves and succeeds (serialized after the DDL)
    val v4 = TimeTravel.deleteMoRRetrying(spark, dir, col("k") === 1L)
    assert(v4 == 4L && TimeTravel.read(spark, dir).count() == 10)
    // row-level whose OWN column was dropped: resolution against the
    // post-DDL schema fails loudly — never a silent wrong-row delete
    val dir2 = Files.createTempDirectory("ttddl_race2").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (1L to 5L).map(i => (i, s"n$i", i)).toDF("k", "nm", "flag"), dir2) // v1
    TimeTravel.dropColumn(spark, dir2, "flag") // v2: the winner dropped it
    val e = intercept[Exception](
      TimeTravel.deleteMoRRetrying(spark, dir2, col("flag") === 1L))
    assert(e.getMessage != null &&
      (e.getMessage.contains("flag") || e.getMessage.contains("UNRESOLVED")),
      e.getMessage)
    // the table is untouched by the failed attempt
    assert(TimeTravel.read(spark, dir2).count() == 5)
    assert(TimeTravel.versions(spark, dir2).last == 2L)
  }

  test("commit classification: append vs row-level vs rewrite") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttclass").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir) // v1
    TimeTravel.commitAppend(Seq((3L, "c")).toDF("id", "payload"), dir)               // v2
    TimeTravel.deleteMoR(spark, dir, col("id") === 1L)                               // v3
    TimeTravel.replaceWhere(spark, dir, col("id") === 2L,
      Seq((2L, "B")).toDF("id", "payload"))                                          // v4
    TimeTravel.commitOverwrite(Seq((9L, "z")).toDF("id", "payload"), dir)            // v5
    import TimeTravel.{Append, RowLevel, Rewrite}
    assert((1L to 5L).map(TimeTravel.classifyCommit(spark, dir, _))
      == Seq(Append, Append, RowLevel, RowLevel, Rewrite))
  }

  test("schema evolution v2: rename is metadata-only, both eras read correctly") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttsev2_ren").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (1L to 10L).map(i => (i, s"n$i", i * 10)).toDF("k", "nm", "bal"), dir) // v1
    val v2 = TimeTravel.renameColumn(spark, dir, "bal", "balance")
    assert(v2 == 2L)
    // metadata-only: no new data directory was written
    val h = TimeTravel.history(spark, dir).filter(col("version") === 2).head
    assert(h.getInt(2) == 1 && h.getInt(3) == 0, "rename added no data dirs")
    val now = TimeTravel.read(spark, dir)
    assert(now.columns.toSeq == Seq("k", "nm", "balance"))
    assert(now.filter(col("k") === 3).head.getLong(2) == 30L)
    // the pre-rename snapshot still serves the OLD name
    val era1 = TimeTravel.read(spark, dir, Some(1L))
    assert(era1.columns.toSeq == Seq("k", "nm", "bal"))
    // appends after the rename arrive in logical shape and read back
    TimeTravel.commitAppend(
      Seq((11L, "n11", 110L)).toDF("k", "nm", "balance"), dir)
    val all = TimeTravel.read(spark, dir)
    assert(all.count() == 11 &&
      all.filter(col("k") === 11).head.getLong(2) == 110L)
    // old-era and new-era files agree under the map
    assert(all.select(sum(col("balance"))).head.getLong(0) == (1L to 11L).map(_ * 10).sum)
    // rollback across the rename restores the old schema with the listing
    TimeTravel.rollback(spark, dir, 1L)
    assert(TimeTravel.read(spark, dir).columns.toSeq == Seq("k", "nm", "bal"))
  }

  test("schema evolution v2: widen int->bigint reads both eras as the wide type") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttsev2_wid").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (1 to 5).map(i => (i, i * 100)).toDF("k", "v"), dir) // int columns
    intercept[IllegalArgumentException] {
      TimeTravel.widenColumn(spark, dir, "v", "string") // not a widening
    }
    TimeTravel.widenColumn(spark, dir, "v", "bigint")
    TimeTravel.commitAppend(
      Seq((6, 600000000000L)).toDF("k", "v"), dir) // wide value, new era
    val now = TimeTravel.read(spark, dir)
    assert(now.schema("v").dataType == org.apache.spark.sql.types.LongType)
    assert(now.select(sum(col("v"))).head.getLong(0) ==
      (1 to 5).map(_ * 100L).sum + 600000000000L)
    // pre-widen snapshot keeps its narrow type
    assert(TimeTravel.read(spark, dir, Some(1L)).schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("schema evolution v2: drop hides the column now, history still serves it") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttsev2_drop").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (1L to 5L).map(i => (i, s"n$i", i * 10)).toDF("k", "nm", "bal"), dir)
    TimeTravel.dropColumn(spark, dir, "nm")
    assert(TimeTravel.read(spark, dir).columns.toSeq == Seq("k", "bal"))
    assert(TimeTravel.read(spark, dir, Some(1L)).columns.toSeq == Seq("k", "nm", "bal"),
      "pre-drop snapshot still serves the column")
    // row-level ops keep working on the mapped table
    TimeTravel.deleteMoR(spark, dir, col("bal") >= 40L)
    assert(TimeTravel.read(spark, dir).select("k").as[Long].collect().toSet
      == Set(1L, 2L, 3L))
  }

  test("schema evolution fuzz: random op sequences match an in-memory model at every version") {
    import graft.sources.TimeTravel
    import org.apache.spark.sql.types._
    // model: per-version (columns, rows); columns are (logical,
    // physical, type), rows store values keyed by PHYSICAL name — the
    // invariant under test is exactly that reads re-key physical bytes
    // through each version's own logical map
    final case class MCol(logical: String, physical: String, t: DataType)
    for (seed <- Seq(0xE70L, 0xBEEFL, 0x5CA1EL)) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"ttsev2_fuzz_$seed").toFile.getAbsolutePath + "/t"
      var cols = Vector(MCol("a", "a", LongType), MCol("b", "b", IntegerType),
        MCol("c", "c", StringType))
      var freshId = 0
      var rows = Vector.empty[Map[String, Any]] // physical -> value
      val history = scala.collection.mutable.ArrayBuffer.empty[(Vector[MCol], Vector[Map[String, Any]])]
      def genRows(n: Int): Seq[Map[String, Any]] = (1 to n).map { _ =>
        cols.map(c => c.physical -> (c.t match {
          case LongType => rnd.nextInt(100000).toLong
          case IntegerType => rnd.nextInt(1000)
          case StringType => s"s${rnd.nextInt(999)}"
          case other => fail(s"unexpected $other")
        })).toMap
      }
      def toDf(data: Seq[Map[String, Any]]) = {
        val schema = StructType(cols.map(c => StructField(c.logical, c.t)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(data.map(m =>
            org.apache.spark.sql.Row(cols.map(c => m(c.physical)): _*)), 2), schema)
      }
      val first = genRows(5)
      TimeTravel.commitOverwrite(toDf(first), dir)
      rows = first.toVector
      history += ((cols, rows))
      (1 to 8).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 | 1 => // append
            val batch = genRows(1 + rnd.nextInt(4))
            TimeTravel.commitAppend(toDf(batch), dir)
            rows = rows ++ batch
          case 2 => // rename a random column
            val i = rnd.nextInt(cols.size)
            freshId += 1
            val to = s"r$freshId"
            TimeTravel.renameColumn(spark, dir, cols(i).logical, to)
            cols = cols.updated(i, cols(i).copy(logical = to))
          case 3 => // widen an int column, if any
            cols.zipWithIndex.find(_._1.t == IntegerType) match {
              case Some((c, i)) =>
                TimeTravel.widenColumn(spark, dir, c.logical, "bigint")
                cols = cols.updated(i, c.copy(t = LongType))
              case None =>
                val batch = genRows(1)
                TimeTravel.commitAppend(toDf(batch), dir)
                rows = rows ++ batch
            }
          case 4 => // drop (keep ≥2 so later ops have room) or rollback
            if (cols.size > 2 && rnd.nextBoolean()) {
              val i = rnd.nextInt(cols.size)
              TimeTravel.dropColumn(spark, dir, cols(i).logical)
              cols = cols.patch(i, Nil, 1)
            } else {
              val target = 1 + rnd.nextInt(history.size)
              TimeTravel.rollback(spark, dir, target.toLong)
              val (tc, tr) = history(target - 1)
              cols = tc; rows = tr
            }
        }
        history += ((cols, rows))
      }
      // every version must serve ITS OWN columns over ITS OWN rows
      history.zipWithIndex.foreach { case ((vCols, vRows), idx) =>
        val v = idx + 1L
        val got = TimeTravel.read(spark, dir, Some(v))
        assert(got.columns.toSeq == vCols.map(_.logical),
          s"seed $seed v$v columns")
        def norm(x: Any): Any = x match {
          case n: Number => n.longValue; case other => other
        }
        val gotRows = got.collect().map(_.toSeq.map(norm)).toSeq
          .sortBy(_.mkString("|"))
        val wantRows = vRows.map(r => vCols.map(c => norm(r(c.physical))))
          .sortBy(_.mkString("|"))
        assert(gotRows == wantRows, s"seed $seed v$v rows diverge from the model")
      }
    }
  }

  test("schema evolution v2: SQL face serves mapped tables via the splice; pruned read maps") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttsev2_guard").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (1L to 5L).map(i => (i, i * 10)).toDF("k", "v"), dir)
    TimeTravel.renameColumn(spark, dir, "v", "val")
    // with the extension loaded, DvApply splices the mapped library
    // read under the DSv2 relation — SELECT works, logical names served
    val viaSql = spark.read.format("graft-table").load(dir)
    assert(viaSql.columns.toSeq == Seq("k", "val"))
    assert(viaSql.select(sum(col("val"))).head.getLong(0) == (1L to 5L).map(_ * 10).sum)
    // VERSION AS OF serves each era's own names
    val era1 = spark.read.format("graft-table").option("version", "1").load(dir)
    assert(era1.columns.toSeq == Seq("k", "v"))
    // r11: the file-skipping face serves mapped tables too (probes
    // re-key through the map; no sidecars here, so every file is read
    // — the safety default — and rows come back in LOGICAL shape)
    val (pruned, st) = TimeTravel.readPruned(spark, dir, "k", 1, 3)
    assert(pruned.columns.toSeq == Seq("k", "val"))
    assert(pruned.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L))
    assert(st.filesRead == st.filesTotal, "no sidecars -> nothing skipped")
    // LayoutSpec pins the full mapped-skipping matrix (rename survival,
    // collision-proofing, DV composition)
  }

  test("schema evolution v2: OPTIMIZE folds a mapped table's eras into one dir, map intact") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttsev2_opt").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite((1 to 5).map(i => (i.toLong, i * 10)).toDF("k", "v"), dir)
    TimeTravel.renameColumn(spark, dir, "v", "val")
    TimeTravel.widenColumn(spark, dir, "val", "bigint")
    TimeTravel.commitAppend(Seq((6L, 600000000000L)).toDF("k", "val"), dir)
    val v = TimeTravel.optimize(spark, dir, targetFiles = 1)
    val h = TimeTravel.history(spark, dir).filter(col("version") === v).head
    assert(h.getInt(2) == 1, "optimize folds the mapped eras into one directory")
    val got = TimeTravel.read(spark, dir)
    assert(got.columns.toSeq == Seq("k", "val") &&
      got.schema("val").dataType == org.apache.spark.sql.types.LongType)
    assert(got.select(sum(col("val"))).head.getLong(0)
      == (1 to 5).map(_ * 10L).sum + 600000000000L)
    // the pre-optimize mapped snapshot still reads both eras
    assert(TimeTravel.read(spark, dir, Some(v - 1)).count() == 6)
  }

  test("schema evolution v2: SQL DML composes with the mapping (DELETE/UPDATE/INSERT)") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttsev2_dml").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (1L to 20L).map(i => (i, i * 10)).toDF("k", "v"), dir)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN v TO val")
    // the statements name the NEW logical column; the library ops remap
    spark.sql(s"INSERT INTO graft.`$dir` VALUES (21, 210)")
    spark.sql(s"DELETE FROM graft.`$dir` WHERE k <= 5")
    spark.sql(s"UPDATE graft.`$dir` SET val = val + 1 WHERE k = 21")
    val got = TimeTravel.read(spark, dir).orderBy("k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == ((6L to 20L).map(i => (i, i * 10)) :+ (21L, 211L)),
      s"mapped-table DML diverged: $got")
  }

  test("schema evolution v2: ALTER TABLE DDL drives the mapping commits") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttsev2_ddl").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(
      (1 to 5).map(i => (i.toLong, i * 10)).toDF("k", "v"), dir) // v int
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql(s"ALTER TABLE graft.`$dir` RENAME COLUMN v TO val")
    spark.sql(s"ALTER TABLE graft.`$dir` ALTER COLUMN val TYPE bigint")
    val now = spark.sql(s"SELECT * FROM graft.`$dir`")
    assert(now.columns.toSeq == Seq("k", "val"))
    assert(now.schema("val").dataType == org.apache.spark.sql.types.LongType)
    assert(now.agg(sum(col("val"))).head.getLong(0) == (1 to 5).map(_ * 10L).sum)
    spark.sql(s"ALTER TABLE graft.`$dir` DROP COLUMN val")
    assert(spark.sql(s"SELECT * FROM graft.`$dir`").columns.toSeq == Seq("k"))
    // pre-DDL snapshot still serves the original schema through SQL
    assert(spark.sql(s"SELECT * FROM graft.`$dir` VERSION AS OF 1")
      .columns.toSeq == Seq("k", "v"))
    // non-widening type change declines loudly
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE graft.`$dir` ALTER COLUMN k TYPE string"))
    assert(e.getMessage.contains("not lossless"), e.getMessage)
  }

  test("history face reports tags, listing sizes, added dirs and DV counts") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("tthist").toFile.getAbsolutePath + "/t"
    TimeTravel.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("id", "payload"), dir)
    TimeTravel.commitAppend(Seq((3L, "c")).toDF("id", "payload"), dir, Some("batch:7"))
    TimeTravel.deleteMoR(spark, dir, col("id") === 1L)
    TimeTravel.rollback(spark, dir, 2L)
    val h = TimeTravel.history(spark, dir).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getInt(2), r.getInt(3), r.getInt(4)))
      .toSeq.sortBy(_._1)
    assert(h == Seq(
      (1L, None, 1, 1, 0),             // overwrite: one dir, added by this commit
      (2L, Some("batch:7"), 2, 1, 0),  // tagged append
      (3L, None, 2, 0, 1),             // MoR delete: no new data dir, one DV
      (4L, None, 2, 0, 0)),            // rollback to v2: dirs re-listed, no DVs
      s"got $h")
  }

  test("OPTIMIZE ZORDER: identical row set, files carve disjoint z-ranges") {
    import graft.operators.LayoutOps
    import graft.sources.TimeTravel
    import spark.implicits._
    val dir = Files.createTempDirectory("ttzorder").toFile.getAbsolutePath + "/t"
    val rows = (0L until 512L).map(i => (i, i % 32L, i / 32L))
    TimeTravel.commitOverwrite(rows.toDF("id", "x", "y").repartition(7), dir)
    val v2 = TimeTravel.optimizeZorder(spark, dir, "x", "y", targetFiles = 4)
    val after = TimeTravel.read(spark, dir, Some(v2))
    assert(after.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      rows.map(_._1).sorted, "row set must be identical")
    // range partitioning on z ⇒ files own disjoint, ordered z-ranges
    val ranges = after
      .select(col("_metadata.file_path").as("f"),
        LayoutOps.zValue(col("x"), col("y")).as("z"))
      .groupBy("f").agg(min(col("z")).as("lo"), max(col("z")).as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(ranges.size >= 2, s"expected multiple clustered files, got $ranges")
    ranges.sliding(2).foreach { case Seq((_, hiA), (loB, _)) =>
      assert(hiA <= loB, s"file z-ranges must not interleave: $ranges")
    case _ => ()
    }
  }

  test("change feed fuzz: applying the feed to v1 reproduces v2 exactly") {
    import graft.sources.TimeTravel
    import spark.implicits._
    val rnd = new scala.util.Random(0xFEED5EEDL) // fixed seed: failures reproduce
    for (round <- 1 to 3) {
      val dir = Files.createTempDirectory(s"ttcdffuzz$round").toFile.getAbsolutePath + "/t"
      val v1Rows = (1L to 200L).map(k => (k, rnd.nextInt(1000).toLong))
      // per key: 1/5 delete, 1/5 update, 3/5 keep; plus fresh inserts
      val v2Rows = v1Rows.flatMap { case (k, v) =>
        rnd.nextInt(5) match {
          case 0 => None
          case 1 => Some((k, v + 1 + rnd.nextInt(50).toLong))
          case _ => Some((k, v))
        }
      } ++ (201L to 230L).map(k => (k, rnd.nextInt(1000).toLong))
      TimeTravel.commitOverwrite(v1Rows.toDF("id", "v"), dir)
      TimeTravel.commitOverwrite(v2Rows.toDF("id", "v"), dir)
      val feed = TimeTravel.changeFeed(spark, dir, "id", 1L, 2L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      val dead = feed.collect { case (k, _, "delete") => k }.toSet
      val pre = feed.collect { case (k, _, "update_preimage") => k }.toSet
      val post = feed.collect { case (k, v, "update_postimage") => (k, v) }
      val ins = feed.collect { case (k, v, "insert") => (k, v) }
      assert(pre == post.map(_._1).toSet, "pre/post images must pair up")
      assert((dead & pre).isEmpty && (dead & ins.map(_._1).toSet).isEmpty,
        "cohorts must be disjoint")
      // apply the feed: v1 − deletes − update keys + postimages + inserts ≡ v2
      val applied = (v1Rows.filterNot { case (k, _) => dead(k) || pre(k) } ++
        post ++ ins).sorted
      assert(applied == v2Rows.sorted,
        s"round $round: feed application diverges from v2")
    }
  }

  test("http backend: token bucket paces consecutive calls") {
    var clock = 0L
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val transport: HttpEmbedBackend.Transport = (_, _, _) => (200, okBody(Seq(Seq(1.0))))
    val be = new HttpEmbedBackend("https://example.com/e", Map.empty, transport,
      minIntervalMs = 50L, nanoTime = () => clock, sleep = ms => { sleeps += ms; clock += ms * 1000000L })
    be.embedBatch(Seq("a")) // bucket empty: immediate
    be.embedBatch(Seq("b")) // 0ms later: must wait the full interval
    clock += 20L * 1000000L
    be.embedBatch(Seq("c")) // 20ms into the next window: waits the rest
    assert(sleeps.toSeq == Seq(50L, 30L))
  }
}
