package graft

import java.nio.file.Files

import graft.functions.Similarity
import graft.sources.VectorIndex
import org.apache.spark.sql.functions._

/** IVF index at rest (VectorIndex): build determinism, the pruning
  * layout, the partition-pruned query plan, and the all-probes ==
  * brute-force correctness anchor.
  */
class IndexSpec extends SparkSpec {

  private val Cells = 4

  private lazy val emb = Tables(spark, sf, "embeddings")
    .select(col("vec_id"), col("embedding"))

  private lazy val path = {
    val p = Files.createTempDirectory("vindex").toFile.getAbsolutePath + "/index"
    VectorIndex.build(emb, "vec_id", "embedding", Cells, iters = 2, path = p)
    p
  }

  private lazy val queries: Seq[(Long, Array[Double])] = emb
    .filter(col("vec_id") < 3)
    .select(col("vec_id"), col("embedding").cast("array<double>"))
    .collect()
    .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq

  test("build writes cell partitions, a hidden centroid sidecar, and loses no rows") {
    val dirs = new java.io.File(path).listFiles().map(_.getName)
    assert(dirs.count(_.startsWith("cell=")) > 1, "index must span several cells")
    assert(dirs.contains("_centroids"))
    // the sidecar is invisible to data discovery: a plain read sees only rows
    assert(spark.read.parquet(path).count() == emb.count())
    val cents = VectorIndex.loadCentroids(spark, path)
    assert(cents.length == Cells && cents.forall(_.length == 64))
    // deterministic build: training again yields the same centroids
    val again = VectorIndex.trainCentroids(emb, "vec_id", "embedding", Cells, 2)
    assert(cents.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("query plan prunes unprobed cells at the partition level") {
    val df = VectorIndex.query(spark, path, "vec_id", "embedding",
      queries.take(1), probes = 1, k = 3)
    val p = df.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(p).isDefined,
      s"cell filter must prune partitions, not rows:\n$p")
    // and the hits really come from the routed cell
    val cents = VectorIndex.loadCentroids(spark, path)
    val routed = VectorIndex.probeCells(cents, queries.head._2, 1).toSet
    val hitCells = df.select(col("cell")).collect().map(_.getInt(0)).toSet
    assert(hitCells.subsetOf(routed))
  }

  /** Exact reference ranking: brute-force cosine top-k as (qid, vec_id, rk). */
  private def bruteTopK(k: Int): Set[(Long, Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val qdf = queries.map { case (qid, qv) => (qid, qv.toSeq) }.toDF("qid", "qe")
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vec_id"))
    emb.crossJoin(broadcast(qdf))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("sim", Similarity.cosineIn(spark,
        col("qe"), col("embedding").cast("array<double>")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col("vec_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
  }

  test("probing every cell reproduces exact brute-force top-k") {
    val got = VectorIndex.query(spark, path, "vec_id", "embedding",
      queries, probes = Cells, k = 5)
      .select(col("qid"), col("vec_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == bruteTopK(5), "all-probes IVF must equal brute force exactly")
  }

  test("a string-keyed index (the store's chunk_id shape) serves the exact top-k") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val sEmb = emb.select(concat(lit("v"), col("vec_id").cast("string")).as("vid"),
      col("embedding"))
    val p = Files.createTempDirectory("vindex_str").toFile.getAbsolutePath + "/index"
    VectorIndex.build(sEmb, "vid", "embedding", Cells, iters = 2, path = p)
    val got = VectorIndex.query(spark, p, "vid", "embedding", queries, probes = Cells, k = 5)
      .select(col("qid"), col("vid"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val qdf = queries.map { case (qid, qv) => (qid, qv.toSeq) }.toDF("qid", "qe")
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("vid"))
    val exact = sEmb.crossJoin(broadcast(qdf))
      .withColumn("sim", Similarity.cosineIn(spark,
        col("qe"), col("embedding").cast("array<double>")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[String]("vid"), r.getAs[Long]("rk"))).toSet
    assert(got.nonEmpty && got == exact)
    // the bigint path keeps its plain id comparison
    val plan = VectorIndex.query(spark, path, "vec_id", "embedding", queries.take(1),
      probes = 1, k = 3).queryExecution.optimizedPlan.toString
    assert(plan.contains("NOT (vec_id#") && !plan.contains("cast(qid"), plan)
  }

  test("a string-keyed index over the vector store after a CDC round serves the exact top-10") {
    import org.apache.spark.sql.expressions.Window
    import graft.sources.VectorStore
    import spark.implicits._
    val store = Files.createTempDirectory("vindex_store").toFile.getAbsolutePath + "/store"
    val rows = emb.select(concat(lit("v"), col("vec_id").cast("string")).as("chunk_id"),
      concat(lit("file"), (col("vec_id") % 10).cast("string")).as("name"),
      col("embedding").cast("array<float>").as("vector"),
      to_date(lit("2023-01-01")).as("load_dt"))
    VectorStore.replaceAll(spark, store, rows)
    // one CDC round: file3's chunks re-embedded, file7 deleted
    VectorStore.upsert(spark, store, rows.filter(col("name") === "file3")
        .withColumn("vector", reverse(col("vector")))
        .withColumn("load_dt", to_date(lit("2023-02-01"))),
      superseded = Some(Seq("file3").toDF("name")))
    VectorStore.deleteWhere(spark, store, Seq("file7").toDF("name"), "name")
    val live = VectorStore.read(spark, store)
    val p = Files.createTempDirectory("vindex_cdc").toFile.getAbsolutePath + "/index"
    VectorIndex.build(live, "chunk_id", "vector", Cells, iters = 2, path = p)
    val got = VectorIndex.query(spark, p, "chunk_id", "vector", queries, probes = Cells, k = 10)
      .select(col("qid"), col("chunk_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val qdf = queries.map { case (qid, qv) => (qid, qv.toSeq) }.toDF("qid", "qe")
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("chunk_id"))
    val exact = live.crossJoin(broadcast(qdf))
      .withColumn("sim", Similarity.cosineIn(spark,
        col("qe"), col("vector").cast("array<double>")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 10)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[String]("chunk_id"),
        r.getAs[Long]("rk"))).toSet
    assert(got.size == 10 * queries.size && got == exact)
    assert(got.forall(!_._2.endsWith("7")), "a deleted file's chunk was served")
  }

  private lazy val pqPath = {
    val p = Files.createTempDirectory("vindexpq").toFile.getAbsolutePath + "/index"
    VectorIndex.buildIvfPq(emb, "vec_id", "embedding", Cells, kmIters = 2,
      pqSubs = 8, pqK = 16, pqIters = 2, path = p)
    p
  }

  test("IVF×PQ composed layout: cell partitions + code column + both sidecars") {
    val dirs = new java.io.File(pqPath).listFiles().map(_.getName)
    assert(dirs.count(_.startsWith("cell=")) > 1)
    assert(dirs.contains("_centroids") && dirs.contains("_pq_codebooks"))
    val rows = spark.read.parquet(pqPath)
    assert(rows.count() == emb.count(), "composition loses no rows")
    val codes = rows.select(col("pq_codes")).limit(100).collect()
      .map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)),
      "each row carries one code per subspace, bounded by pqK")
  }

  test("IVF×PQ serve: ADC reads only codes from probed partitions; recall holds") {
    val got = VectorIndex.queryIvfPq(spark, pqPath, "vec_id", queries,
      probes = Cells, k = 10)
    val p = got.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(p).isDefined,
      s"probe must prune at the partition level:\n$p")
    assert(!"""ReadSchema: [^\n]*embedding""".r.findFirstIn(p).isDefined,
      s"ADC serving must never read the raw vector column:\n$p")
    val adc = got.select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = bruteTopK(10).map { case (q, v, _) => (q, v) }
    val recall = adc.intersect(exact).size.toDouble / exact.size
    info(f"IVF-PQ pure-ADC recall@10 (all probes) = $recall%.2f")
    assert(recall >= 0.2,
      f"residual-PQ ADC recall collapsed: $recall%.2f — codebooks or LUT broken")
    // the refine stage (ADC shortlist → exact rerank) recovers recall:
    // this is the production IVFADC serving path
    val refined = VectorIndex.queryIvfPq(spark, pqPath, "vec_id", queries,
      probes = Cells, k = 10, rerank = 100)
      .select(col("qid"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall2 = refined.intersect(exact).size.toDouble / exact.size
    info(f"IVF-PQ reranked recall@10 = $recall2%.2f")
    assert(recall2 >= 0.8,
      f"refine stage must recover recall, got $recall2%.2f")
    assert(recall2 >= recall, "rerank can only help")
    // single-probe hits come only from the routed cells
    val one = VectorIndex.queryIvfPq(spark, pqPath, "vec_id",
      queries.take(1), probes = 1, k = 5)
    val cents = VectorIndex.loadCentroids(spark, pqPath)
    val routed = VectorIndex.probeCells(cents, queries.head._2, 1).toSet
    assert(one.select(col("cell")).collect().map(_.getInt(0)).toSet.subsetOf(routed))
  }

  test("incremental append routes with frozen centroids and keeps exactness") {
    // build on the first 400 vectors, append the remaining 100: the
    // appended rows land in existing cells (no new dirs, centroids
    // untouched) and an all-probes query over the grown index still
    // equals brute force over the full set
    val p2 = Files.createTempDirectory("vindex_app").toFile.getAbsolutePath + "/index"
    val base = emb.filter(col("vec_id") < 400)
    val extra = emb.filter(col("vec_id") >= 400)
    VectorIndex.build(base, "vec_id", "embedding", Cells, iters = 2, path = p2)
    val centsBefore = VectorIndex.loadCentroids(spark, p2)
    VectorIndex.append(spark, p2, extra, "vec_id", "embedding")
    assert(VectorIndex.loadCentroids(spark, p2).map(_.toSeq).toSeq ==
      centsBefore.map(_.toSeq).toSeq, "append must not retrain")
    assert(spark.read.parquet(p2).count() == emb.count(), "no rows lost")

    val got = VectorIndex.query(spark, p2, "vec_id", "embedding",
      queries, probes = Cells, k = 5)
      .select(col("qid"), col("vec_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == bruteTopK(5), "all-probes over the appended index must equal brute force")
  }

  test("drift stays low after build, spikes after a shifted append, rebuild resets it") {
    val p3 = Files.createTempDirectory("vindex_drift").toFile.getAbsolutePath + "/index"
    VectorIndex.build(emb, "vec_id", "embedding", Cells, iters = 2, path = p3)
    val fresh = VectorIndex.driftFraction(spark, p3, "embedding")
    // the frozen centroids are a (near-)fixed point of their own data
    assert(fresh < 0.2, s"fresh index should sit near its Lloyd fixed point, got $fresh")
    assert(!VectorIndex.rebuildIfDrifted(spark, p3, "vec_id", "embedding",
      Cells, 2, threshold = 0.5), "below threshold must not rebuild")

    // append a same-size population pulled far off the trained manifold
    val shifted = emb
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding",
        transform(col("embedding").cast("array<double>"), v => v * 3.0d + 2.0d))
    VectorIndex.append(spark, p3, shifted, "vec_id", "embedding")
    val drifted = VectorIndex.driftFraction(spark, p3, "embedding")
    assert(drifted > fresh, "shifted mass must register as drift")

    val total = spark.read.parquet(p3).count()
    assert(VectorIndex.rebuildIfDrifted(spark, p3, "vec_id", "embedding",
      Cells, 2, threshold = math.min(0.5, drifted / 2)),
      "past threshold must rebuild")
    assert(spark.read.parquet(p3).count() == total, "rebuild loses no rows")
    val after = VectorIndex.driftFraction(spark, p3, "embedding")
    assert(after <= drifted, "retraining must not leave the index MORE drifted")
  }

  test("single-probe results are a subset of brute-force candidates with perfect in-cell ranking") {
    val got = VectorIndex.query(spark, path, "vec_id", "embedding",
      queries, probes = 1, k = 3)
    // every query returns hits, ranks are 1..n, sims descend per query
    val byQ = got.collect().groupBy(_.getLong(0))
    assert(byQ.keySet == queries.map(_._1).toSet)
    byQ.values.foreach { rows =>
      val rks = rows.map(_.getLong(4)).toSeq
      assert(rks == (1L to rks.length))
      val sims = rows.sortBy(_.getLong(4)).map(_.getDouble(3)).toSeq
      assert(sims == sims.sorted.reverse)
    }
  }

  test("MinHash index at rest: cell layout, pruned probe, candidates ≡ from-scratch join") {
    import graft.sources.MinHashIndex
    import graft.operators.DedupOps
    val corpus = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("mhidx").toFile.getAbsolutePath
    MinHashIndex.build(corpus, dir)

    // layout: every partition dir is one of the bounded bands×16 cells
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(cellDirs.nonEmpty && cellDirs.length <= 4 * 16)

    // a single-doc probe prunes at the PARTITION level: the index scan
    // plans a cell filter in PartitionFilters (directory skipping, the
    // same assertion as the IVF test above — inputFiles is pre-pruning
    // metadata, so the plan is the evidence), and the doc's own band
    // keys touch at most `bands` of the cells
    val one = corpus.filter(col("doc_id") === 3)
    val probed = MinHashIndex.probe(spark, dir, one)
    val plan = probed.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(plan).isDefined,
      s"cell filter must prune partitions, not rows:\n$plan")
    val oneCells = one.select(col("doc_id"),
        explode(DedupOps.lshBands(
          DedupOps.minhashSignature(DedupOps.shingles(col("text")), 8), 4, 2)).as("band"))
      .select(concat(substring(col("band"), 1, 1), lit(":"),
        substring(col("band"), 3, 1)).as("cell"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(oneCells.size <= 4 && oneCells.size < cellDirs.length,
      s"probe touches ${oneCells.size} of ${cellDirs.length} cells")

    // candidates ≡ the from-scratch band self-join for the same cohort
    val queries = corpus.filter(col("doc_id") % 10 === 3)
    val got = MinHashIndex.probe(spark, dir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bands = corpus.select(col("doc_id"),
      explode(DedupOps.lshBands(
        DedupOps.minhashSignature(DedupOps.shingles(col("text")), 8), 4, 2)).as("band"))
    val expect = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") =!= col("b.doc_id"))
      .filter(col("a.doc_id") % 10 === 3)
      .groupBy(col("a.doc_id").as("q"), col("b.doc_id").as("c"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect)
  }

  test("inverted index at rest: cell-pruned probe reproduces the full-scan BM25 top-k") {
    import graft.sources.InvertedIndex
    val corpus = Tables(spark, sf, "documents")
    val dir = Files.createTempDirectory("invidx").toFile.getAbsolutePath
    InvertedIndex.build(corpus, dir)

    val terms = Seq("vector", "hash", "join")
    val probe = InvertedIndex.searchBm25(spark, dir, terms, 25)
    // the scan prunes at the partition level on the cell key
    val plan = probe.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(plan).isDefined,
      s"cell filter must prune partitions, not rows:\n$plan")

    // probe ≡ the registered full-scan BM25 query, row for row
    val got = probe.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expect = graft.queries.SearchQueries.qBm25Search.run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == expect)
  }

  test("inverted index incremental append scores identically to a from-scratch build") {
    import graft.sources.InvertedIndex
    val corpus = Tables(spark, sf, "documents")
    val dir = Files.createTempDirectory("invidx_incr").toFile.getAbsolutePath
    InvertedIndex.build(corpus.filter(col("doc_id") % 5 =!= 0), dir)
    InvertedIndex.append(corpus.filter(col("doc_id") % 5 === 0), dir)
    val terms = Seq("vector", "hash", "join")
    val incr = InvertedIndex.searchBm25(spark, dir, terms, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val full = {
      val d2 = Files.createTempDirectory("invidx_full").toFile.getAbsolutePath
      InvertedIndex.build(corpus, d2)
      InvertedIndex.searchBm25(spark, d2, terms, 25)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }
    assert(incr == full)
  }

  test("trigram index: cell-pruned probe reproduces the full-scan substring search") {
    import graft.sources.TrigramIndex
    import graft.functions.{TextFunctions => TF}
    val corpus = Tables(spark, sf, "documents")
    val dir = Files.createTempDirectory("trgidx").toFile.getAbsolutePath
    TrigramIndex.build(corpus, dir)

    val pattern = "merge batch"
    val probe = TrigramIndex.search(corpus, dir, pattern)
    val plan = probe.queryExecution.executedPlan.toString
    assert("""PartitionFilters: \[[^\]]*cell""".r.findFirstIn(plan).isDefined,
      s"gram cells must prune at the partition level:\n$plan")

    val got = probe.select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = corpus
      .filter(TF.cleanText(col("text")).contains(pattern))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect, s"probe must equal full-scan LIKE: got=$got expect=$expect")
    assert(expect.nonEmpty, "fixture pattern should match documents at sf0.001")
  }

  test("trigram index append: probe after append equals a from-scratch build") {
    import graft.sources.TrigramIndex
    val corpus = Tables(spark, sf, "documents")
    val dir = Files.createTempDirectory("trgidx_incr").toFile.getAbsolutePath
    // 1-hex-char layout: append must follow the _meta-recorded cell
    // width, not a hardcoded one
    TrigramIndex.build(corpus.filter(col("doc_id") % 5 =!= 0), dir, cellHexChars = 1)
    TrigramIndex.append(corpus.filter(col("doc_id") % 5 === 0), dir)
    val pattern = "merge batch"
    val incr = TrigramIndex.search(corpus, dir, pattern)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val full = {
      val d2 = Files.createTempDirectory("trgidx_full").toFile.getAbsolutePath
      TrigramIndex.build(corpus, d2)
      TrigramIndex.search(corpus, d2, pattern)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(incr == full)
  }

  // --- cell compaction: probe ≡ pre-compaction probe, fewer files ---

  private def dataFilesUnder(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) {
        if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
        else f.listFiles().toSeq.flatMap(walk)
      } else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(new java.io.File(dir))
  }

  test("IVF index: appends then compact — query identical, files folded, centroids kept") {
    val p2 = Files.createTempDirectory("vindex_cmp").toFile.getAbsolutePath + "/index"
    VectorIndex.build(emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding",
      Cells, iters = 2, path = p2)
    (1 to 3).foreach(r => VectorIndex.append(spark, p2,
      emb.filter(col("vec_id") % 4 === r), "vec_id", "embedding"))
    def topk() = VectorIndex.query(spark, p2, "vec_id", "embedding",
        queries, probes = Cells, k = 5)
      .select(col("qid"), col("vec_id"), col("rk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = topk()
    val centsBefore = VectorIndex.loadCentroids(spark, p2).map(_.toSeq).toSeq
    val filesBefore = dataFilesUnder(p2).size
    val compacted = VectorIndex.compact(spark, p2)
    assert(compacted.nonEmpty, "four write waves must leave oversized cells")
    assert(dataFilesUnder(p2).size < filesBefore)
    assert(topk() == before, "compaction must not change query results")
    assert(VectorIndex.loadCentroids(spark, p2).map(_.toSeq).toSeq == centsBefore,
      "the _centroids sidecar must survive untouched")
    assert(spark.read.parquet(p2).count() == emb.count(), "no rows lost")
  }

  test("MinHash index: append then compact — probe identical, files folded") {
    import graft.sources.MinHashIndex
    val corpus = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val dir = Files.createTempDirectory("mhidx_cmp").toFile.getAbsolutePath
    // build a fifth, then append the rest in four waves — each wave
    // adds one file set per touched cell
    MinHashIndex.build(corpus.filter(col("doc_id") % 5 === 0), dir)
    (1 to 4).foreach(r => MinHashIndex.append(corpus.filter(col("doc_id") % 5 === r), dir))
    val queries = corpus.filter(col("doc_id") % 10 === 3)
    def probe() = MinHashIndex.probe(spark, dir, queries)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val before = probe()
    val filesBefore = dataFilesUnder(dir).size
    val compacted = MinHashIndex.compact(spark, dir, targetBytes = 128L * 1024 * 1024)
    assert(compacted.nonEmpty, "five write waves must leave oversized cells")
    val filesAfter = dataFilesUnder(dir).size
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter files")
    assert(probe() == before, "compaction must not change probe results")
    // layout preserved: still cell-partitioned, _meta still readable
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("cell=")))
    MinHashIndex.append(corpus.limit(0), dir) // _meta read must still work
  }

  test("inverted index: flat appends AND streamed batches both compact, BM25 unchanged") {
    import graft.sources.InvertedIndex
    val corpus = Tables(spark, sf, "documents")
    val terms = Seq("vector", "hash", "join")
    def top(dir: String) = InvertedIndex.searchBm25(spark, dir, terms, 25)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

    // flat layout: build + appends
    val flat = Files.createTempDirectory("invidx_cmp").toFile.getAbsolutePath
    InvertedIndex.build(corpus.filter(col("doc_id") % 3 === 0), flat)
    (1 to 2).foreach(r => InvertedIndex.append(corpus.filter(col("doc_id") % 3 === r), flat))
    val beforeFlat = top(flat)
    val filesBefore = dataFilesUnder(flat).size
    InvertedIndex.compact(spark, flat)
    assert(dataFilesUnder(flat).size < filesBefore)
    assert(top(flat) == beforeFlat, "flat compaction must not change BM25 scores")

    // streamed layout: batch_id dirs fold into flat cells
    val streamed = Files.createTempDirectory("invidx_cmp_s").toFile.getAbsolutePath + "/idx"
    val ckpt = Files.createTempDirectory("invidx_cmp_ck").toFile.getAbsolutePath
    val src = Files.createTempDirectory("invidx_cmp_src").toFile.getAbsolutePath
    corpus.filter(col("doc_id") % 2 === 0).write.parquet(s"$src/w0")
    graft.streaming.IndexStreams.appendInvertedStream(
      spark.readStream.schema(corpus.schema).parquet(s"$src/*"), streamed, ckpt)
    corpus.filter(col("doc_id") % 2 === 1).write.parquet(s"$src/w1")
    graft.streaming.IndexStreams.appendInvertedStream(
      spark.readStream.schema(corpus.schema).parquet(s"$src/*"), streamed, ckpt)
    assert(new java.io.File(streamed).listFiles().exists(_.getName.startsWith("batch_id=")))
    val beforeStream = top(streamed)
    InvertedIndex.compact(spark, streamed)
    assert(!new java.io.File(streamed).listFiles().exists(_.getName.startsWith("batch_id=")),
      "batch directories must fold away")
    assert(new java.io.File(streamed).listFiles().exists(_.getName.startsWith("cell=")))
    assert(top(streamed) == beforeStream, "fold must not change BM25 scores")
    // the folded index equals a from-scratch build
    val fresh = Files.createTempDirectory("invidx_cmp_f").toFile.getAbsolutePath
    InvertedIndex.build(corpus, fresh)
    assert(top(streamed) == top(fresh))
  }

  test("trigram index: append then compact — search identical, files folded") {
    import graft.sources.TrigramIndex
    val corpus = Tables(spark, sf, "documents")
    val dir = Files.createTempDirectory("trgidx_cmp").toFile.getAbsolutePath
    TrigramIndex.build(corpus.filter(col("doc_id") % 3 === 0), dir, cellHexChars = 1)
    (1 to 2).foreach(r => TrigramIndex.append(corpus.filter(col("doc_id") % 3 === r), dir))
    val pattern = "merge batch"
    def hits() = TrigramIndex.search(corpus, dir, pattern)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val before = hits()
    assert(before.nonEmpty)
    val filesBefore = dataFilesUnder(dir).size
    val compacted = TrigramIndex.compact(spark, dir)
    assert(compacted.nonEmpty)
    assert(dataFilesUnder(dir).size < filesBefore)
    assert(hits() == before, "compaction must not change search results")
  }

  test("trigram probe equals full-scan contains on seeded random corpora and patterns") {
    import graft.sources.TrigramIndex
    import graft.functions.{TextFunctions => TF}
    import spark.implicits._
    val rnd = new scala.util.Random(0x7216AB)
    val alphabet = "abcd "
    for (trial <- 1 to 3) {
      val texts = Seq.tabulate(40)(i =>
        (i.toLong, Seq.fill(30 + rnd.nextInt(60))(alphabet(rnd.nextInt(alphabet.size))).mkString))
      val docs = texts.toDF("doc_id", "text")
      val dir = Files.createTempDirectory(s"trg_fuzz$trial").toFile.getAbsolutePath
      TrigramIndex.build(docs, dir, cellHexChars = 1)
      // pattern drawn from a real doc (guaranteed >=1 match), trimmed so
      // cleanText's space-collapsing can't desync pattern and corpus
      val src = texts(rnd.nextInt(texts.size))._2.replaceAll("\\s+", " ").trim
      val at = rnd.nextInt(math.max(1, src.length - 6))
      val pattern = src.substring(at, math.min(src.length, at + 5)).trim
      if (pattern.length >= TrigramIndex.N) {
        val got = TrigramIndex.search(docs, dir, pattern)
          .select("doc_id").as[Long].collect().toSet
        val want = docs.filter(TF.cleanText(col("text")).contains(pattern))
          .select("doc_id").as[Long].collect().toSet
        assert(got == want, s"trial $trial pattern '$pattern': got=$got want=$want")
        assert(want.nonEmpty, s"trial $trial: pattern should match its source doc")
      }
    }
  }
}
