package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.sources.VectorIndex

/** `query_mix`: one client in a closed loop over the read side. A pass
  * is the ten headline queries, each materialized through the noop sink,
  * with a top-10 `VectorIndex.query` call for a seeded vector after
  * every fifth one; each kNN result is checked outside the timing. A
  * warm-up first runs every headline query once, collects its result
  * and checks it against the pinned oracle value. No ingest layer runs. */
object QueryMix {

  /** The headline queries, pinned here rather than read from the program. */
  val Headline: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q4_top_customers_per_nation", "q6_rollup_revenue", "q_events_session",
    "q_doc_chunks", "q_pipeline_embed", "q_knn_bruteforce", "q_tt_prune_auto")

  val Cells = 8
  val Iters = 2
  val Probes = 2
  val K = 10
  /** Timed passes per untraced run: one fits the run budget. Passes after
    * the warm-up differ by a few per cent within a run; the spread
    * between runs comes from the host, which more passes do not remove. */
  val MinPasses = 1
  /** A kNN call follows every `KnnEvery`-th headline query of a pass. */
  val KnnEvery = 5

  def run(ctx: Ctx, out: Outcome): Unit = {
    import ctx.spark
    val t = ctx.tracer
    val emb = spark.read.parquet(s"${ctx.tables}/embeddings.parquet")

    // Warm-up, before the set-up: every headline query runs once with
    // collect() and once into the noop sink, `cores` queries at a time.
    // These are their first executions in this JVM, not samples; each
    // collected result is hashed against its pin.
    val pins = Pins.load(ctx.benchDir.resolve("pins.json"))
    val warm = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      Headline.map { name =>
        name -> warm.submit { () =>
          val df = SparkEntry.queries(name)(spark, ctx.tables)
          val res = (df.columns.toSeq, df.collect().toSeq)
          SparkEntry.queries(name)(spark, ctx.tables).write.mode("overwrite").format("noop").save()
          res
        }
      }.foreach { case (name, f) =>
        out.attempt(name)(f.get)(_ => true).foreach { case (cols, rows) =>
          out.check(s"$name = pinned oracle result")(pins.get(name).contains(Canon.hash(cols, rows)))
        }
      }
    } finally {
      warm.shutdown()
      warm.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)
    }
    Harness.phase("warm-up")

    // set-up, three times: build the IVF index over `embeddings`
    var index = ""
    (0 until 3).foreach { k =>
      val path = ctx.work.resolve(s"ivf$k").toString
      out.setups += Harness.seconds(t.span("index.build")(
        VectorIndex.build(emb, "vec_id", "embedding", Cells, Iters, path)))._2
      if (k > 0) Harness.deleteTree(java.nio.file.Paths.get(index))
      index = path
    }
    val vecs: Map[Long, Array[Double]] = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val cents = t.span("index.loadCentroids")(VectorIndex.loadCentroids(spark, index))
    val cellOf = vecs.map { case (id, v) => id -> VectorIndex.probeCells(cents, v, 1).head }

    Harness.phase("setup")
    val rng = new SplittableRandom(ctx.seed)
    val ids = vecs.keys.toVector.sorted
    val knnTimes = mutable.ArrayBuffer.empty[Double]
    val headTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val mixTimes = mutable.ArrayBuffer.empty[Double]

    def knn(qid: Long, span: Boolean): Double = {
      def call() = VectorIndex.query(spark, index, "vec_id", "embedding",
        Seq(qid -> vecs(qid)), Probes, K).collect()
      val (rows, s) = Harness.seconds(out.attempt(s"knn $qid")(
        if (span) t.span("index.query")(call()) else call())(_ => true))
      rows.foreach(r => out.check(s"knn $qid = exact top-$K over probed cells")(
        exactOk(qid, r.toSeq, vecs, cents, cellOf)))
      s
    }
    def headline(name: String, span: Boolean): Double = {
      def call(): Unit = SparkEntry.queries(name)(spark, ctx.tables).write.mode("overwrite").format("noop").save()
      Harness.seconds(out.attempt(name)(if (span) t.span(s"query.$name")(call()) else call())(_ => true))._2
    }
    // One pass in a fixed order: a kNN call after every `KnnEvery`-th
    // headline query; the seed picks the kNN query vectors. Returns the
    // headline and kNN seconds, and records plain passes' per-call samples.
    def pass(span: Boolean): (Double, Double) = {
      val reqs = Headline.grouped(KnnEvery).toSeq.flatMap(h => h.map(Left(_)) :+ Right(ids(rng.nextInt(ids.size))))
      var head = 0.0
      var knns = 0.0
      reqs.foreach {
        case Left(name) =>
          val s = headline(name, span)
          head += s
          if (!span) headTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
        case Right(qid) =>
          val s = knn(qid, span)
          knns += s
          if (!span) knnTimes += s
      }
      (head, knns)
    }

    // Timed passes after one untimed kNN call (its first execution):
    // plain passes are the end-to-end samples. Traced runs time plain,
    // traced, plain, so the overhead (traced minus the plain median)
    // is not skewed by the passes still getting faster.
    knn(ids(rng.nextInt(ids.size)), span = false)
    val plainPasses = mutable.ArrayBuffer.empty[Double]
    val tracedPasses = mutable.ArrayBuffer.empty[Double]
    Harness.loop(ctx.seconds, if (ctx.traced) 3 else MinPasses) { p =>
      val span = ctx.traced && p % 2 == 1
      val (head, knns) = pass(span)
      if (span) tracedPasses += head + knns
      else {
        plainPasses += head + knns
        mixTimes += head
      }
    }
    out.ops ++= plainPasses
    Harness.phase("measured")
    out.report("mix_pass_s") = Stats.median(mixTimes.toSeq)
    out.report("knn_p50_s") = Stats.median(knnTimes.toSeq)
    out.tail("knn_tail_s", knnTimes.toSeq)
    headTimes.toSeq.sortBy(_._1).foreach { case (n, xs) => out.report(s"$n.s") = Stats.median(xs.toSeq) }

    if (ctx.traced) {
      Headline.foreach { n =>
        val ss = t.named(s"query.$n")
        if (ss.nonEmpty) {
          out.layers(s"query.${n}_s") = Stats.median(ss.map(_.seconds))
          out.layers(s"query.${n}_jobs") = Stats.median(ss.map(s => t.inclusive(s).jobs.toDouble))
        }
      }
      val qs = t.named("index.query")
      val indexFiles = Harness.dataFiles(java.nio.file.Paths.get(index))._1
      val read = qs.map(_.scans.map(_.filesRead).sum.toDouble)
      out.layers("index.build_s") = Stats.median(t.named("index.build").map(_.seconds))
      out.layers("index.load_centroids_s") = Stats.median(t.named("index.loadCentroids").map(_.seconds))
      out.layers("index.jobs_per_query") = Stats.median(qs.map(s => t.inclusive(s).jobs.toDouble))
      out.layers("index.files_read") = Stats.median(read)
      out.layers("index.files_pruned") = indexFiles - Stats.median(read)
      out.layers("index.candidates_per_query") = Stats.median(qs.map(_.scans.map(_.rowsOut).sum.toDouble))
      out.layers("trace.overhead_s") = Stats.median(tracedPasses.toSeq) - Stats.median(plainPasses.toSeq)
    }
  }

  /** The returned top-K equals an exact cosine top-K over the vectors in
    * the query's probed cells (the query itself excluded): every returned
    * similarity is the exact one, in order, and nothing left out beats
    * the K-th. */
  private def exactOk(qid: Long, rows: Seq[org.apache.spark.sql.Row], vecs: Map[Long, Array[Double]],
      cents: Array[Array[Long]], cellOf: Map[Long, Int]): Boolean = {
    val q = vecs(qid)
    val probed = VectorIndex.probeCells(cents, q, Probes).toSet
    def cos(v: Array[Double]): Double = {
      var d = 0.0; var a = 0.0; var b = 0.0; var i = 0
      while (i < q.length) { d += q(i) * v(i); a += q(i) * q(i); b += v(i) * v(i); i += 1 }
      d / math.sqrt(a * b)
    }
    val exact = vecs.iterator.filter { case (id, _) => id != qid && probed(cellOf(id)) }
      .map { case (id, v) => (id, cos(v)) }.toVector.sortBy { case (id, s) => (-s, id) }
    val got = rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim")))
    val eps = 1e-9
    got.size == math.min(K, exact.size) &&
      got.zip(exact).forall { case ((gid, gs), (_, es)) =>
        vecs.get(gid).exists(v => math.abs(cos(v) - gs) < eps) && math.abs(gs - es) < eps &&
          probed(cellOf(gid))
      }
  }
}

/** Headline results pinned once from the DuckDB oracle (see pin.py). */
object Pins {
  /** name -> (sha256, rows) */
  def load(path: java.nio.file.Path): Map[String, (String, Int)] =
    Harness.Json.readTree(path.toFile).properties().asScala.map { e =>
      e.getKey -> (e.getValue.get("sha256").asText, e.getValue.get("rows").asInt)
    }.toMap
}
