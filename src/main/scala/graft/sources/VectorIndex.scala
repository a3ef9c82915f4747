package graft.sources

import graft.functions.Similarity
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** IVF vector index AT REST: the in-memory centroid-routed search of
  * SimilarityQueries (`q_knn_ivf*`, `q_knn_kmeans`) persisted as a
  * layout, so probing becomes partition PRUNING. The index is the
  * embedding table written hive-partitioned by nearest-centroid cell
  * (`cell=`), with the trained centroid table in a `_centroids` sidecar
  * (underscore-prefixed → invisible to parquet data discovery). A
  * query routes to its top-`probes` cells and reads the index with a
  * LITERAL cell filter — the scan plans PartitionFilters and never
  * opens an unprobed cell's files (plan-asserted in IndexSpec), which
  * is what turns O(corpus) per query into O(probes · corpus/cells) of
  * actual I/O at 100 TB, not just of compute.
  *
  * Determinism: training quantizes vectors ONCE to the 2²⁰ integer
  * grid (the q_knn_kmeans contract) — distances are exact integer
  * sums, centroid updates are scale-0 rounds of exact-integer ratios,
  * argmin ties break on cell id, init is the first `cells` vectors by
  * id — so the same corpus always builds the same index. Driver state
  * is bounded by cells·dim (the centroid table), never the corpus.
  */
object VectorIndex {

  val CellCol = "cell"
  private val Grid = 1048576.0d // 2^20 quantization units

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Nearest-cell assignment over broadcast centroids: exact integer
    * squared distance on the unit grid, ties to the lowest cell id.
    * Dictionary-driven loop → the documented UDF exception; one narrow
    * pass, no shuffle. */
  def assignCell(spark: SparkSession, cents: Array[Array[Long]]): Column => Column = {
    val b = spark.sparkContext.broadcast(cents)
    val f = udf { (v: Seq[Double]) =>
      val cs = b.value
      var best = 0
      var bestD = Long.MaxValue
      var c = 0
      while (c < cs.length) {
        val cent = cs(c)
        var d = 0L
        var i = 0
        while (i < cent.length && i < v.length) {
          val diff = math.round(v(i) * Grid) - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    c => f(asDouble(c))
  }

  /** Distributed Lloyd on the integer-unit grid. Per iteration:
    * assignment is a narrow pass over the corpus, the update is ONE
    * shuffle keyed on (cell, component) whose output — cells·dim rows —
    * is the only thing the driver ever holds. */
  def trainCentroids(emb: DataFrame, idCol: String, vecCol: String,
      cells: Int, iters: Int): Array[Array[Long]] = {
    val spark = emb.sparkSession
    var cents: Array[Array[Long]] = emb
      .orderBy(col(idCol)).limit(cells)
      .select(asDouble(col(vecCol))).collect()
      .map(_.getSeq[Double](0).map(v => math.round(v * Grid)).toArray)
    (0 until iters).foreach { _ =>
      // r16: assign BELOW the explode. With the UDF and the generator in
      // ONE select, the analyzer plans Project(udf) ABOVE Generate — the
      // per-vector assignment loop re-ran once per exploded COMPONENT
      // (dim× redundant work; measured 28 s of a 40 s sf0.1 build).
      // Splitting the select pins the UDF into Generate's child: once
      // per vector. Same values, same single update shuffle.
      val assigned = emb
        .select(assignCell(spark, cents)(col(vecCol)).as(CellCol),
          asDouble(col(vecCol)).as("_v"))
        .select(col(CellCol), posexplode(col("_v")).as(Seq("pos", "v")))
      val sums = assigned
        .select(col(CellCol), col("pos"), round(col("v") * Grid).cast("long").as("uq"))
        .groupBy(CellCol, "pos")
        .agg(sum("uq").as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()) // empty cells keep their centroid
      sums.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          math.round(r.getLong(2).toDouble / r.getLong(3))
      }
      cents = next
    }
    cents
  }

  /** Train + write: the embedding table lands partitioned by nearest
    * cell; the centroid table lands in the `_centroids` sidecar. */
  def build(emb: DataFrame, idCol: String, vecCol: String,
      cells: Int, iters: Int, path: String): Unit = {
    val spark = emb.sparkSession
    val cents = trainCentroids(emb, idCol, vecCol, cells, iters)
    emb.withColumn(CellCol, assignCell(spark, cents)(col(vecCol)))
      .write.mode(SaveMode.Overwrite).partitionBy(CellCol).parquet(path)
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "c_units")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path + "/_centroids")
  }

  def loadCentroids(spark: SparkSession, path: String): Array[Array[Long]] =
    spark.read.parquet(path + "/_centroids").orderBy("cid")
      .select(col("c_units")).collect()
      .map(_.getSeq[Long](0).toArray)

  /** INCREMENTAL append: route new vectors with the index's EXISTING
    * centroids (no retrain — cells stay stable between rebuilds, the
    * standard IVF maintenance contract) and append their rows into the
    * cell partitions. One narrow assignment pass + an append-mode
    * partitioned write; untouched cells gain no files, queries need no
    * code path change, and repeated appends compose with
    * [[VectorStore.compact]]-style layout maintenance. Rebuild (retrain)
    * only when appended mass shifts the centroids enough to hurt recall
    * — the published IVF practice. */
  def append(spark: SparkSession, path: String, emb: DataFrame,
      idCol: String, vecCol: String): Unit = {
    val cents = loadCentroids(spark, path)
    // align to the ON-DISK schema before writing: parquet append with a
    // drifted column type (double vectors into a float index) would
    // poison every later scan with a reader-side type-mismatch failure
    val stored = spark.read.parquet(path).schema
    val aligned = emb.select(stored.filterNot(_.name == CellCol)
      .map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    aligned.withColumn(CellCol, assignCell(spark, cents)(col(vecCol)))
      .write.mode(SaveMode.Append).partitionBy(CellCol).parquet(path)
  }

  /** Fold append-accumulated small files back into scan-sized cell
    * files ([[CellCompaction]] — the same maintenance face as the
    * three text-index families): only oversized cells rewrite, rows
    * and query results unchanged, `_centroids` untouched. With
    * [[driftFraction]]/[[rebuildIfDrifted]] this completes the IVF
    * maintenance loop: appends between rebuilds cost O(new rows),
    * compaction keeps per-cell file counts flat, retrain only on
    * measured recall drift. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[String] =
    CellCompaction.compact(spark, path, CellCol, targetBytes)

  /** Drift measurement for the rebuild decision the [[append]] contract
    * references: recompute each cell's mean over the CURRENT index rows
    * (exactly the Lloyd update step — one narrow pass + one
    * (cell, component) shuffle whose cells·dim output is all the driver
    * holds) and report the fraction of rows that would change cells if
    * those means replaced the stored centroids. Near 0 right after a
    * converged build; grows as appended mass pulls the true cell means
    * away from the frozen centroids — the recall-degradation proxy an
    * index operator alerts on. Two corpus passes, both narrow; no row
    * data on the driver. */
  def driftFraction(spark: SparkSession, path: String, vecCol: String): Double = {
    val stored = loadCentroids(spark, path)
    val rows = spark.read.parquet(path)
      .select(col(CellCol).cast("int").as(CellCol), asDouble(col(vecCol)).as(vecCol))
    val sums = rows
      .select(col(CellCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(CellCol), col("pos"), round(col("v") * Grid).cast("long").as("uq"))
      .groupBy(CellCol, "pos")
      .agg(sum("uq").as("s"), count(lit(1)).as("n"))
      .collect()
    val updated = stored.map(_.clone()) // empty cells keep their centroid
    sums.foreach { r =>
      updated(r.getInt(0))(r.getInt(1)) =
        math.round(r.getLong(2).toDouble / r.getLong(3))
    }
    val total = rows.count()
    if (total == 0) 0.0
    else rows.filter(assignCell(spark, updated)(col(vecCol)) =!= col(CellCol))
      .count().toDouble / total
  }

  /** Retrain-on-drift: when [[driftFraction]] crosses `threshold`,
    * rebuild the index from its own current rows (fresh Lloyd training,
    * same cell count). The row set is pinned via `localCheckpoint`
    * BEFORE the overwrite — the rebuild reads the path it replaces.
    * Returns true iff a rebuild happened. */
  def rebuildIfDrifted(spark: SparkSession, path: String, idCol: String,
      vecCol: String, cells: Int, iters: Int, threshold: Double): Boolean = {
    val f = driftFraction(spark, path, vecCol)
    if (f <= threshold) false
    else {
      val rows = spark.read.parquet(path).drop(CellCol).localCheckpoint()
      build(rows, idCol, vecCol, cells, iters, path)
      true
    }
  }

  /** Top-`probes` cells for one query vector, by the same exact-integer
    * distance as assignment (ties to lowest cell id). */
  def probeCells(cents: Array[Array[Long]], q: Array[Double], probes: Int): Seq[Int] =
    cents.zipWithIndex.map { case (cent, cid) =>
      var d = 0L
      var i = 0
      while (i < cent.length && i < q.length) {
        val diff = math.round(q(i) * Grid) - cent(i)
        d += diff * diff
        i += 1
      }
      (d, cid)
    }.sorted.take(probes).map(_._2).toSeq

  // ------------------------------------------------- IVF×PQ composition

  /** Build the COMPOSED IVF×PQ layout — the production ANN recipe
    * (Jégou et al. IVFADC): the coarse quantizer routes (cells become
    * partitions, as in [[build]]), and within the index each vector
    * additionally stores its PRODUCT-QUANTIZATION code word computed
    * over the RESIDUAL to its cell centroid (residual encoding is what
    * makes a shared codebook tight across cells). Layout on disk:
    *
    *   - `cell=<c>/` partitions carrying (id, vec, pq_codes) rows —
    *     codes are `pqSubs` small ints, the only columns serving reads;
    *   - `_centroids` — the coarse table (cells·dim, as before);
    *   - `_pq_codebooks` — (cid, sub, pos, c): per-subspace centroids
    *     of residual units, bounded by pqK·dim.
    *
    * PQ training is distributed with the subspace id as a grouping key
    * (all `pqSubs` trainings ride one set of shuffles — the q_embed_pq
    * recipe, applied to residuals); init is the residual subvectors of
    * the first `pqK` ids, distances are exact integer sums on the 2²⁰
    * grid, means round back to the grid via Spark `round` (HALF_UP —
    * residuals are signed, so the rounding rule is part of the
    * determinism contract). */
  def buildIvfPq(emb: DataFrame, idCol: String, vecCol: String,
      cells: Int, kmIters: Int, pqSubs: Int, pqK: Int, pqIters: Int,
      path: String): Unit = {
    val spark = emb.sparkSession
    val cents = trainCentroids(emb, idCol, vecCol, cells, kmIters)
    val bCents = spark.sparkContext.broadcast(cents)
    val withCell = emb.withColumn(CellCol, assignCell(spark, cents)(col(vecCol)))
    // residual units per component: uq - coarseCentroid[cell][pos]
    val resOf = udf { (v: Seq[Double], cell: Int) =>
      val cent = bCents.value(cell)
      v.indices.map(i => math.round(v(i) * Grid) - cent(i))
    }
    val dim = cents.head.length
    val subDim = dim / pqSubs
    require(subDim * pqSubs == dim, s"pqSubs=$pqSubs must divide dim=$dim")
    val res = withCell.select(col(idCol), col(CellCol),
      resOf(asDouble(col(vecCol)), col(CellCol)).as("r"))
      .localCheckpoint() // training + encoding read the same residuals
    // r16: one-exchange-per-iteration array-form Lloyd (the
    // SimilarityQueries trainer treatment applied at rest): residual
    // subvectors stay PACKED; assignment is a narrow per-row argmin
    // against the per-sub packed codebook ([[Similarity.argminCid]] —
    // fused kernel or composed HOF, bit-identical), and the centroid
    // update is the single surviving exchange, keyed (cid, pos) with
    // map-side partial aggregation. The former shape exploded to
    // N·dim·pqK join rows and shuffled on the id for the argmin window
    // AND the update join, every iteration. Values identical: exact
    // integer distances, same (d, cid) argmin tie-break, same rounded
    // update — IndexSpec pins the layout and ADC serving results.
    // (The r15 loop-exit pin is superseded: the only corpus-sized
    // intermediate left is the pinned res.)
    val rsv = res.select(col(idCol), posexplode(
        array((0 until pqSubs).map(j =>
          slice(col("r"), j * subDim + 1, subDim)): _*)).as(Seq("subI", "srarr")))
      .select(col(idCol), col("subI"), (col("subI") * subDim).as("posBase"),
        col("srarr"))
    var scent = rsv.filter(col(idCol) < pqK)
      .select(col(idCol).cast("long").as("cid"), col("subI"),
        col("srarr").as("carr"))
    var assign: DataFrame = null
    var cent: DataFrame = null
    for (i <- 1 to pqIters) {
      val packed = scent.groupBy(col("subI"))
        .agg(sort_array(collect_list(struct(col("cid"), col("carr")))).as("cents"))
      val av = rsv.join(broadcast(packed), Seq("subI"))
        .withColumn("cid",
          Similarity.argminCid(spark, col("srarr"), col("cents")).cast("int"))
        .filter(col("cid").isNotNull) // empty-codebook guard
        .select(col(idCol), col("subI"), col("posBase"), col("srarr"), col("cid"))
      val centLong = av
        .select(col("cid"), col("posBase"),
          posexplode(col("srarr")).as(Seq("li", "uq")))
        .groupBy(col("cid"), (col("posBase") + col("li")).as("pos"))
        .agg(round(sum(col("uq")).cast("double") / count(lit(1)).cast("double"))
          .cast("long").as("c"))
      if (i == pqIters) {
        assign = av.select(col(idCol), col("subI").cast("long").as("sub"), col("cid"))
        cent = centLong
      } else {
        // K·dim-bounded iteration boundary, pinned so later evaluations
        // never replay this iteration's corpus aggregation
        scent = centLong
          .groupBy(col("cid").cast("long").as("cid"),
            (col("pos").cast("long") / subDim).cast("int").as("subI"))
          .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
            x => x.getField("c")).as("carr"))
          .localCheckpoint()
      }
    }
    val codes = assign.groupBy(col(idCol))
      .agg(transform(array_sort(collect_list(struct(col("sub"), col("cid")))),
        s => s.getField("cid")).as("pq_codes"))
    withCell.join(codes, idCol)
      .write.mode(SaveMode.Overwrite).partitionBy(CellCol).parquet(path)
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "c_units").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path + "/_centroids")
    cent.select(col("cid"), col("pos"), col("c")).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path + "/_pq_codebooks")
  }

  /** Serve via ASYMMETRIC DISTANCE COMPUTATION over the composed
    * layout: route each query to its `probes` nearest cells, build the
    * per-(query, cell) LUT of squared distances from the query's
    * RESIDUAL subvectors to every codebook entry (driver-side — LUTs
    * are probes·pqSubs·pqK longs per query, codebooks pqK·dim), then
    * score candidates by summing the LUT entries their code words
    * select. The scan reads ONLY (id, codes) from the probed
    * partitions — the raw vectors are never touched at serve time,
    * which is the PQ I/O story on top of IVF's partition pruning.
    *
    * `rerank > 0` adds the standard REFINE stage (Faiss's
    * IndexRefineFlat): the ADC pass shortlists `rerank` candidates per
    * query, then EXACT cosine re-scores just those rows — vectors are
    * fetched for the shortlist only (queries·rerank rows), recovering
    * near-exact recall while the corpus-sized pass stays codes-only.
    * Columns are (qid, id, cell, sim, rk) in rerank mode, (…, adist,
    * rk) in pure-ADC mode. */
  def queryIvfPq(spark: SparkSession, path: String, idCol: String,
      queries: Seq[(Long, Array[Double])], probes: Int, k: Int,
      rerank: Int = 0): DataFrame = {
    val cents = loadCentroids(spark, path)
    val dim = cents.head.length
    val bookRows = spark.read.parquet(path + "/_pq_codebooks").collect()
    val pqK = bookRows.map(_.getInt(0)).max + 1
    val routed = queries.flatMap { case (qid, qv) =>
      probeCells(cents, qv, probes).map { cell =>
        val qres = Array.tabulate(dim)(i =>
          math.round(qv(i) * Grid) - cents(cell)(i))
        (qid, cell, qres)
      }
    }
    // cid -> pos -> residual unit (each codebook entry spans all dim
    // positions; only its own subspace's slice is ever summed; a
    // (cid, pos) the trainer never populated stays 0 — the degenerate
    // never-assigned-code case, harmless because no row carries it)
    val bookArr: Array[Array[Long]] = Array.fill(pqK)(Array.fill(dim)(0L))
    bookRows.foreach(r => bookArr(r.getInt(0))(r.getInt(1)) = r.getLong(2))
    def lutFor(qres: Array[Long], subs: Int): Seq[Seq[Long]] = {
      val sd = dim / subs
      (0 until subs).map { s =>
        (0 until pqK).map { c =>
          var d = 0L; var i = s * sd
          while (i < (s + 1) * sd) {
            val diff = qres(i) - bookArr(c)(i); d += diff * diff; i += 1
          }
          d
        }
      }
    }
    import spark.implicits._
    val idx = spark.read.parquet(path)
    val subs = idx.select(size(col("pq_codes"))).head.getInt(0)
    val qdf = routed.map { case (qid, cell, qres) =>
      (qid, cell, lutFor(qres, subs))
    }.toDF("qid", CellCol, "lut")
    val cellSet = routed.map(_._2).distinct
    val cand = idx.select(col(idCol), col(CellCol), col("pq_codes"))
      .filter(col(CellCol).isin(cellSet: _*))
      .join(broadcast(qdf), Seq(CellCol))
      .filter(col(idCol) =!= col("qid"))
      .withColumn("adist",
        aggregate(zip_with(col("pq_codes"), col("lut"), (c, row) => element_at(row, c + 1)),
          lit(0L), (a, x) => a + x))
    val w = Window.partitionBy("qid").orderBy(col("adist"), col(idCol))
    if (rerank <= 0) {
      cand.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= k)
        .select(col("qid"), col(idCol), col(CellCol), col("adist"), col("rk"))
        .orderBy("qid", "rk")
    } else {
      // refine: exact cosine over the ADC shortlist only. The shortlist
      // is queries·rerank rows — it broadcasts; vector bytes are read
      // for shortlist rows alone via a broadcast semi-join on id.
      val short = cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= math.max(rerank, k))
        .select(col("qid"), col(idCol))
      val qe = queries.map { case (qid, qv) => (qid, qv.toSeq) }
      val qdfE = spark.createDataFrame(qe).toDF("qid", "qe")
      val vecCol = spark.read.parquet(path).columns
        .find(c => c != idCol && c != CellCol && c != "pq_codes")
        .getOrElse(throw new IllegalStateException("no vector column in index"))
      val exact = spark.read.parquet(path)
        .filter(col(CellCol).isin(cellSet: _*))
        .select(col(idCol), col(CellCol), asDouble(col(vecCol)).as("v"))
        .join(broadcast(short), Seq(idCol))
        .join(broadcast(qdfE), Seq("qid"))
        .withColumn("sim", graft.functions.Similarity.cosineIn(spark, col("qe"), col("v")))
      val w2 = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol))
      exact.withColumn("rk", row_number().over(w2).cast("long"))
        .filter(col("rk") <= k)
        .select(col("qid"), col(idCol), col(CellCol), col("sim"), col("rk"))
        .orderBy("qid", "rk")
    }
  }

  /** Serve a batch of queries: per query route to `probes` cells, read
    * the index with a literal cell filter (partition pruning skips
    * every other cell's files), exact cosine within candidates, top-k.
    * The query batch is serving-sized — it broadcasts; the INDEX side
    * stays distributed and is never collected. */
  def query(spark: SparkSession, path: String, idCol: String, vecCol: String,
      queries: Seq[(Long, Array[Double])], probes: Int, k: Int): DataFrame = {
    val cents = loadCentroids(spark, path)
    val routed = queries.flatMap { case (qid, qv) =>
      probeCells(cents, qv, probes).map(c => (qid, c, qv.toSeq))
    }
    val cellSet = routed.map(_._2).distinct
    import spark.implicits._
    val qdf = routed.toDF("qid", CellCol, "qe")
    val index = spark.read.parquet(path)
    // a query never returns itself; `qid` is a bigint, so a non-integral
    // id (the vector store's string `chunk_id`) compares as a string
    // instead of failing its cast to bigint
    val notSelf = index.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => col(idCol) =!= col("qid")
      case _ => col(idCol).cast("string") =!= col("qid").cast("string")
    }
    val cand = index
      .filter(col(CellCol).isin(cellSet: _*))
      .join(broadcast(qdf), Seq(CellCol))
      .filter(notSelf)
      .withColumn("sim",
        Similarity.cosineIn(spark, col("qe"), asDouble(col(vecCol))))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col(idCol))
    cand.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select(col("qid"), col(idCol), col(CellCol), col("sim"), col("rk"))
      .orderBy("qid", "rk")
  }
}
