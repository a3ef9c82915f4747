package graft

import graft.functions.Chunkers.words
import graft.plans.AsOfDirection
import graft.sources.TimeTravel
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{size => asize, _}

/** Composed Catalyst forms of the fused kernels, kept as bit-equality
  * oracles: each spec runs a kernel and its composed twin over the same
  * rows and asserts identical values. Main code calls only the kernels
  * (every session comes from [[GraftSession]] and loads
  * [[GraftExtensions]]).
  */
object Oracles {

  /** Σ(aᵢ−bᵢ)² over two `array<long>` columns (`graft_sqdist`). Exact
    * long arithmetic: any accumulation order is bit-identical. */
  def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, v) => acc + v)

  /** argmin-by-(distance, cid) over a packed centroid table
    * (`graft_argmin_cell`): lexicographic struct min = smallest d, ties
    * to smallest cid; a length-mismatch distance is null and sorts
    * first. */
  def argminCid(uq: Column, cents: Column): Column =
    array_min(transform(cents, ct =>
      struct(
        sqDist(uq, ct.getField("carr")).as("d"),
        ct.getField("cid").as("cid")))).getField("cid")

  /** round(vᵢ·2²⁰) per element (`graft_quantize`): Catalyst `ROUND`,
    * BigDecimal HALF_UP. */
  def quantize(e: Column): Column =
    transform(e, v => round(v * lit(1048576.0d)).cast("long"))

  /** Un-normalized deterministic embedding (`graft_embed`): component j
    * is the first 4 hex chars of md5(text ‖ ':' ‖ j) mapped to [-1, 1). */
  def deterministicEmbed(c: Column, dim: Int = graft.functions.Embedders.DefaultDim): Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      conv(substring(md5(concat(c, lit(":"), j.cast("string"))), 1, 4), 16, 10)
        .cast("double") / 32768.0d - 1.0d)

  /** L2 normalization (`graft_l2_normalize`): an in-order `acc + x*x`
    * fold from 0.0, `sqrt`, then `x / norm` per element. The lambda
    * body names `v`, so `v` is evaluated once per element plus once. */
  def l2Normalize(v: Column): Column = {
    val norm = sqrt(aggregate(v, lit(0.0d), (acc, x) => acc + x * x))
    transform(v, x => x / norm)
  }

  /** G2 fixed-size word chunks with overlap (`graft_chunk_words`):
    * element i is the i-th overlapping chunk. */
  def chunkFixedWords(c: Column, chunkSize: Int, overlapFraction: Double): Column = {
    val ov = (chunkSize * overlapFraction).toInt
    val w = words(c)
    val nChunks = ceil(asize(w).cast("double") / chunkSize).cast("int")
    transform(
      sequence(lit(0), nChunks - 1),
      i => {
        val start = greatest(i * chunkSize - ov, lit(0))
        array_join(slice(w, start + 1, i * chunkSize + chunkSize - start), " ")
      })
  }

  /** As-of join, composed in the DataFrame API — the oracle for the
    * native [[graft.plans.AsOfJoinOps]] operator: inequality join
    * replaying every qualifying right row, then a top-1 window per left
    * row ordered by the direction's preference. Correct, but the
    * candidate set grows with right-side density — the native merge
    * pass exists to avoid exactly that replay. */
  def composedAsOf(left: DataFrame, r: DataFrame,
      leftKey: String, rightKeyS: String,
      leftTime: String, rightTimeS: String, rightTieS: String,
      direction: AsOfDirection = AsOfDirection.Backward,
      allowExact: Boolean = true,
      toleranceUs: Option[Long] = None): DataFrame = {
    val l2 = left.withColumn("__lid", monotonically_increasing_id())
    val lt = col(leftTime); val rt = col(rightTimeS)
    val timeCond = direction match {
      case AsOfDirection.Backward => if (allowExact) rt <= lt else rt < lt
      case AsOfDirection.Forward  => if (allowExact) rt >= lt else rt > lt
      case AsOfDirection.Nearest  => lit(true) && rt.isNotNull && lt.isNotNull
    }
    val tolCond = toleranceUs.map { t =>
      direction match {
        case AsOfDirection.Backward => rt >= lt - t
        case AsOfDirection.Forward  => rt <= lt + t
        case AsOfDirection.Nearest  => abs(rt - lt) <= t
      }
    }.getOrElse(lit(true))
    val cand = l2.join(r, col(leftKey) === col(rightKeyS) && timeCond && tolCond, "left")
    val pref: Seq[org.apache.spark.sql.Column] = direction match {
      case AsOfDirection.Backward =>
        Seq(rt.desc_nulls_last, col(rightTieS).desc_nulls_last)
      case AsOfDirection.Forward =>
        Seq(rt.asc_nulls_last, col(rightTieS).desc_nulls_last)
      case AsOfDirection.Nearest =>
        // closest distance; distance ties prefer backward; equal-time
        // ties take the greatest tie on the backward side but the
        // SMALLEST on the forward side (the native cursor's look-ahead
        // row) — mirrored here so the two faces stay bit-equal
        Seq(abs(rt - lt).asc_nulls_last, (rt <= lt).desc_nulls_last,
          when(rt <= lt, col(rightTieS)).desc_nulls_last,
          when(rt > lt, col(rightTieS)).asc_nulls_last)
    }
    val w = Window.partitionBy(col("__lid")).orderBy(pref: _*)
    cand.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__lid")
  }

  /** Per-file stats of the parquet files under `dir` by one
    * aggregation grouped on `input_file_name` — how the TimeTravel
    * stats sidecars were built before they came from parquet footers:
    * row count, min/max of `statsCols` in the internal integral form
    * (epoch days, UTC micros), bloom words of `bloomCols`. A file with
    * no rows has no entry; an all-null column has no min/max. */
  def fileStats(spark: SparkSession, dir: String, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil): Seq[TimeTravel.FileStats] = {
    import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
    val df = spark.read.parquet(dir)
    def integral(c: Column, name: String): Column = df.schema(name).dataType match {
      case DateType => unix_date(c).cast("long")
      case TimestampType => unix_micros(c)
      case TimestampNTZType => unix_micros(c.cast("timestamp"))
      case _ => c.cast("long")
    }
    val bloomAgg = udaf(new graft.operators.BloomOps.BloomAggregator(
      graft.sources.ZoneMaps.BloomBits, graft.sources.ZoneMaps.BloomHashes))
    val aggs = statsCols.flatMap(c => Seq(integral(min(col(c)), c).as(s"min_$c"),
      integral(max(col(c)), c).as(s"max_$c"))) ++
      bloomCols.map(c => bloomAgg(md5(col(c).cast("string"))).as(s"bloom_$c")) :+
      count(lit(1)).as("n_rows")
    df.groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
      .collect().toSeq.map { r =>
        def bound(side: String): Map[String, Long] = statsCols
          .filterNot(c => r.isNullAt(r.fieldIndex(s"${side}_$c")))
          .map(c => c -> r.getAs[Long](s"${side}_$c")).toMap
        TimeTravel.FileStats(r.getAs[String]("file"), r.getAs[Long]("n_rows"),
          bound("min"), bound("max"),
          bloomCols.map(c => c -> r.getSeq[Long](r.fieldIndex(s"bloom_$c")).toSeq).toMap)
      }.sortBy(_.file)
  }
}
