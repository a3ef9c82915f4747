package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-anchor builder: `runMain graft.ScaleUp <srcDir> <outDir> [factor]`
  * writes a `factor`× (default 10×) copy of a testdata directory with
  * re-keyed surrogate ids, so the bench can measure how per-query time
  * GROWS with data volume instead of arguing about fixed scheduling
  * floors (BENCH_NOTES.md "floor amortization").
  *
  * Semantics of the blow-up:
  *   - Every fact table (customer/supplier/part/orders/lineitem/events/
  *     documents/embeddings) is unioned `factor` times; replica `r`
  *     shifts each key column by `r * stride(domain)` where the stride
  *     is `max(key)+1` observed in the source — so keys stay unique AND
  *     every foreign-key edge (lineitem→orders→customer,
  *     lineitem→part/supplier, events.user_id) lands inside its own
  *     replica: join fan-outs, group cardinalities and selectivities all
  *     scale linearly, exactly what a true sf1 generator would produce.
  *   - Dimensions (region, nation) copy verbatim — dims don't grow with
  *     scale factor in TPC-H either, and nationkey/regionkey FKs stay
  *     valid in every replica.
  *   - Non-key payloads (dates, prices, text, vectors) repeat as-is:
  *     per-row work (chunking, embedding, distance) is identical per
  *     replica, so growth factors isolate the engine, not the data.
  *
  * Plan shape: one scan of the source table cross-joined against a
  * `factor`-row broadcast range — a single narrow stage per table, no
  * shuffle except the final `repartitionByRange` on the leading key,
  * which both spreads the big tables over enough files for a 32-core
  * scan and keeps each output file a contiguous, reproducible key range.
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val outDir = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = GraftSession(GraftSession.envCores)

    def tbl(name: String): DataFrame = spark.read.parquet(s"$srcDir/$name.parquet")
    def strideOf(name: String, key: String): Long =
      tbl(name).agg(max(col(key))).head.getLong(0) + 1L

    // one stride per key DOMAIN (not per column): orders.o_orderkey and
    // lineitem.l_orderkey must shift by the same amount or joins break
    val sC = strideOf("customer", "c_custkey")
    val sS = strideOf("supplier", "s_suppkey")
    val sP = strideOf("part", "p_partkey")
    val sO = strideOf("orders", "o_orderkey")
    val ev = tbl("events").agg(max(col("event_id")), max(col("user_id"))).head
    val (sE, sU) = (ev.getLong(0) + 1L, ev.getLong(1) + 1L)
    val sD = strideOf("documents", "doc_id")
    val sV = strideOf("embeddings", "vec_id")

    val keyShifts: Map[String, Seq[(String, Long)]] = Map(
      "customer"   -> Seq("c_custkey" -> sC),
      "supplier"   -> Seq("s_suppkey" -> sS),
      "part"       -> Seq("p_partkey" -> sP),
      "orders"     -> Seq("o_orderkey" -> sO, "o_custkey" -> sC),
      "lineitem"   -> Seq("l_orderkey" -> sO, "l_partkey" -> sP, "l_suppkey" -> sS),
      "events"     -> Seq("event_id" -> sE, "user_id" -> sU),
      "documents"  -> Seq("doc_id" -> sD),
      "embeddings" -> Seq("vec_id" -> sV),
      "region"     -> Seq.empty,
      "nation"     -> Seq.empty)

    val replicas = broadcast(spark.range(factor).toDF("__r"))
    keyShifts.toSeq.sortBy(_._1).foreach { case (name, shifts) =>
      val src = tbl(name)
      val out =
        if (shifts.isEmpty) src
        else {
          val shifted = shifts.foldLeft(src.crossJoin(replicas)) {
            case (d, (key, stride)) => d.withColumn(key, col(key) + col("__r") * lit(stride))
          }.drop("__r")
          // enough files that a 32-thread scan parallelizes; range-
          // partitioned on the leading key so file contents are a
          // reproducible function of the source, not of task scheduling
          val rows = src.count() * factor
          if (rows > 20000L) shifted.repartitionByRange(32, col(shifts.head._1))
          else shifted.repartitionByRange(1, col(shifts.head._1))
        }
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scaleup] $name x${if (shifts.isEmpty) 1 else factor} done")
    }
    spark.stop()
  }
}
