package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.DataFrame

import Json.mapper

/** Benchmark main (driver contract): one JSON line on stdout.
  *
  * Times the BASELINE.md headline subset (SURVEY §2.11 queries 1-5, 7, 9)
  * against SPARK_GRAFT_SF_DIR. Each query materializes fully through the
  * noop sink — count() would let Catalyst prune expensive projections
  * (embeddings, chunk text) and fake the numbers. One untimed warmup
  * pass amortizes JVM/codegen startup, mirroring a warm engine; each
  * query is then timed SPARK_GRAFT_ITERS times (default 3) and the
  * MEDIAN is reported, so first-run noise can't masquerade as a plan
  * problem. A query that throws reports -1 with its error class in the
  * "errors" map instead of silently folding its time-to-failure into
  * the total.
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q1_pricing_summary",    // §2.11-1 filter+agg
    "q3_shipping_priority",  // §2.11-2 3-way join + top-k
    "q5_local_supplier",     // §2.11-3 6-way star join
    "q4_top_customers_per_nation", // §2.11-4 per-group top-k window
    "q6_rollup_revenue",     // §2.11-5 rollup
    "q_events_session",      // §2.11-6 sessionization
    "q_doc_chunks",          // §2.11-7 doc pipeline (chunk+enrich)
    "q_pipeline_embed",      // §2.11-7 doc pipeline (embed)
    "q_knn_bruteforce",      // §2.11-9 cosine top-k
    // skipping tier: builds a 7-commit stats-carrying versioned table,
    // then answers a naive date-window filter through the injected
    // StatsPrune rule — tracked per round so a regression in sidecar
    // planning (manifest collect, probe evaluation, splice) shows up
    // in BENCH_rN like any relational regression. No DuckDB pair (the
    // oracle SQL has no commit/skip work), so it rides outside
    // ratio_total by the intersection rule.
    "q_tt_prune_auto")

  private def runOnce(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Queries whose pinned warm anchor growth is ≤1.5× (the floor-bound
    * class in BENCH_NOTES' measured-growth table): their time is a
    * per-job floor, so an anchor leg measuring them at >4× growth is a
    * degraded-sandbox sample, not a plan change — the self-check below
    * labels such a record instead of letting a one-off noise sample
    * stand as the number of record (the BENCH_r08 adjudication). */
  private val floorClass: Set[String] = Set(
    "q1_pricing_summary", "q6_rollup_revenue",
    "q_knn_bruteforce", "q_pipeline_embed")

  /** Pinned DuckDB wall-clock per headline query at this scale factor
    * (tools/duckdb_baseline.jsonl, produced by tools/bench_duckdb.py
    * from the SAME oracle SQL the correctness gate runs) — so every
    * BENCH_r*.json carries the 2×-bar comparison inline instead of the
    * baseline being re-measured ad hoc each round. One JSON record per
    * line; an absent file/sf degrades to an empty map, never a bench
    * failure. */
  private def duckdbBaseline(sfName: String): Map[String, Double] = {
    val path = sys.env.getOrElse("SPARK_GRAFT_DUCKDB_BASELINE", "tools/duckdb_baseline.jsonl")
    val f = new java.io.File(path)
    if (!f.isFile) Map.empty
    else
      scala.util.Using(scala.io.Source.fromFile(f)) { src =>
        src.getLines().filter(_.trim.nonEmpty).map(l => mapper.readTree(l)).collect {
          case n if n.path("sf").asText == sfName =>
            n.path("query").asText -> n.path("duckdb_s").asDouble
        }.toMap
      }.getOrElse(Map.empty)
  }

  /** `v` rounded to `k` decimals: JSON numbers keep the fixed precision
    * the bench records have always carried. */
  private[graft] def fixed(k: Int)(v: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(v).setScale(k, java.math.RoundingMode.HALF_UP)

  private def nums(xs: Seq[(String, Double)], k: Int): ListMap[String, java.math.BigDecimal] =
    ListMap.from(xs.map { case (n, v) => n -> fixed(k)(v) })

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "3").toInt.max(1)
    val spark = GraftSession(cpus)

    val qs = headline.flatMap(n => SparkEntry.queries.get(n).map(n -> _))

    /** warmup once untimed, then report the (median, min) of `n` timed
      * runs per query against `dir`; failures get -1 + an entry in
      * `errs`. The min rides beside the median in the output: under a
      * degraded-sandbox window the median inflates while the min stays
      * the warm floor, so a reader can tell a noise outlier from a
      * real regression without re-running. */
    def timeAll(dir: String, n: Int,
        errs: scala.collection.mutable.Map[String, String]): Seq[(String, (Double, Double))] = {
      qs.foreach { case (_, fn) =>
        try runOnce(fn(spark, dir)) catch { case _: Throwable => () }
      }
      qs.map { case (name, fn) =>
        val times = (1 to n).flatMap { _ =>
          val t0 = System.nanoTime()
          try {
            runOnce(fn(spark, dir))
            Some((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              errs.getOrElseUpdate(name, e.getClass.getSimpleName)
              None
          }
        }
        name -> (if (times.isEmpty) (-1.0, -1.0) else (median(times), times.min))
      }
    }

    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val resultsFull = timeAll(sfDir, iters, errors)
    val results = resultsFull.map { case (k, (med, _)) => k -> med }
    val mins = resultsFull.map { case (k, (_, mn)) => k -> mn }
    val total = results.map(_._2).filter(_ >= 0).sum
    val base = duckdbBaseline(new java.io.File(sfDir).getName)
    val duck = results.flatMap { case (k, _) => base.get(k).map(k -> _) }
    val ratio = results.flatMap { case (k, v) =>
      base.get(k).filter(b => b > 0 && v >= 0).map(b => k -> v / b)
    }
    // ratio over the INTERSECTION only: a query missing from the
    // baseline file must drop out of both sides, or a partial baseline
    // silently skews the headline ratio
    val paired = results.filter { case (k, v) => v >= 0 && base.contains(k) }
    val duckTotal = paired.map { case (k, _) => base(k) }.sum
    val ratioTotal = if (duckTotal > 0) paired.map(_._2).sum / duckTotal else -1.0

    // Scale anchor: when a 10× re-keyed copy of the bench data exists
    // (built by graft.ScaleUp, conventionally at benchdata/sf1), run the
    // same headline set there and report per-query GROWTH factors
    // (anchor_s / main_s). This measures whether a query's time is a
    // fixed per-job floor (growth ≪ data growth: scheduling/codegen
    // amortizes at scale) or real data-proportional work — the evidence
    // a 100× scale-up claim needs. Skippable: SPARK_GRAFT_NO_ANCHOR=1.
    // Yields the (full, compact) anchor records.
    val anchorDir = sys.env.getOrElse("SPARK_GRAFT_ANCHOR_DIR", "benchdata/sf1")
    val anchor: Option[(ListMap[String, Any], ListMap[String, Any])] =
      if (sys.env.get("SPARK_GRAFT_NO_ANCHOR").contains("1") ||
          !new java.io.File(anchorDir).isDirectory) None
      else {
        val aErrors = scala.collection.mutable.LinkedHashMap.empty[String, String]
        // MORE iters than the main leg (default 5): the anchor has been
        // the board's noisiest number three rounds running — a
        // degraded-sandbox window inflates a short sample's median while
        // the sf0.1 leg stays flat (BENCH_NOTES r8–r10). More samples +
        // the min-based ratio below keep one bad window from standing
        // as the number of record.
        val aIters = sys.env.get("SPARK_GRAFT_ANCHOR_ITERS").map(_.toInt)
          .getOrElse(iters.max(5))
        val aFull = timeAll(anchorDir, aIters, aErrors)
        val aResults = aFull.map { case (k, (med, _)) => k -> med }
        val aMins = aFull.map { case (k, (_, mn)) => k -> mn }
        val mainByName = results.toMap
        val mainMin = mins.toMap
        val growthPairs = aResults.flatMap { case (k, v) =>
          mainByName.get(k).filter(m => m > 0 && v >= 0).map(m => k -> v / m)
        }
        val growthMinPairs = aMins.flatMap { case (k, mn) =>
          mainMin.get(k).filter(m => m > 0 && mn >= 0).map(m => k -> mn / m)
        }
        // self-check: a floor-classified query measuring >4× growth is
        // flagged — with its min-based growth alongside, the record
        // says ITSELF whether the sample was noise (min stays in band)
        // or a real regression (min moved too)
        val minByName = growthMinPairs.toMap
        val outliers = ListMap.from(growthPairs.collect {
          case (k, g) if floorClass(k) && g > 4.0 =>
            k -> ListMap("growth" -> fixed(2)(g),
              "growth_min" -> fixed(2)(minByName.getOrElse(k, -1.0)))
        })
        val aBase = duckdbBaseline(new java.io.File(anchorDir).getName)
        val aDuck = aResults.flatMap { case (k, _) => aBase.get(k).map(k -> _) }
        val aRatio = aResults.flatMap { case (k, v) =>
          aBase.get(k).filter(b => b > 0 && v >= 0).map(b => k -> v / b)
        }
        val aPaired = aResults.filter { case (k, v) => v >= 0 && aBase.contains(k) }
        val aDuckTotal = aPaired.map { case (k, _) => aBase(k) }.sum
        val aRatioTotal =
          if (aDuckTotal > 0) aPaired.map(_._2).sum / aDuckTotal else -1.0
        // HEADLINE anchor number = the min-of-iters ratio under its own
        // key `ratio_total_min` (r10 verdict ask: the min is the warm
        // floor a healthy sandbox reproduces, so builder and judge runs
        // converge on it). `ratio_total` stays MEDIAN-based — the r11
        // ADVICE close: the key kept its original cross-round semantics
        // so BENCH_r*.json records compare like-for-like under it.
        val aMinByName = aMins.toMap
        val aRatioTotalMin =
          if (aDuckTotal > 0) aPaired.map { case (k, _) => aMinByName(k) }.sum / aDuckTotal
          else -1.0
        val aTotal = aResults.map(_._2).filter(_ >= 0).sum
        val head = ListMap[String, Any]("sf" -> anchorDir, "iters" -> aIters,
          "value" -> fixed(3)(aTotal))
        val tail = ListMap[String, Any]("floor_outliers" -> outliers,
          "duckdb_total" -> fixed(3)(aDuckTotal), "ratio_total" -> fixed(2)(aRatioTotal),
          "ratio_total_min" -> fixed(2)(aRatioTotalMin), "errors" -> aErrors)
        val perQuery = ListMap[String, Any]("queries" -> nums(aResults, 3),
          "queries_min" -> nums(aMins, 3), "growth" -> nums(growthPairs, 2),
          "growth_min" -> nums(growthMinPairs, 2), "duckdb" -> nums(aDuck, 4),
          "ratio" -> nums(aRatio, 2))
        Some((head ++ perQuery ++ tail, head ++ tail))
      }
    // r16 (VERDICT r15 ask #2): r14's printed line was truncated by the
    // driver's stdout-tail window — the line had grown past the capture
    // with the anchor's per-query maps. The PRINTED line now carries the
    // headline fields only (same timing, same queries — nothing removed
    // from `queries`/`queries_min`; the anchor keeps its totals/ratios
    // but drops its per-query maps), staying well under 2 KB regardless
    // of how many anchor queries ride along; the FULL payload — anchor
    // per-query medians/mins/growth and the per-query duckdb/ratio maps
    // — persists unchanged in bench_out.json.
    val common = ListMap[String, Any]("metric" -> "total", "value" -> fixed(3)(total),
      "unit" -> "sec", "queries" -> nums(results, 3), "queries_min" -> nums(mins, 3),
      "duckdb_total" -> fixed(3)(duckTotal), "ratio_total" -> fixed(2)(ratioTotal),
      "errors" -> errors, "iters" -> iters, "cpus" -> cpus, "sf" -> sfDir)
    val fullLine = mapper.writeValueAsString(common ++ ListMap("duckdb" -> nums(duck, 4),
      "ratio" -> nums(ratio, 2)) ++ anchor.map(a => "anchor" -> a._1))
    val compactLine = mapper.writeValueAsString(common ++ anchor.map(a => "anchor" -> a._2))
    // self-contained record (r10 verdict ask): BENCH_rN.json keeps only
    // the tail of stdout, which truncated the main leg out of the number
    // of record — persist the full payload as a file AND print the
    // compact form as the single last line
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_out.json"), fullLine + "\n")
    catch { case e: java.io.IOException => // read-only cwd must not fail the bench
      System.err.println(s"[bench] bench_out.json not written, full payload lost: $e")
    }
    println(compactLine)
    spark.stop()
  }
}
