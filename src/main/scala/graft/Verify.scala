package graft
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import Json.mapper

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump only those
    // (local incremental checking; the driver passes exactly 2 args)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val spark = GraftSession(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // per-query wall time on stderr: the scale canary — a query
        // that grows superlinearly from sf0.01 to sf0.1 surfaces here
        // long before a 100 TB run finds it
        System.err.println(f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.2fs")
      } catch { case e: Throwable =>
        // A throwing query must still leave a countable artifact: an
        // empty output dir with an _ERROR.json marker (so any consumer
        // listing $outDir sees the row and fails to read it as parquet)
        // PLUS an entry in the aggregated errors file below. Round 6's
        // "green" board was 17 silently-vanished queries — never again.
        System.err.println(s"[verify] $name FAILED: ${e.getClass.getName}: ${e.getMessage}")
        failed(name) = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(500)}"
        val d = new java.io.File(s"$outDir/$name")
        // clear any STALE parquet from a previous successful run first —
        // otherwise the driver would read yesterday's result and pass.
        // Recursive: an interrupted write can leave _temporary/ trees
        // that a flat delete would silently skip.
        def rmr(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rmr)
          f.delete()
        }
        if (d.exists()) rmr(d)
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR.json"),
          mapper.writeValueAsString(ListMap("query" -> name, "error" -> failed(name))))
      }
    }
    // Aggregated failure ledger — written even when empty so its absence
    // is itself a signal (old Verify vs new), and counts so a shrunken
    // report can't masquerade as green.
    val total = SparkEntry.queries.count { case (n, _) => only.forall(_.contains(n)) }
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      mapper.writeValueAsString(ListMap("n_registered" -> total,
        "n_ok" -> (total - failed.size), "n_failed" -> failed.size, "errors" -> failed)))
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size}/$total queries FAILED: ${failed.keys.mkString(", ")}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writeValueAsString(
        SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) }))
    spark.stop()
  }
}
