package graft

import org.apache.spark.sql.SparkSession

/** Plan-capture main (optimization-round evidence): writes
  * `.explain("formatted")` output for the named queries (default: the
  * bench headline set) to `<outDir>/<name>.txt`. Builds its session in
  * [[GraftSession]], as Bench does, so the captured plan is the plan
  * the bench times. Pass the round's plans directory explicitly; the
  * default is a scratch dir so a bare run can never overwrite a
  * committed round's evidence.
  *
  *   sbt "runMain graft.Explain /root/testdata/sf0.1 plans/r16 [q1,q2,...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "plans/scratch"
    val names =
      if (args.length > 2) args(2).split(',').toSeq else Bench.headline
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    val spark = GraftSession(GraftSession.envCores)
    new java.io.File(outDir).mkdirs()
    // evidence-only pseudo-query: the loop-exit pins hide the executed
    // training lineage behind `Scan ExistingRDD` in every SERVED plan,
    // so the trainer restructure's plan evidence needs the UNPINNED
    // assignment plan dumped directly (same hook PlanSpec asserts on)
    val pseudo: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map("_pq_train_assign" -> ((s, d) =>
        graft.queries.SimilarityQueries.pqTrain(s, d, pin = false)._2))
    names.foreach { n =>
      SparkEntry.queries.get(n).orElse(pseudo.get(n)) match {
        case None => System.err.println(s"[explain] unknown query $n")
        case Some(fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/$n$suffix.txt"), plan)
            System.err.println(s"[explain] wrote $outDir/$n$suffix.txt")
          } catch { case e: Throwable =>
            System.err.println(s"[explain] $n FAILED: ${e.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
