package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.functions._

import graft.operators.JoinAdvisor

/** One-off measurement main for the [[graft.operators.JoinAdvisor]]
  * A/B rows in BENCH_NOTES: the same join executed under the plain
  * plan and under the advisor's stats-driven choice, wall-clock
  * medians printed as one JSON line. Run:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.AdvisorBench"
  *
  * Leg 1 disables Spark's own size-estimate broadcast (the regime
  * where file-size estimates have decayed — post-filter, post-join, or
  * remote tables with no stats) so the ONLY source of the broadcast is
  * the stored row stats. Leg 2 measures the salt tier against plain on
  * a single pathological key, with AQE on — recording where AQE's own
  * skew split already suffices (the honest boundary of the tier).
  */
object AdvisorBench {

  private def time[A](n: Int)(body: => A): Double = {
    body // warm
    val ts = (1 to n).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.sorted
    ts(ts.size / 2)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(GraftSession.envCores)
    import spark.implicits._

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // ---- leg 1: broadcast-from-stats, size estimates unavailable
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val orders = Tables(spark, sfDir, "orders")
    val cust = Tables(spark, sfDir, "customer")
    val oStats = JoinAdvisor.collect(orders.withColumnRenamed("o_custkey", "k"), "k")
    val cStats = JoinAdvisor.collect(cust.withColumnRenamed("c_custkey", "k"), "k")
    val choice1 = JoinAdvisor.choose(oStats, cStats)
    val o = orders.withColumnRenamed("o_custkey", "k")
    val c = cust.withColumnRenamed("c_custkey", "k")
    def agg1(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("c_nationkey").agg(sum("o_totalprice").as("s"))
    val tPlain1 = time(3)(noop(agg1(JoinAdvisor(o, c, "k", JoinAdvisor.Plain))))
    val tAdv1 = time(3)(noop(agg1(JoinAdvisor(o, c, "k", choice1))))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    // ---- leg 2: pathological key, AQE on (its own skew split active)
    val n = 4000000L
    // ~130-byte payloads: the hot key's single reducer must move real
    // bytes, not just row headers, for the skew to cost anything
    val fact = spark.range(n)
      .select((when(col("id") % 10 =!= 0, lit(424242L)).otherwise(col("id") % 1000))
        .as("k"), concat_ws("", Seq.fill(4)(md5(col("id").cast("string"))): _*).as("payload"))
    val dim = spark.range(1000).select(col("id").as("k"), md5(col("id").cast("string")).as("attr"))
      .unionByName(Seq((424242L, "hot")).toDF("k", "attr"))
    val fStats = JoinAdvisor.KeyStats(n, 1001, Seq("424242" -> (n * 9 / 10)), 16000)
    val dStats = JoinAdvisor.KeyStats(1001, 1001, Seq("424242" -> 1L), 2L * 1024 * 1024 * 1024 / 1001)
    val choice2 = JoinAdvisor.choose(fStats, dStats)
    def agg2(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("attr").agg(count(lit(1)).as("n"))
    val tPlain2 = time(3)(noop(agg2(JoinAdvisor(fact, dim, "k", JoinAdvisor.Plain))))
    val tAdv2 = time(3)(noop(agg2(JoinAdvisor(fact, dim, "k", choice2))))
    // same leg with AQE off — the regime the salt tier exists for
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val tPlain2Off = time(3)(noop(agg2(JoinAdvisor(fact, dim, "k", JoinAdvisor.Plain))))
    val tAdv2Off = time(3)(noop(agg2(JoinAdvisor(fact, dim, "k", choice2))))
    spark.conf.set("spark.sql.adaptive.enabled", "true")

    val s3 = Bench.fixed(3) _
    println(Json.mapper.writeValueAsString(ListMap(
      "leg1" -> ListMap("join" -> "orders x customer sf0.1", "plain_smj_s" -> s3(tPlain1),
        "advised_s" -> s3(tAdv1), "choice" -> choice1.tag),
      "leg2" -> ListMap("join" -> "hot-key fact x dim", "plain_aqe_s" -> s3(tPlain2),
        "advised_s" -> s3(tAdv2), "plain_noaqe_s" -> s3(tPlain2Off),
        "advised_noaqe_s" -> s3(tAdv2Off), "choice" -> choice2.tag))))
    spark.stop()
  }
}
