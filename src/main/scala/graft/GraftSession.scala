package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session factory. Every main and the test suite build
  * their session here, so every session loads [[GraftExtensions]]: the
  * helpers in `graft.functions` call its `graft_*` kernels and the as-of
  * join plans through its strategy, with no composed fallback. In a
  * session built elsewhere without the extension, a kernel call fails at
  * analysis naming the missing `graft_*` routine.
  *
  * Spark's own settings still apply on top, e.g.
  * `-Dspark.sql.optimizer.excludedRules=graft.plans.FuseCosine`.
  */
object GraftSession {

  /** Cores for a tool run: `SPARK_GRAFT_CPUS`, else every available
    * processor. */
  def envCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Generated classes the JVM-wide codegen cache holds. One pass of
    * the ten headline queries plus two kNN calls compiles ~180 distinct
    * classes; at Spark's default of 100 every warm pass recompiled
    * nearly all of them. */
  private val CodegenCacheEntries = 2000

  /** `local[cores]` with one shuffle partition per core. */
  def apply(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
