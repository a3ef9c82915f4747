package graft

import graft.queries.Fixtures
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Per-step timing probe for the multi-job fixture queries
  * (optimization-round evidence, guide §1: measure BEFORE changing).
  * The driver's Verify gate times whole queries; the expensive fixture
  * queries are SEQUENCES of maintenance jobs (build → append → compact
  * → probe), and deciding what to optimize needs the step breakdown —
  * job floor vs data work — not the total. Prints one `step,seconds`
  * line per step on stdout.
  *
  *   sbt "runMain graft.StepProbe index_compact /root/testdata/sf0.01"
  */
object StepProbe {

  private def time[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[step] $name,${(System.nanoTime() - t0) / 1e9}%.3f")
    r
  }

  def main(args: Array[String]): Unit = {
    val which = args.headOption.getOrElse("index_compact")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = GraftSession(GraftSession.envCores)
    // absorb session warmup outside the steps (the first job in any
    // session pays ~5s of JVM/codegen startup that is not step cost)
    Tables(spark, sfDir, "documents").write.format("noop").mode("overwrite").save()
    which match {
      case "index_compact" => indexCompact(spark, sfDir)
      case "delta_vacuum" => deltaVacuum(spark, sfDir)
      case "mv_incremental" => mvIncremental(spark, sfDir)
      case "tt_stream_cdf" => ttStreamCdf(spark, sfDir)
      case "tt_prune_auto" => ttPruneAuto(spark, sfDir)
      case "build_ivfpq" => buildIvfPq(spark, sfDir)
      case "trigram" => trigram(spark, sfDir)
      case "floor" => floor(spark, sfDir)
      case other => System.err.println(s"[step] unknown probe $other")
    }
    spark.stop()
  }

  private def indexCompact(s: SparkSession, d: String): Unit = {
    import graft.sources.InvertedIndex
    val docs = Tables(s, d, "documents")
    val Seq(dir) = Fixtures.dirs(s, "graft_step", "index")
    time("build")(InvertedIndex.build(docs.filter(col("doc_id") % 3 === 0), dir))
    time("append1")(InvertedIndex.append(docs.filter(col("doc_id") % 3 === 1), dir))
    time("append2")(InvertedIndex.append(docs.filter(col("doc_id") % 3 === 2), dir))
    time("compact")(InvertedIndex.compact(s, dir))
    time("probe")(
      InvertedIndex.searchBm25(s, dir, Seq("vector", "hash", "join"), 25)
        .write.format("noop").mode("overwrite").save())
  }

  /** Mirrors q_delta_vacuum's step sequence. */
  private def deltaVacuum(s: SparkSession, d: String): Unit = {
    import graft.sources.{DeltaExport, DeltaMaintenance, DeltaRead, TimeTravel}
    val Seq(base, tgt) = Fixtures.dirs(s, "graft_step", "dvac_base", "dvac_tgt")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), graft.Exact.units(col("c_acctbal"), 2).as("cents"))
    time("commit_v1")(TimeTravel.commitOverwrite(c.coalesce(1), base))
    // mirrors the r16 fixture overlap: pinned-version export ∥ next DML
    time("delete_v2+snapshot")(graft.sources.ParallelJobs.awaitAll[Unit](Seq(
      () => { TimeTravel.deleteMoR(s, base, col("k") % 5 === 2): Unit },
      () => DeltaExport.snapshot(s, base, tgt, version = Some(1L)))))
    time("delete_v3+append1")(graft.sources.ParallelJobs.awaitAll[Any](Seq(
      () => TimeTravel.deleteMoR(s, base, col("k") % 7 === 3),
      () => DeltaExport.append(s, base, tgt, toVersion = Some(2L)))))
    time("export_append2")(DeltaExport.append(s, base, tgt))
    time("vacuum_dry")(DeltaMaintenance.vacuum(s, tgt, dryRun = true).size)
    time("checkpoint")(DeltaMaintenance.checkpoint(s, tgt))
    time("cleanup_log")(DeltaMaintenance.cleanupLog(s, tgt).size)
    time("vacuum")(DeltaMaintenance.vacuum(s, tgt).size)
    time("read_agg")(DeltaRead.read(s, tgt)
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      .collect())
  }

  /** Mirrors q_mv_incremental's step sequence. */
  private def mvIncremental(s: SparkSession, d: String): Unit = {
    import graft.plans.{MvCatalog, MvMaintenance}
    import graft.sources.TimeTravel
    val Seq(base, mv) = Fixtures.dirs(s, "graft_step", "ivm_base", "ivm_mv")
    val name = "ivm_step"
    MvMaintenance.unregister(name); MvCatalog.unregister(name)
    val o = Tables(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"),
        graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    def define(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).as("sum_cents"))
    time("commit_v1")(TimeTravel.commitOverwrite(o.filter(col("o_orderkey") % 5 =!= 0), base))
    time("register")(MvMaintenance.register(s, name, base, mv)(define))
    time("append_v2")(TimeTravel.commitAppend(o.filter(col("o_orderkey") % 5 === 0), base))
    time("refresh")(MvMaintenance.refresh(s, name))
    time("serve")(define(TimeTravel.read(s, base))
      .write.format("noop").mode("overwrite").save())
    MvMaintenance.unregister(name); MvCatalog.unregister(name)
  }

  /** Mirrors q_tt_stream_cdf's step sequence. */
  private def ttStreamCdf(s: SparkSession, d: String): Unit = {
    import graft.sources.TimeTravel
    val Seq(base, sink, cp) = Fixtures.dirs(s, "graft_step", "cdf_base", "cdf_sink", "cdf_cp")
    val c = Tables(s, d, "customer")
      .select(col("c_custkey").as("k"), graft.Exact.units(col("c_acctbal"), 2).as("cents"))
    time("commit_v1")(TimeTravel.commitOverwrite(c, base))
    time("delete_v2")(TimeTravel.deleteMoR(s, base, col("k") % 10 === 0))
    time("update_v3")(TimeTravel.updateMoR(s, base, col("k") % 7 === 3,
      Seq("cents" -> (col("cents") + 7))))
    time("append_v4")(TimeTravel.commitAppend(
      c.filter(col("k") % 9 === 0 && col("k") > 0)
        .select((-col("k")).as("k"), (col("k") * 2).as("cents")), base))
    time("stream")({
      val q = graft.streaming.TableStreams
        .readTableStream(s, base, startingVersion = Some(1L), cdfKey = Some("k"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", cp)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.mode("append").parquet(sink): Unit
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    })
    time("read_sink")(s.read.parquet(sink)
      .groupBy(col("_change_type")).agg(count(lit(1)))
      .write.format("noop").mode("overwrite").save())
  }

  /** Mirrors q_tt_prune_auto's step sequence — commit seven stats-
    * carrying versions, load the `graft-table` snapshot, plan the
    * filter (StatsPrune), execute — and prints the Spark jobs each step
    * ran beside its seconds. Two passes on fresh tables: the first
    * pays the JVM's first parquet writes, the second is warm. */
  private def ttPruneAuto(s: SparkSession, d: String): Unit = {
    import graft.sources.TimeTravel
    import org.apache.spark.sql.functions.expr
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(): Unit
      }
    }
    def step[A](name: String)(f: => A): A = {
      jobs.set(0)
      val r = time(name)(f)
      Thread.sleep(300) // let the listener bus drain
      println(s"[step] ${name}_jobs,${jobs.get}")
      r
    }
    val o = Tables(s, d, "orders").select(
      expr("datediff(cast(o_orderdate as date), date'1970-01-01')").cast("long").as("dd"),
      graft.Exact.units(col("o_totalprice"), 2).as("cents"))
    def day(y: Int) = java.time.LocalDate.of(y, 1, 1).toEpochDay
    s.sparkContext.addSparkListener(listener)
    for (pass <- 1 to 2) {
      println(s"[step] pass,$pass")
      val Seq(dir) = Fixtures.dirs(s, "graft_step", s"ttpa$pass")
      step("commit")(TimeTravel.commitSeries((1992 to 1998).map { y =>
        o.filter(col("dd") >= day(y) && col("dd") < day(y + 1)).coalesce(1)
      }, dir, statsCols = Seq("dd")))
      val snap = step("load")(s.read.format("graft-table").load(dir))
      val q = snap.filter(col("dd") >= day(1996) && col("dd") < day(1997))
      step("plan")(q.queryExecution.optimizedPlan)
      step("execute")(q.agg(count(lit(1)), sum(col("cents")))
        .write.format("noop").mode("overwrite").save())
    }
    s.sparkContext.removeSparkListener(listener)
  }

  /** Times the at-rest IVF×PQ build (IndexSpec's parameters) — the r15
    * loop-exit pin's 10× timed evidence (VERDICT r15 #7). */
  private def buildIvfPq(s: SparkSession, d: String): Unit = {
    val Seq(path) = Fixtures.dirs(s, "graft_step", "ivfpq")
    val emb = Tables(s, d, "embeddings")
    time("train_centroids")(graft.sources.VectorIndex.trainCentroids(
      emb, "vec_id", "embedding", 8, 2))
    time("build_ivfpq")(graft.sources.VectorIndex.buildIvfPq(
      emb, "vec_id", "embedding", cells = 8, kmIters = 2,
      pqSubs = 8, pqK = 16, pqIters = 2, path = s"$path/index"))
  }

  /** Per-job-floor accounting for the `perf-weak-at-toy-scale` class
    * (VERDICT r15 #8): what a headline micro-query's seconds are made
    * of — pure job floor (empty job), plan+schedule floor (0-row scan
    * through the full plan), and the data work on top. Each timed 3×,
    * min printed (the warm floor). */
  private def floor(s: SparkSession, d: String): Unit = {
    def minOf(f: => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // pure job floor: one empty-ish job, no shuffle, no scan
    println(f"[step] empty_job,${minOf(noop(s.range(1).toDF("x")))}%.3f")
    // one-shuffle floor: groupBy over 32 rows (exchange + AQE stage)
    println(f"[step] one_shuffle_job,${minOf(noop(
      s.range(32).toDF("x").groupBy(col("x") % 4).count()))}%.3f")
    // per-query job/stage/task counts: how many scheduling floors a
    // micro-query pays (AQE materializes one job per exchange stage,
    // plus broadcast builds and the final write job)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (sys.env.contains("SPARK_GRAFT_FLOOR_VERBOSE"))
          println(s"[job] ${e.jobId} stages=${e.stageInfos.size} " +
            e.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(200))
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        jobs.incrementAndGet(): Unit
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(e.stageInfo.numTasks): Unit
      }
    }
    s.sparkContext.addSparkListener(listener)
    for (name <- Seq("q1_pricing_summary", "q6_rollup_revenue",
        "q4_top_customers_per_nation", "q_events_session", "q_knn_bruteforce")) {
      val fn = SparkEntry.queries(name)
      noop(fn(s, d)) // warm
      val sec = minOf(noop(fn(s, d)))
      jobs.set(0); stages.set(0); tasks.set(0)
      noop(fn(s, d))
      Thread.sleep(300) // let the listener bus drain
      println(f"[step] $name%s,$sec%.3f,jobs=${jobs.get},stages=${stages.get},tasks=${tasks.get}")
    }
    s.sparkContext.removeSparkListener(listener)
  }

  /** Times the trigram build + the q_trigram_search serving shape —
    * the r15 candidate-pin's 10× timed evidence (VERDICT r15 #7). */
  private def trigram(s: SparkSession, d: String): Unit = {
    import graft.sources.TrigramIndex
    val Seq(path) = Fixtures.dirs(s, "graft_step", "trg")
    val docs = Tables(s, d, "documents")
    time("build")(TrigramIndex.build(docs, path, cellHexChars = 1))
    time("search")({
      val cand = TrigramIndex.candidates(s, path, "vector index")
        .localCheckpoint()
      val nCand = cand.agg(count(lit(1)).as("n_candidates"))
      TrigramIndex.search(docs, path, "vector index", Some(cand))
        .crossJoin(org.apache.spark.sql.functions.broadcast(nCand))
        .write.format("noop").mode("overwrite").save()
    })
  }
}
