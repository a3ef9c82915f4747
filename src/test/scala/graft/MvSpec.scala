package graft

import graft.plans.MvCatalog
import graft.queries.Fixtures.scans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialized-view auto-rewrite: registration, exact-match
  * substitution, miss behavior, multi-instance safety, unregistration. */
class MvSpec extends SparkSpec {

  private def mvDir(tag: String) =
    graft.queries.Fixtures.dirs(spark, "graft_mv", s"mv_$tag").head

  private def perUserAgg: DataFrame =
    Tables(spark, sf, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("sum_cents"))

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("a registered aggregate is answered from the materialization, same rows") {
    val dir = mvDir("hit")
    try {
      val direct = perUserAgg.orderBy("user_id").collect()
      MvCatalog.register(spark, "per_user", perUserAgg, dir)
      val q = perUserAgg // re-built from scratch: new exprIds, same semantics
      assert(scans(q, dir),
        s"rewritten plan must scan the MV:\n${planOf(q)}")
      assert(q.orderBy("user_id").collect().toSeq == direct.toSeq,
        "MV answer must equal the base-table answer")
    } finally { MvCatalog.clear() }
  }

  test("a semantically different aggregate is NOT rewritten") {
    val dir = mvDir("miss")
    try {
      MvCatalog.register(spark, "per_user", perUserAgg, dir)
      val other = Tables(spark, sf, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"))
      assert(!scans(other, dir),
        "a different grouping must keep reading the base table")
      val filtered = Tables(spark, sf, "events")
        .filter(col("value") > 50.0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("sum_cents"))
      assert(!scans(filtered, dir),
        "an extra filter must NOT be served from the unfiltered MV")
    } finally { MvCatalog.clear() }
  }

  test("a narrowing filter on grouping columns is served from the MV (subsumption)") {
    val dir = mvDir("subsume")
    def sliced: DataFrame = Tables(spark, sf, "events")
      .filter(col("user_id") % 10 === 3)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("sum_cents"))
    try {
      val direct = sliced.orderBy("user_id").collect()
      MvCatalog.register(spark, "per_user", perUserAgg, dir)
      // the filtered query is NOT an exact match — it must hit via the
      // filter-subsumption probe (predicate on the grouping column)
      val q = sliced
      val p = planOf(q)
      assert(scans(q, dir),
        s"grouping-column slice must be served from the MV:\n$p")
      // and the re-applied predicate pushes into the MV scan itself
      assert(p.contains("PushedFilters") && !p.contains("events.parquet"),
        s"slice must not touch the base table:\n$p")
      assert(q.orderBy("user_id").collect().toSeq == direct.toSeq,
        "subsumed answer must equal the base-table answer")
    } finally { MvCatalog.clear() }
  }

  test("a column subset (reordered) of the MV is served with pruning (projection subsumption)") {
    val dir = mvDir("proj")
    try {
      // query asks for ONE of the MV's two aggregates — not an exact
      // match (column pruning rewrote both the agg list and the child)
      def slim: DataFrame = Tables(spark, sf, "events")
        .groupBy(col("user_id"))
        .agg(sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("cents_total"))
      val direct = slim.orderBy("user_id").collect()
      MvCatalog.register(spark, "per_user", perUserAgg, dir)
      val q = slim
      val p = planOf(q)
      assert(scans(q, dir),
        s"column-subset query must be served from the MV:\n$p")
      assert(!p.contains("events.parquet"), s"must not touch the base table:\n$p")
      // pruning reaches the MV scan: the unused n_events column is not read
      assert(!p.contains("n_events"), s"unused MV column must be pruned:\n$p")
      assert(q.orderBy("user_id").collect().toSeq == direct.toSeq,
        "projected answer must equal the base-table answer")
      // an aggregate the MV did NOT materialize declines to the base table
      val miss = Tables(spark, sf, "events")
        .groupBy(col("user_id"))
        .agg(max(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("max_cents"))
      assert(!scans(miss, dir),
        "a non-materialized aggregate must keep reading the base table")

      // the probes COMPOSE: a query that both filters on the grouping
      // column AND takes a column subset still lands on the MV
      def both: DataFrame = Tables(spark, sf, "events")
        .filter(col("user_id") % 10 === 3)
        .groupBy(col("user_id"))
        .agg(sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("cents_total"))
      val directBoth = {
        MvCatalog.clear()
        val r = both.orderBy("user_id").collect()
        MvCatalog.register(spark, "per_user", perUserAgg, dir)
        r
      }
      val pb = planOf(both)
      assert(scans(both, dir),
        s"filter+subset query must be served from the MV:\n$pb")
      assert(both.orderBy("user_id").collect().toSeq == directBoth.toSeq)
    } finally { MvCatalog.clear() }
  }

  test("a coarser grouping (roll-up) is re-aggregated from the MV") {
    val dir = mvDir("rollup")
    def fine: DataFrame = Tables(spark, sf, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("sum_cents"),
        max(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("max_cents"))
    def coarse: DataFrame = Tables(spark, sf, "events")
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("sum_cents"),
        max(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("max_cents"))
    def global: DataFrame = Tables(spark, sf, "events")
      .agg(sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("sum_cents"))
    try {
      val directCoarse = coarse.orderBy("user_id").collect().toSeq
      val directGlobal = global.collect().toSeq
      MvCatalog.register(spark, "per_user_type", fine, dir)
      // the coarser query re-aggregates the materialization...
      val p = planOf(coarse)
      assert(scans(coarse, dir),
        s"roll-up must be served from the finer MV:\n$p")
      assert(!p.contains("events.parquet"), s"must not rescan the base table:\n$p")
      assert(coarse.orderBy("user_id").collect().toSeq == directCoarse,
        "re-aggregated answer must equal the base-table answer")
      // ...including the global aggregate
      val pg = planOf(global)
      assert(scans(global, dir),
        s"the global roll-up must be served too:\n$pg")
      assert(global.collect().toSeq == directGlobal)
      // an avg cannot be folded from per-group avgs: decline
      val avgQ = Tables(spark, sf, "events")
        .groupBy(col("user_id"))
        .agg(avg(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("a"))
      assert(!scans(avgQ, dir),
        "avg-of-avgs must NOT be served by re-aggregation")
      // grouping by a column the MV didn't materialize: decline
      val missing = Tables(spark, sf, "events")
        .groupBy(col("props"))
        .agg(count(lit(1)).as("n_events"))
      assert(!scans(missing, dir))
    } finally { MvCatalog.clear() }
  }

  test("two references to one MV in a self-join get distinct instances") {
    val dir = mvDir("self")
    try {
      MvCatalog.register(spark, "per_user", perUserAgg, dir)
      // both sides keep the FULL MV output — a projected side would be
      // column-pruned into an aggregate that legitimately no longer
      // matches the 3-column definition (exact matching, by design)
      val a = perUserAgg.as("a")
      val b = perUserAgg.as("b")
      val joined = a.join(b, col("a.user_id") === col("b.user_id"))
        .select(col("a.user_id"), col("a.n_events"), col("a.sum_cents"),
          col("b.n_events").as("n2"), col("b.sum_cents").as("s2"))
      // plans without ambiguous-attribute failures and both sides scan the MV
      val p = planOf(joined)
      assert(scans(joined, dir))
      assert(joined.count() == perUserAgg.count())
    } finally { MvCatalog.clear() }
  }

  test("registering a definition subsumable by an EXISTING MV keeps its own identity") {
    // Without suspension, optimizing the narrower definition during
    // registration would be projection-rewritten into the wider MV,
    // registering a mangled canonical its own queries never match.
    val wideDir = mvDir("wide")
    val narrowDir = mvDir("narrow")
    try {
      val wide = Tables(spark, sf, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("sum_cents"),
          max(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("max_cents"))
      def narrow: DataFrame = Tables(spark, sf, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(ROUND(value * 100.0) AS BIGINT)")).as("sum_cents"))
      MvCatalog.register(spark, "wide", wide, wideDir)
      MvCatalog.register(spark, "narrow", narrow, narrowDir)
      val p = planOf(narrow)
      assert(scans(narrow, narrowDir),
        s"the exact query must be served from its OWN materialization:\n$p")
    } finally { MvCatalog.clear() }
  }

  test("unregistering restores the base-table plan") {
    val dir = mvDir("unreg")
    try {
      MvCatalog.register(spark, "per_user", perUserAgg, dir)
      MvCatalog.unregister("per_user")
      assert(!scans(perUserAgg, dir))
    } finally { MvCatalog.clear() }
  }

  test("registration rejects a materialization whose schema diverged") {
    val dir = mvDir("stale")
    try {
      // write a DIFFERENT schema to the target first; register must not
      // silently serve it
      Tables(spark, sf, "events").select(col("user_id")).limit(5)
        .write.mode("overwrite").parquet(dir)
      // register overwrites the materialization from the definition, so
      // this succeeds — the guard is about the read-back schema
      MvCatalog.register(spark, "per_user", perUserAgg, dir)
      assert(scans(perUserAgg, dir))
    } finally { MvCatalog.clear() }
  }

  test("incremental maintenance: refresh folds ONLY the appended delta") {
    import graft.plans.MvMaintenance
    import graft.sources.TimeTravel
    val base = mvDir("ivm_base")
    val mv = mvDir("ivm_mv")
    def define(df: DataFrame): DataFrame = df.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    try {
      val ev = Tables(spark, sf, "events")
        .select(col("user_id"), expr("CAST(ROUND(value * 100.0) AS BIGINT)").as("cents"))
      TimeTravel.commitOverwrite(ev.filter(col("user_id") % 3 =!= 0), base) // v1
      MvMaintenance.register(spark, "ivm", base, mv)(define)
      assert(MvMaintenance.isFresh(spark, "ivm"))

      TimeTravel.commitAppend(ev.filter(col("user_id") % 3 === 0), base)   // v2
      assert(!MvMaintenance.isFresh(spark, "ivm"), "append must mark the MV stale")
      val res = MvMaintenance.refresh(spark, "ivm")
      assert(res.mode == "incremental", s"pure-append history must merge, got $res")
      // the O(new data) claim as evidence: the partial scanned exactly
      // the files v2 added, never v1's
      assert(res.deltaFiles.nonEmpty && res.deltaFiles.forall(_.contains("data/v00002")),
        s"delta scan must read only the appended version: ${res.deltaFiles}")
      assert(res.deltaFiles.forall(f => !f.contains("data/v00001")))

      // merged materialization ≡ the from-scratch aggregate over ALL rows
      val expect = define(ev).orderBy("user_id").collect().toSeq
      assert(spark.read.parquet(mv).orderBy("user_id").collect().toSeq == expect,
        "incremental fold must equal the full recompute")
      // and the transparent rewrite serves the refreshed parquet
      val q = define(TimeTravel.read(spark, base))
      assert(scans(q, mv),
        s"refreshed MV must keep serving the rewrite:\n${planOf(q)}")
      assert(MvMaintenance.refresh(spark, "ivm").mode == "noop")

      // a NON-APPEND commit (MoR delete) declines to a full rebuild —
      // and the rebuilt MV reflects the deletion
      TimeTravel.deleteMoR(spark, base, col("cents") < 0L)                 // v3
      val res2 = MvMaintenance.refresh(spark, "ivm")
      assert(res2.mode == "rebuild", s"delete history must rebuild, got $res2")
      MvCatalog.clear()
      val expect2 = define(TimeTravel.read(spark, base)).orderBy("user_id").collect().toSeq
      assert(spark.read.parquet(mv).orderBy("user_id").collect().toSeq == expect2,
        "rebuild after a MoR delete must reflect the deletion")
    } finally { MvMaintenance.clear(); MvCatalog.clear() }
  }

  test("incremental maintenance fuzz: a random append history always folds ≡ recompute") {
    import graft.plans.MvMaintenance
    import graft.sources.TimeTravel
    val base = mvDir("ivm_fuzz_base")
    val mv = mvDir("ivm_fuzz_mv")
    // computed grouping expression (not a bare column): exercises the
    // Alias(groupingExpr) leg of the merge-spec introspection
    def define(df: DataFrame): DataFrame = df.groupBy((col("user_id") % 7).as("cohort"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    try {
      val ev = Tables(spark, sf, "events")
        .select(col("user_id"), expr("CAST(ROUND(value * 100.0) AS BIGINT)").as("cents"))
      // seeded random partition of the rows into 1 base + 4 append
      // batches — the history shape is arbitrary, the invariant is not
      val seed = new scala.util.Random(0xA11CE).nextInt()
      val bucket = pmod(hash(col("user_id"), col("cents"), lit(seed)), lit(5))
      TimeTravel.commitOverwrite(ev.filter(bucket === 0), base)
      MvMaintenance.register(spark, "ivm_fuzz", base, mv)(define)
      (1 to 4).foreach { b =>
        TimeTravel.commitAppend(ev.filter(bucket === b), base)
        val res = MvMaintenance.refresh(spark, "ivm_fuzz")
        assert(res.mode == "incremental", s"batch $b: $res")
        MvCatalog.clear() // ground truth must not be served from the MV
        val truth = define(TimeTravel.read(spark, base)).orderBy("cohort").collect().toSeq
        assert(spark.read.parquet(mv).orderBy("cohort").collect().toSeq == truth,
          s"fold diverged from recompute after append batch $b")
      }
    } finally { MvMaintenance.clear(); MvCatalog.clear() }
  }

  test("incremental maintenance: a projected-away grouping key declines to rebuild") {
    import graft.plans.MvMaintenance
    import graft.sources.TimeTravel
    val base = mvDir("ivm_pk_base")
    val mv = mvDir("ivm_pk_mv")
    // groupBy(user_id, event_type) but only user_id selected: the MV
    // legitimately holds several rows per user_id — merging on the
    // visible key would collapse them (the r8 review's finding)
    def define(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"), col("event_type"))
      .agg(sum(col("cents")).as("s"))
      .select(col("user_id"), col("s"))
    try {
      val ev = Tables(spark, sf, "events")
        .select(col("user_id"), col("event_type"),
          expr("CAST(ROUND(value * 100.0) AS BIGINT)").as("cents"))
      TimeTravel.commitOverwrite(ev.filter(col("user_id") % 3 =!= 0), base)
      MvMaintenance.register(spark, "ivm_pk", base, mv)(define)
      TimeTravel.commitAppend(ev.filter(col("user_id") % 3 === 0), base)
      val res = MvMaintenance.refresh(spark, "ivm_pk")
      assert(res.mode == "rebuild",
        s"a hidden grouping key must NOT merge incrementally, got $res")
      MvCatalog.clear()
      val expect = define(TimeTravel.read(spark, base))
        .orderBy("user_id", "s").collect().toSeq
      assert(spark.read.parquet(mv).orderBy("user_id", "s").collect().toSeq == expect)
    } finally { MvMaintenance.clear(); MvCatalog.clear() }
  }

  test("incremental maintenance: a non-self-maintainable definition declines to rebuild") {
    import graft.plans.MvMaintenance
    import graft.sources.TimeTravel
    val base = mvDir("ivm_avg_base")
    val mv = mvDir("ivm_avg_mv")
    // DISTINCT aggregates are outside both the mergeable class and the
    // decomposition algebra (distinct-of-distincts cannot fold)
    def define(df: DataFrame): DataFrame = df.groupBy(col("user_id"))
      .agg(countDistinct(col("cents")).as("nd_cents"))
    try {
      val ev = Tables(spark, sf, "events")
        .select(col("user_id"), expr("CAST(ROUND(value * 100.0) AS BIGINT)").as("cents"))
      TimeTravel.commitOverwrite(ev.filter(col("user_id") % 3 =!= 0), base) // v1
      MvMaintenance.register(spark, "ivm_avg", base, mv)(define)
      TimeTravel.commitAppend(ev.filter(col("user_id") % 3 === 0), base)    // v2
      val res = MvMaintenance.refresh(spark, "ivm_avg")
      assert(res.mode == "rebuild",
        s"a DISTINCT aggregate must NOT be merged incrementally, got $res")
      MvCatalog.clear()
      val expect = define(TimeTravel.read(spark, base)).orderBy("user_id").collect().toSeq
      assert(spark.read.parquet(mv).orderBy("user_id").collect().toSeq == expect)
    } finally { MvMaintenance.clear(); MvCatalog.clear() }
  }

  test("incremental maintenance: an avg decomposes to sum+count pieces and folds ≡ recompute") {
    import graft.plans.MvMaintenance
    import graft.sources.TimeTravel
    val base = mvDir("ivm_davg_base")
    val mv = mvDir("ivm_davg_mv")
    // avg beside directly-mergeable aggregates over a computed key —
    // the decomposed-state tier: pieces live in mv/_state, the serving
    // parquet keeps the definition's exact schema
    def define(df: DataFrame): DataFrame = df.groupBy((col("user_id") % 7).as("cohort"))
      .agg(count(lit(1)).as("n"), avg(col("cents")).as("avg_cents"),
        max(col("cents")).as("mx"))
    try {
      val ev = Tables(spark, sf, "events")
        .select(col("user_id"), expr("CAST(ROUND(value * 100.0) AS BIGINT)").as("cents"))
      val seed = new scala.util.Random(0xD4C0).nextInt()
      val bucket = pmod(hash(col("user_id"), col("cents"), lit(seed)), lit(5))
      TimeTravel.commitOverwrite(ev.filter(bucket === 0), base)
      MvMaintenance.register(spark, "ivm_davg", base, mv)(define)
      val statePath = new org.apache.hadoop.fs.Path(s"$mv/_state")
      assert(statePath.getFileSystem(spark.sessionState.newHadoopConf()).exists(statePath),
        "registration must materialize the piece state for the avg")
      (1 to 4).foreach { b =>
        TimeTravel.commitAppend(ev.filter(bucket === b), base)
        val res = MvMaintenance.refresh(spark, "ivm_davg")
        assert(res.mode == "incremental", s"batch $b: $res")
        assert(res.deltaFiles.nonEmpty &&
          res.deltaFiles.forall(_.contains(f"data/v${b + 1}%05d")),
          s"batch $b folded the wrong delta: ${res.deltaFiles}")
        MvCatalog.clear() // ground truth must not be served from the MV
        val truth = define(TimeTravel.read(spark, base)).orderBy("cohort").collect().toSeq
        assert(spark.read.parquet(mv).orderBy("cohort").collect().toSeq == truth,
          s"decomposed fold diverged from recompute after append batch $b")
      }
      // the serving schema is the definition's, pieces stay hidden
      assert(spark.read.parquet(mv).columns.toSeq == Seq("cohort", "n", "avg_cents", "mx"))
    } finally { MvMaintenance.clear(); MvCatalog.clear() }
  }

  test("roll-up over an avg-bearing MV folds the average from the decomposed state") {
    import graft.plans.MvMaintenance
    import graft.sources.TimeTravel
    val base = mvDir("ravg_base")
    val mv = mvDir("ravg_mv")
    def fine(df: DataFrame): DataFrame = df
      .groupBy(col("event_type"), (col("user_id") % 5).as("cohort"))
      .agg(count(lit(1)).as("n"), avg(col("cents")).as("avg_cents"),
        sum(col("cents")).as("s"))
    try {
      val ev = Tables(spark, sf, "events")
        .select(col("user_id"), col("event_type"),
          expr("CAST(ROUND(value * 100.0) AS BIGINT)").as("cents"))
      TimeTravel.commitOverwrite(ev, base)
      MvMaintenance.register(spark, "ravg", base, mv)(fine)

      // the COARSER cut with the avg: must serve from the state pieces
      val q = TimeTravel.read(spark, base)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), avg(col("cents")).as("avg_cents"),
          sum(col("cents")).as("s"))
      val plan = q.queryExecution.executedPlan.toString
      assert(scans(q, s"$mv/_state"),
        s"avg roll-up must read the piece state:\n$plan")
      assert(!scans(q, base), "the base table must not be rescanned")
      val served = q.orderBy("event_type").collect().toSeq
      MvCatalog.clear()
      val truth = TimeTravel.read(spark, base)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), avg(col("cents")).as("avg_cents"),
          sum(col("cents")).as("s"))
        .orderBy("event_type").collect().toSeq
      assert(served == truth,
        "state-folded roll-up must equal the from-scratch aggregate")
      // re-register (rebuild re-points the catalog, state included)
      MvMaintenance.rebuild(spark, "ravg")

      // an avg-free coarser cut still serves from the SERVING parquet
      val q2 = TimeTravel.read(spark, base)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
      val plan2 = q2.queryExecution.executedPlan.toString
      assert(scans(q2, mv) &&
        !scans(q2, s"$mv/_state"),
        s"avg-free roll-up should not need the state:\n$plan2")
    } finally { MvMaintenance.clear(); MvCatalog.clear() }
  }

  test("streaming delta maintenance: published MV serves the rewrite, replay-idempotent") {
    import graft.streaming.MvStreams
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = mvDir("stream_delta")
    val mv = mvDir("stream_mv")
    def ckpt() = java.nio.file.Files.createTempDirectory("mv_ckpt").toString

    // the stream ingests exactly the base table's (user_id, value) rows
    val rows = Tables(spark, sf, "events")
      .select(col("user_id"), col("value")).as[(Long, Double)].collect()
    val (h1, h2) = rows.splitAt(rows.length / 2)

    try {
      val input = MemoryStream[(Long, Double)]
      input.addData(h1.toSeq: _*)
      input.addData(h2.toSeq: _*)
      MvStreams.deltaStream(input.toDF().toDF("user_id", "value"), base, ckpt())
      MvStreams.publish(spark, base, mv, "per_user_stream", perUserAgg)

      // the registered query is now served from the streamed MV...
      val q = perUserAgg
      assert(scans(q, mv),
        s"rewrite must serve the streamed materialization:\n${planOf(q)}")
      // ...and fold-of-deltas equals the from-scratch aggregate exactly
      MvCatalog.clear()
      val direct = perUserAgg.orderBy("user_id").collect().toSeq
      MvCatalog.registerMaterialized(spark, "per_user_stream", perUserAgg, mv)
      assert(q.orderBy("user_id").collect().toSeq == direct)

      // replay from a fresh checkpoint: same data, same batch ids -> the
      // batch-scoped overwrite rewrites identical partitions, MV unchanged
      val input2 = MemoryStream[(Long, Double)]
      input2.addData(h1.toSeq: _*)
      input2.addData(h2.toSeq: _*)
      MvStreams.deltaStream(input2.toDF().toDF("user_id", "value"), base, ckpt())
      MvStreams.publish(spark, base, mv, "per_user_stream", perUserAgg)
      assert(perUserAgg.orderBy("user_id").collect().toSeq == direct,
        "replaying the whole stream must not change the published MV")
    } finally { MvCatalog.clear() }
  }
}
