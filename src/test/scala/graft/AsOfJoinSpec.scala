package graft

import graft.plans.{AsOfDirection, AsOfJoinOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The native as-of join vs its composed DataFrame-API oracle, plus the
  * physical-plan contracts of BOTH execution strategies (sort-merge:
  * one merge operator fed by exactly the two key shuffles; broadcast:
  * the fact side untouched by any exchange or sort) and the edge
  * semantics an as-of implementation can get wrong: no-match nulls,
  * equal-time ties, null keys/times, and self-as-of over one source.
  * Every edge test runs through both physical operators — the
  * `broadcastRight` hint pins the path.
  */
class AsOfJoinSpec extends SparkSpec {

  import spark.implicits._

  private val BothPaths: Seq[Option[Boolean]] = Seq(Some(false), Some(true))

  private def events(tpe: String): DataFrame =
    Tables(spark, sf, "events").filter(col("event_type") === tpe)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"),
        col("value"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("native as-of matches the composed inequality-join oracle on real data") {
    val left = events("purchase")
    val right = events("signup")
    val composed = Oracles.composedAsOf(left,
      right.select(right.columns.map(c => col(c).as(c + "_r")): _*),
      "user_id", "user_id_r", "t_us", "t_us_r", "event_id_r")
    for (bcast <- BothPaths) {
      val native = AsOfJoinOps.asof(left, right,
        "user_id", "user_id", "t_us", "t_us", "event_id", broadcastRight = bcast)
      assert(native.columns.toSeq == composed.columns.toSeq)
      assert(sortedRows(native) == sortedRows(composed), s"broadcastRight=$bcast diverged")
      assert(native.count() == left.count(), "as-of must preserve every left row")
    }
  }

  test("sort-merge plan: one AsOfJoinExec, two key shuffles, no window, no join replay") {
    val native = AsOfJoinOps.asof(events("purchase"), events("signup"),
      "user_id", "user_id", "t_us", "t_us", "event_id", broadcastRight = Some(false))
    // AQE wraps the plan; match on the rendered tree (nodeName AsOfJoin)
    val s = native.queryExecution.executedPlan.toString
    assert(s.contains("AsOfJoin") && !s.contains("BroadcastAsOfJoin"),
      s"expected AsOfJoinExec:\n$s")
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 2,
      s"exactly the two key shuffles expected:\n$s")
    assert(!s.contains("Window") && !s.contains("SortMergeJoin") &&
      !s.contains("BroadcastNestedLoopJoin"),
      s"the native operator must replace the window/inequality-join funnel:\n$s")
  }

  test("broadcast plan: fact side flows through with no exchange and no sort") {
    val native = AsOfJoinOps.asof(events("purchase"), events("signup"),
      "user_id", "user_id", "t_us", "t_us", "event_id", broadcastRight = Some(true))
    val s = native.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastAsOfJoin"), s"expected BroadcastAsOfJoinExec:\n$s")
    assert(s.contains("BroadcastExchange"), s"right side must broadcast:\n$s")
    assert(!s.contains("Exchange hashpartitioning"),
      s"the fact side must NOT shuffle:\n$s")
    assert(!s.contains("Sort "), s"the fact side must NOT sort:\n$s")
  }

  test("auto strategy: a small right side picks the broadcast operator from stats") {
    // tiny local relations sit far under autoBroadcastJoinThreshold
    val left = Seq((1L, "k", 10L)).toDF("lid", "k", "t")
    val right = Seq((2L, "k", 5L)).toDF("rid", "k", "t")
    val s = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid")
      .queryExecution.executedPlan.toString
    assert(s.contains("BroadcastAsOfJoin"), s"stats should choose broadcast:\n$s")
  }

  test("edge semantics: no-match nulls, backward-only, equal-time tie takes greatest tiebreak") {
    val left = Seq((1L, "k1", 100L), (2L, "k1", 10L), (3L, "k2", 100L), (4L, "kx", 50L))
      .toDF("lid", "k", "t")
    val right = Seq(
      (10L, "k1", 50L, 1.0), (11L, "k1", 50L, 2.0), // equal-time tie → lid 11
      (12L, "k1", 99L, 3.0),                        // newest ≤ 100 for lid 1
      (13L, "k2", 101L, 4.0))                       // in the future of lid 3
      .toDF("rid", "k", "t", "v")
    for (bcast <- BothPaths) {
      val out = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid",
        broadcastRight = bcast)
        .select("lid", "rid_r", "v_r").as[(Long, Option[Long], Option[Double])]
        .collect().map { case (k, r, v) => k -> ((r, v)) }.toMap
      assert(out(1L) == ((Some(12L), Some(3.0))), "greatest time ≤ left time wins")
      assert(out(2L) == ((None, None)), "all right rows in the future → nulls")
      assert(out(3L) == ((None, None)), "backward-only: future rows never match")
      assert(out(4L) == ((None, None)), "unseen key → nulls")
      // the tie itself, probed at t=50 exactly
      val tie = AsOfJoinOps.asof(
        Seq((9L, "k1", 50L)).toDF("lid", "k", "t"), right, "k", "k", "t", "t", "rid",
        broadcastRight = bcast)
        .select("rid_r").as[Option[Long]].collect().toSeq
      assert(tie == Seq(Some(11L)), "equal times resolve to the greatest tiebreak")
    }
  }

  test("null keys and null times never match on either side or path") {
    val left = Seq((1L, Option("k"), Option(100L)), (2L, Option("k"), None),
      (3L, None: Option[String], Option(100L))).toDF("lid", "k", "t")
    val right = Seq((10L, Option("k"), None, 1.0), (11L, Option("k"), Option(40L), 2.0),
      (12L, None: Option[String], Option(40L), 3.0)).toDF("rid", "k", "t", "v")
    for (bcast <- BothPaths) {
      val out = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid",
        broadcastRight = bcast)
        .select("lid", "rid_r").as[(Long, Option[Long])].collect().toMap
      assert(out(1L) == Some(11L), "the null-timed right row must be skipped, not matched")
      assert(out(2L) == None, "a null left time matches nothing")
      assert(out(3L) == None, "a null left key matches nothing — not even a null right key")
    }
  }

  test("tolerance nulls matches staler than the bound (native ≡ composed)") {
    val left = Seq((1L, "k", 100L), (2L, "k", 1000L)).toDF("lid", "k", "t")
    val right = Seq((10L, "k", 90L, 1.0)).toDF("rid", "k", "t", "v")
    val composed = Oracles.composedAsOf(left,
      right.select(right.columns.map(c => col(c).as(c + "_r")): _*),
      "k", "k_r", "t", "t_r", "rid_r", toleranceUs = Some(50L))
    for (bcast <- BothPaths) {
      val native = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid",
        toleranceUs = Some(50L), broadcastRight = bcast)
      val out = native.select("lid", "rid_r").as[(Long, Option[Long])].collect().toMap
      assert(out(1L) == Some(10L), "10 µs stale — inside the 50 µs tolerance")
      assert(out(2L) == None, "910 µs stale — tolerance must null it")
      assert(sortedRows(native) == sortedRows(composed))
    }
  }

  test("forward direction: smallest time ≥, equal-time tie takes greatest tiebreak") {
    val left = Seq((1L, "k1", 100L), (2L, "k1", 300L), (3L, "k2", 100L)).toDF("lid", "k", "t")
    val right = Seq(
      (10L, "k1", 150L, 1.0), (11L, "k1", 150L, 2.0), // equal-time tie → lid 11
      (12L, "k1", 200L, 3.0),
      (13L, "k2", 50L, 4.0))                          // in the past of lid 3
      .toDF("rid", "k", "t", "v")
    for (bcast <- BothPaths) {
      val out = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid",
        direction = AsOfDirection.Forward, broadcastRight = bcast)
        .select("lid", "rid_r").as[(Long, Option[Long])].collect().toMap
      assert(out(1L) == Some(11L), "smallest future time wins; equal times take the greatest tie")
      assert(out(2L) == None, "all right rows in the past → nulls")
      assert(out(3L) == None, "forward-only: past rows never match")
      // exact match counts when allowed, is skipped when not
      val probe = Seq((9L, "k1", 150L)).toDF("lid", "k", "t")
      def fwd(exact: Boolean) = AsOfJoinOps.asof(probe, right, "k", "k", "t", "t", "rid",
        direction = AsOfDirection.Forward, allowExact = exact, broadcastRight = bcast)
        .select("rid_r").as[Option[Long]].collect().toSeq
      assert(fwd(true) == Seq(Some(11L)))
      assert(fwd(false) == Seq(Some(12L)), "allowExact=false must step past the equal-time rows")
    }
  }

  test("backward allowExact=false excludes the equal-time row") {
    val left = Seq((1L, "k", 100L)).toDF("lid", "k", "t")
    val right = Seq((10L, "k", 100L, 1.0), (11L, "k", 90L, 2.0)).toDF("rid", "k", "t", "v")
    for (bcast <- BothPaths) {
      def bwd(exact: Boolean) = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid",
        allowExact = exact, broadcastRight = bcast)
        .select("rid_r").as[Option[Long]].collect().toSeq
      assert(bwd(true) == Seq(Some(10L)))
      assert(bwd(false) == Seq(Some(11L)))
    }
  }

  test("nearest direction: closer side wins, distance ties prefer backward, tolerance bounds both sides") {
    val left = Seq((1L, "k", 100L), (2L, "k", 149L), (3L, "k", 151L), (4L, "k", 200L),
      (5L, "k", 400L)).toDF("lid", "k", "t")
    val right = Seq((10L, "k", 90L, 1.0), (11L, "k", 210L, 2.0)).toDF("rid", "k", "t", "v")
    for (bcast <- BothPaths) {
      val out = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid",
        direction = AsOfDirection.Nearest, broadcastRight = bcast)
        .select("lid", "rid_r").as[(Long, Option[Long])].collect().toMap
      assert(out(1L) == Some(10L), "10 behind vs 110 ahead → backward")
      assert(out(2L) == Some(10L), "59 behind vs 61 ahead → backward")
      assert(out(3L) == Some(11L), "61 behind vs 59 ahead → forward")
      assert(out(4L) == Some(11L), "10 ahead vs 110 behind → forward")
      assert(out(5L) == Some(11L), "only a future-free tail remains → backward")
      // equal distance prefers the backward side
      val mid = Seq((6L, "k", 150L)).toDF("lid", "k", "t")
      val tie = AsOfJoinOps.asof(mid, right, "k", "k", "t", "t", "rid",
        direction = AsOfDirection.Nearest, broadcastRight = bcast)
        .select("rid_r").as[Option[Long]].collect().toSeq
      assert(tie == Seq(Some(10L)), "60 behind == 60 ahead → backward wins")
      // tolerance nulls everything farther than the bound on either side
      val far = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid",
        direction = AsOfDirection.Nearest, toleranceUs = Some(15L), broadcastRight = bcast)
        .select("lid", "rid_r").as[(Long, Option[Long])].collect().toMap
      assert(far(1L) == Some(10L) && far(4L) == Some(11L))
      assert(far(2L) == None && far(3L) == None && far(5L) == None)
    }
  }

  test("all directions and both paths: native ≡ composed on a seeded random sweep") {
    val rnd = new scala.util.Random(20260813L)
    val keys = (1 to 8).map(i => s"k$i")
    def mk(ids: Range): DataFrame =
      ids.map { i =>
        // ~5% null keys and ~5% null times; coarse times force equal-time ties
        val k = if (rnd.nextInt(20) == 0) None else Some(keys(rnd.nextInt(keys.length)))
        val t = if (rnd.nextInt(20) == 0) None else Some(rnd.nextInt(50).toLong)
        (i.toLong, k, t, rnd.nextDouble())
      }.toDF("id", "k", "t", "v")
    val left = mk(1 to 300)
    val right = mk(1000 to 1299)
    for (dir <- Seq(AsOfDirection.Backward, AsOfDirection.Forward, AsOfDirection.Nearest);
         exact <- Seq(true, false) if exact || dir != AsOfDirection.Nearest;
         tol <- Seq(None, Some(7L))) {
      val composed = Oracles.composedAsOf(left,
        right.select(right.columns.map(c => col(c).as(c + "_r")): _*),
        "k", "k_r", "t", "t_r", "id_r", dir, exact, tol)
      val expected = sortedRows(composed)
      for (bcast <- BothPaths) {
        val native = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "id",
          direction = dir, allowExact = exact, toleranceUs = tol, broadcastRight = bcast)
        assert(sortedRows(native) == expected,
          s"direction=$dir allowExact=$exact tolerance=$tol broadcastRight=$bcast diverged")
        assert(native.count() == 300)
      }
    }
  }

  test("mismatched cross-side key/time types and float keys are rejected loudly") {
    val lInt = Seq((1, 100L)).toDF("k", "t")
    val rLong = Seq((1L, 90L, 10L)).toDF("k", "t", "rid")
    // INT left key vs BIGINT right key: the broadcast path would
    // silently match nothing — must throw instead
    val e1 = intercept[IllegalArgumentException] {
      AsOfJoinOps.asof(lInt, rLong, "k", "k", "t", "t", "rid")
    }
    assert(e1.getMessage.contains("key column types must match"))
    val lMs = Seq((1L, 100)).toDF("k", "t")
    val e2 = intercept[IllegalArgumentException] {
      AsOfJoinOps.asof(lMs, rLong, "k", "k", "t", "t", "rid")
    }
    assert(e2.getMessage.contains("time column types must match"))
    // floating-point keys: UnsafeRow hashing and RowOrdering disagree on
    // -0.0/NaN, so the two physical operators could diverge — rejected
    val lF = Seq((1.0, 100L)).toDF("k", "t")
    val rF = Seq((1.0, 90L, 10L)).toDF("k", "t", "rid")
    val e3 = intercept[IllegalArgumentException] {
      AsOfJoinOps.asof(lF, rF, "k", "k", "t", "t", "rid")
    }
    assert(e3.getMessage.contains("floating-point"))
  }

  test("extreme time values: distance arithmetic saturates instead of wrapping") {
    // ltv - heldTime overflows a raw Long here (MaxValue-10 - MinValue+10);
    // wrapped arithmetic would read the backward candidate as NEGATIVE
    // distance and wrongly prefer it over the adjacent forward row
    val left = Seq((1L, "k", Long.MaxValue - 10L)).toDF("lid", "k", "t")
    val right = Seq((10L, "k", Long.MinValue + 10L, 1.0), (11L, "k", Long.MaxValue - 5L, 2.0))
      .toDF("rid", "k", "t", "v")
    for (bcast <- BothPaths) {
      val near = AsOfJoinOps.asof(left, right, "k", "k", "t", "t", "rid",
        direction = AsOfDirection.Nearest, broadcastRight = bcast)
        .select("rid_r").as[Option[Long]].collect().toSeq
      assert(near == Seq(Some(11L)), s"broadcastRight=$bcast: forward row at distance 5 must win")
      // tolerance on the astronomically-stale backward match must fail
      // closed (saturate to MaxValue), not wrap to a tiny distance
      val tolOut = AsOfJoinOps.asof(left,
        right.filter(col("rid") === 10L), "k", "k", "t", "t", "rid",
        toleranceUs = Some(1000L), broadcastRight = bcast)
        .select("rid_r").as[Option[Long]].collect().toSeq
      assert(tolOut == Seq(None), s"broadcastRight=$bcast: wrapped tolerance must not match")
    }
  }

  test("self-as-of over one source resolves both sides' attributes") {
    val ev = events("purchase").limit(200)
    for (bcast <- BothPaths) {
      val out = AsOfJoinOps.asof(ev, ev, "user_id", "user_id", "t_us", "t_us", "event_id",
        broadcastRight = bcast)
      // every purchase's closest not-newer purchase is itself
      assert(out.filter(col("event_id_r") =!= col("event_id")).count() == 0)
      assert(out.count() == 200)
    }
  }
}
