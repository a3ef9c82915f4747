package graft

import graft.functions.{Embedders, Similarity}
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("GraftExtensions registers graft_cosine in the session") {
    assert(spark.catalog.functionExists("graft_cosine"))
    // callable straight from SQL
    val v = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head().getDouble(0)
    assert(v == 1.0)
  }

  /** Run `body` with the FuseCosine rewrite disabled, so "composed"
    * really evaluates through the interpreted HOF path. */
  private def withoutFuseRule[A](body: => A): A = {
    val key = "spark.sql.optimizer.excludedRules"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "graft.plans.FuseCosine")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("fused CosineSim is bit-identical to the composed Catalyst form") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(200) { i =>
      (i.toLong,
        Seq.fill(64)(rnd.nextDouble() * 2 - 1),
        Seq.fill(64)(rnd.nextDouble() * 2 - 1))
    }
    // repartition keeps the projection out of ConvertToLocalRelation's
    // reach — otherwise the whole select constant-folds to a LocalTableScan
    // and neither form appears in the executed plan
    val df = rows.toDF("id", "a", "b").repartition(4)
    val both = withoutFuseRule {
      val q = df.select(col("id"),
        Similarity.cosine(col("a"), col("b")).as("composed"),
        call_function("graft_cosine", col("a"), col("b")).as("fused"))
      // the exclusion must actually hold, or "composed" is fused too and
      // this test proves nothing: exactly ONE graft_cosine (the explicit one)
      assert("graft_cosine".r.findAllIn(q.queryExecution.executedPlan.toString).size == 1)
      q.collect()
    }
    both.foreach { r =>
      // exact bit equality, not approximate: same accumulation order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)), s"row ${r.getLong(0)}")
    }
  }

  test("FuseCosine rule rewrites the composed HOF shape to the fused kernel") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .repartition(2) // keep the projection live (see above)
    val q = df.select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(q.queryExecution.executedPlan.toString.contains("graft_cosine"),
      "composed cosine over non-null double arrays must fuse")
    // value unchanged by the rewrite
    val fusedVal = q.head().getDouble(0)
    val plainVal = withoutFuseRule {
      df.select(Similarity.cosine(col("a"), col("b")).as("c")).head().getDouble(0)
    }
    assert(java.lang.Double.doubleToLongBits(fusedVal) ==
      java.lang.Double.doubleToLongBits(plainVal))
    // nullable-element arrays must NOT fuse (null-propagation differs)
    val nullable = Seq((Seq(Option(1.0), Option(2.0)), Seq(Option(3.0), Option(4.0))))
      .toDF("a", "b").repartition(2)
    val q2 = nullable.select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(!q2.queryExecution.executedPlan.toString.contains("graft_cosine"),
      "containsNull=true input must stay on the composed path")
  }

  test("CosineSim accepts float arrays via implicit cast and handles nulls") {
    import spark.implicits._
    val df = Seq(
      (1L, Option(Seq(1.0f, 2.0f, 3.0f)), Option(Seq(1.0f, 2.0f, 3.0f))),
      (2L, None: Option[Seq[Float]], Option(Seq(1.0f, 2.0f, 3.0f))))
      .toDF("id", "fa", "fb")
    val out = df.select(col("id"),
        call_function("graft_cosine", col("fa"), col("fb")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(math.abs(out(1L).get - 1.0) < 1e-12)
    assert(out(2L).isEmpty)
  }

  test("CosineSim returns null on mismatched lengths, matching the composed form") {
    import spark.implicits._
    // ADVICE r2: the fused kernel must agree with the composed zip_with
    // form off the equal-dim happy path too — both answer null
    val df = Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0)),
      (2L, Seq(1.0, 2.0), Seq(1.0, 2.0)))
      .toDF("id", "a", "b")
    val out = df.select(col("id"),
        Similarity.cosine(col("a"), col("b")).as("composed"),
        call_function("graft_cosine", col("a"), col("b")).as("fused"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(out(1L) == ((true, true)), "mismatched dims: both forms null")
    assert(out(2L) == ((false, false)))
  }

  test("fused DeterministicEmbed is bit-identical to the composed embedder") {
    import spark.implicits._
    val texts = Seq("", "a", "hello world", "x" * 500,
      "unicode: héllo wörld ünïcode", (1 to 100).map(i => s"w$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
    val both = df.select(col("id"),
        Oracles.deterministicEmbed(col("t"), 16).as("composed"),
        call_function("graft_embed", col("t"), lit(16)).as("fused"))
      .collect()
    both.foreach { r =>
      val c = r.getSeq[Double](1)
      val f = r.getSeq[Double](2)
      assert(c.size == 16 && f.size == 16)
      c.zip(f).foreach { case (x, y) =>
        assert(java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y),
          s"row ${r.getLong(0)}")
      }
    }
    // null text -> null embedding
    val nulls = Seq((1L, null: String)).toDF("id", "t")
      .select(call_function("graft_embed", col("t"), lit(8)).as("e")).head()
    assert(nulls.isNullAt(0))
  }

  /** Each row's array as raw bits, nulls kept: None for a null array,
    * None in a slot for a null element. */
  private def bitsOf(r: org.apache.spark.sql.Row, i: Int): Option[Seq[Option[Long]]] =
    if (r.isNullAt(i)) None
    else Some(r.getSeq[java.lang.Double](i).map(d =>
      Option(d).map(x => java.lang.Double.doubleToRawLongBits(x))))

  /** `v` normalized by the fused kernel and by the composed oracle, per
    * row, over `df` and over a repartitioned copy: local rows fold at
    * planning by interpreted eval, the copy runs generated code in tasks. */
  private def l2Pairs(df: org.apache.spark.sql.DataFrame) =
    Seq(df, df.repartition(2)).flatMap(_.select(col("id"),
        Embedders.l2Normalize(col("v")).as("fused"),
        Oracles.l2Normalize(col("v")).as("composed"))
      .collect().map(r => (r.getLong(0), bitsOf(r, 1), bitsOf(r, 2))))

  test("fused L2Normalize is bit-identical to the composed normalization") {
    // real chunk embeddings, at the stored dim and a short one
    val chunks = graft.pipeline.DocPipeline.chunks(Tables(spark, sf, "documents"))
      .select(monotonically_increasing_id().as("id"), col("chunk"))
    for (dim <- Seq(64, 8)) {
      val pairs = l2Pairs(chunks.select(col("id"),
        Embedders.deterministicEmbedIn(spark, col("chunk"), dim).as("v")))
      assert(pairs.size > 100)
      pairs.foreach { case (id, fused, composed) =>
        assert(fused.exists(_.size == dim) && fused == composed, s"dim $dim row $id")
      }
    }
    // edge shapes: empty, null, a null element (the composed norm is null,
    // so every element is), NaN, and no zero norm
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType, containsNull = true))))
    def arrays(vs: Seq[java.lang.Double]*) = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v) }.asJava, schema)
    }
    val edges = l2Pairs(arrays(Seq(), null, Seq(1.0, null, 2.0),
      Seq(3.0, -4.0), Seq(Double.NaN, 1.0), Seq(-0.0, 5.0)))
    edges.foreach { case (id, fused, composed) => assert(fused == composed, s"edge row $id") }
    assert(edges.collect { case (1L, f, _) => f }.forall(_.isEmpty), "null array -> null")
    assert(edges.collect { case (0L, f, _) => f }.forall(_.contains(Nil)), "empty -> empty")
    assert(edges.collect { case (2L, f, _) => f }.forall(_.contains(Seq(None, None, None))),
      "a null element nulls every element")
    // a zero norm (zeros, or squares that underflow to 0.0) divides by
    // zero: DIVIDE_BY_ZERO under ANSI in both forms, all nulls otherwise
    val zeros = arrays(Seq(0.0, 0.0), Seq(-0.0), Seq(1e-200, -1e-200))
    withConf("spark.sql.ansi.enabled" -> "false") {
      val pairs = l2Pairs(zeros)
      pairs.foreach { case (id, fused, composed) =>
        assert(fused == composed && fused.exists(_.forall(_.isEmpty)), s"zero row $id")
      }
    }
    withConf("spark.sql.ansi.enabled" -> "true") {
      def divideByZero(form: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
        Seq(zeros, zeros.repartition(2)).foreach { df =>
          val e = intercept[Exception](df.select(form(col("v"))).collect())
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains("DIVIDE_BY_ZERO")), e)
        }
      divideByZero(Embedders.l2Normalize)
      divideByZero(Oracles.l2Normalize)
    }
  }

  test("cosineIn calls the fused graft_cosine kernel") {
    val fast = Similarity.cosineIn(spark, col("a"), col("b"))
    assert(fast.toString.contains("graft_cosine"))
  }

  /** Doubles x for which `floor(x + 0.5)` is not HALF_UP: the sum
    * rounds up (0.49999999999999994, odd integers above 2⁵²), plus
    * plain half-integers and their negatives. */
  private val RoundingEdges: Seq[Double] = {
    val pos = Seq(0.49999999999999994, 0.5, 1.5, 2.5, 2.4999999999999996,
      4503599627370497.0, 4503599627370499.0, 9007199254740991.0, 1234567.5)
    pos ++ pos.map(-_)
  }

  test("fused QuantizeGrid ≡ composed ROUND, including HALF_UP boundary values") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // v·2²⁰ = x exactly: the grid scale is a power of two
    val edges = RoundingEdges.map(x => Option(x / 1048576.0d))
    val rows: Seq[(Int, Option[Seq[Option[Double]]])] =
      Seq((0, Some(edges)), (1, Some(Seq(Some(0.25), None, Some(-0.75)))), (2, None)) ++
        (3 until 100).map(i => (i, Some(Seq.fill(16)(Option(rnd.nextDouble() * 2 - 1)))))
    val both = rows.toDF("id", "e").repartition(2) // keep codegen live
      .select(col("id"), Oracles.quantize(col("e")).as("composed"),
        call_function("graft_quantize", col("e")).as("fused"))
      .collect()
    assert(both.length == rows.size)
    both.foreach { r =>
      assert(r.get(1) == r.get(2), s"row ${r.getInt(0)}")
    }
    val edgeRow = both.find(_.getInt(0) == 0).get.getSeq[Long](2)
    assert(edgeRow.take(2) == Seq(0L, 1L), "0.49999999999999994 rounds to 0, 0.5 to 1")
    assert(edgeRow(5) == 4503599627370497L, "odd integers above 2^52 stay put")
  }

  test("fused SqDistLong and ArgminCell ≡ their composed forms (seeded sweep)") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    def vec(n: Int): Seq[Long] = Seq.fill(n)(rnd.nextInt(1 << 21).toLong - (1 << 20))
    val rows = (0 until 200).map { i =>
      val uq = vec(4)
      // cid-sorted packs of 0..5 centroids; duplicate centroids force
      // distance ties, a short carr takes the null-distance branch
      val k = rnd.nextInt(6)
      val cents = (0 until k).map { j =>
        val carr = rnd.nextInt(8) match {
          case 0 => vec(3)
          case 1 => uq
          case _ => vec(4)
        }
        (j * 3L + rnd.nextInt(3), carr)
      }
      val dup = if (k > 0 && rnd.nextBoolean()) Seq((100L, cents.head._2)) else Nil
      (i, uq, vec(if (i % 17 == 0) 3 else 4), cents ++ dup)
    }
    val df = rows.toDF("id", "uq", "other", "raw").repartition(2)
      .withColumn("cents", transform(col("raw"), c =>
        struct(c.getField("_1").as("cid"), c.getField("_2").as("carr"))))
    val both = df.select(col("id"),
        Oracles.sqDist(col("uq"), col("other")).as("d_composed"),
        Similarity.sqDistIn(spark, col("uq"), col("other")).as("d_fused"),
        Oracles.argminCid(col("uq"), col("cents")).as("a_composed"),
        Similarity.argminCid(spark, col("uq"), col("cents")).as("a_fused"))
      .collect()
    assert(both.length == rows.size)
    both.foreach { r =>
      assert(r.get(1) == r.get(2), s"sqdist row ${r.getInt(0)}")
      assert(r.get(3) == r.get(4), s"argmin row ${r.getInt(0)}")
    }
    assert(both.exists(_.isNullAt(2)), "the sweep must cover the mismatched-length null")
    assert(both.exists(_.isNullAt(4)), "the sweep must cover the empty pack")
  }

  test("graft_argmin_cell rejects a wrong input shape at analysis") {
    val ok = spark.sql("SELECT graft_argmin_cell(array(1L, 2L), " +
      "array(named_struct('cid', 7L, 'carr', array(1L, 2L)))) AS c").head().getLong(0)
    assert(ok == 7L)
    for (call <- Seq(
        "graft_argmin_cell(array(1.0D, 2.0D), array(named_struct('cid', 7L, 'carr', array(1L, 2L))))",
        "graft_argmin_cell(array(1L, 2L), array(named_struct('cid', 7L, 'carr', array(1.0D, 2.0D))))",
        "graft_argmin_cell(array(1L, 2L), array(named_struct('carr', array(1L, 2L), 'cid', 7L)))",
        "graft_argmin_cell(array(1L, 2L), array(1L, 2L))")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(s"SELECT $call"))
      assert(e.getCondition.startsWith("DATATYPE_MISMATCH"), s"$call: ${e.getMessage}")
    }
  }
}
