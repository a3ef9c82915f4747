package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{DataTypeMismatch, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused per-row kernels for the array-form Lloyd trainers
  * ([[graft.queries.SimilarityQueries]]): the r16 one-exchange-per-
  * iteration trainer keeps vectors packed as `array<long>` and computes
  * quantization and cell assignment NARROWLY per row. Composed, those
  * maps are higher-order functions (`transform` + `array_min`) that
  * Spark evaluates through interpreted lambda dispatch — with `round`
  * allocating a BigDecimal per element — which gave back a measurable
  * slice of the shuffle win at probe scale. These kernels are the
  * [[CosineSim]] treatment: same values, single compiled pass per row.
  */

/** round(vᵢ·2²⁰) per element: `array<double>` → `array<long>` on the
  * exact integer grid every similarity trainer quantizes to.
  *
  * Rounding: HALF_UP away from zero, exactly as Catalyst's `ROUND(x)`
  * (BigDecimal HALF_UP) and DuckDB's `round` do — see
  * [[QuantizeGrid.roundHalfUp]]. [[graft.operators.CentroidAggregator]]
  * rounds the identical grid through the same function.
  *
  * Null semantics: null array → null; a null ELEMENT stays a null
  * element — value-identical to the composed
  * `transform(e, v -> cast(round(v·2²⁰) as long))`. */
case class QuantizeGrid(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType,
    child.dataType match {
      case ArrayType(_, n) => n
      case _ => true
    })

  override def prettyName: String = "graft_quantize"

  override protected def nullSafeEval(a: Any): Any =
    QuantizeGrid.evalStatic(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // array-building codegen is all boundary plumbing — call the one
    // compiled static loop from inside the generated stage
    defineCodeGen(ctx, ev, a =>
      s"${classOf[QuantizeGrid].getName}$$.MODULE$$.evalStatic($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeGrid {

  /** x rounded half away from zero. `floor(x + 0.5)` is not exact: the
    * sum itself rounds, so 0.49999999999999994 and odd integers above
    * 2⁵² come out one too high. The fractional part `a − floor(a)` is
    * exact for every double, so the comparison against 0.5 is too. */
  def roundHalfUp(x: Double): Long = {
    val a = math.abs(x)
    val f = math.floor(a)
    val r = if (a - f >= 0.5d) f + 1.0d else f
    (if (x < 0) -r else r).toLong
  }

  @inline private def roundUnit(v: Double): Long = roundHalfUp(v * 1048576.0d)

  /** Shared by eval and the generated code. */
  def evalStatic(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) { out(i) = roundUnit(arr.getDouble(i)); i += 1 }
      ArrayData.toArrayData(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        out(i) = if (arr.isNullAt(i)) null else roundUnit(arr.getDouble(i))
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}

/** argmin-by-(distance, cid) over a packed centroid table:
  * (`array<long>` uq, `array<struct<cid long, carr array<long>>>` cents)
  * → the winning cid, or null when `cents` is empty — exactly what
  *
  *   array_min(transform(cents, ct ->
  *     struct(graft_sqdist(uq, ct.carr) as d, ct.cid as cid))).cid
  *
  * computes (lexicographic struct min = smallest d, ties to smallest
  * cid; the pack is cid-sorted, so a strict `<` scan reproduces the
  * tie-break). Distances are exact long sums — order-free. A
  * mismatched-length carr gives the composed form a null-d struct,
  * which sorts FIRST — the kernel mirrors that: the lowest-cid
  * mismatch wins outright. */
case class ArgminCell(left: Expression, right: Expression)
    extends BinaryExpression {

  override def nullable: Boolean = true

  /** Registered without an input Cast, so the shape is checked here: a
    * wrong one fails at analysis instead of reading garbage. */
  override def checkInputDataTypes(): TypeCheckResult = {
    def mismatch(index: String, required: String, e: Expression) =
      DataTypeMismatch("UNEXPECTED_INPUT_TYPE", Map(
        "paramIndex" -> index, "requiredType" -> s"\"$required\"",
        "inputSql" -> s"\"${e.sql}\"", "inputType" -> s"\"${e.dataType.sql}\""))
    if (!ArgminCell.isVector(left.dataType))
      mismatch("first", "ARRAY<BIGINT>", left)
    else if (!ArgminCell.isCents(right.dataType))
      mismatch("second", "ARRAY<STRUCT<cid: BIGINT, carr: ARRAY<BIGINT>>>", right)
    else TypeCheckSuccess
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_argmin_cell"

  override protected def nullSafeEval(uqAny: Any, centsAny: Any): Any =
    ArgminCell.evalStatic(
      uqAny.asInstanceOf[ArrayData], centsAny.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (uq, cents) => {
      val boxed = ctx.freshName("cid")
      s"""
         |Object $boxed = ${classOf[ArgminCell].getName}$$.MODULE$$.evalStatic($uq, $cents);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ((java.lang.Long) $boxed).longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ArgminCell {

  /** The two input shapes, up to nullability: `array<bigint>` and
    * `array<struct<cid: bigint, carr: array<bigint>>>`. */
  private def isVector(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  private def isCents(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(
        StructField("cid", LongType, _, _), StructField("carr", carr, _, _))), _) =>
      isVector(carr)
    case _ => false
  }

  /** Shared by eval and the generated code: null (no centroids) or the
    * argmin cid. One compiled loop, no per-cell allocation. */
  def evalStatic(uq: ArrayData, cents: ArrayData): Any = {
    val k = cents.numElements()
    if (k == 0) return null
    val n = uq.numElements()
    var bestD = Long.MaxValue
    var bestCid = 0L
    var first = true
    var i = 0
    while (i < k) {
      val row = cents.getStruct(i, 2)
      val cid = row.getLong(0)
      val carr = row.getArray(1)
      // composed form: a length-mismatch distance is null, and the
      // null-d struct sorts first — the lowest-cid mismatch wins
      if (carr.numElements() != n) return cid
      var d = 0L
      var j = 0
      while (j < n) { val t = uq.getLong(j) - carr.getLong(j); d += t * t; j += 1 }
      if (first || d < bestD) { bestD = d; bestCid = cid; first = false }
      i += 1
    }
    bestCid
  }
}
