package graft.expressions

import org.apache.spark.sql.GraftPlanApi
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused L2 normalization of a `array<double>`: element i becomes
  * xᵢ / √(Σxⱼ²), with the array argument evaluated ONCE.
  *
  * Why a custom Expression: the composed form
  * (`transform(v, x -> x / sqrt(aggregate(v, 0.0, (acc, y) -> acc + y*y)))`
  * — the test oracle `Oracles.l2Normalize`) names `v` inside its lambda
  * body, and Spark evaluates a lambda body per element without hoisting
  * invariant subexpressions. Over `graft_embed(text, 64)` that ran the
  * embedding 65 times per chunk; here it runs once.
  *
  * Determinism: the same arithmetic as the composed form — an in-order
  * `acc + x*x` fold from 0.0, `sqrt`, then `x / norm` per element — so
  * the output is bit-identical (asserted in SimilaritySpec), and so are
  * the stored vectors and every value pinned from them.
  *
  * Null and zero semantics follow the composed form's Divide: a null
  * array gives null; an empty array gives an empty array; a null element
  * nulls the norm and so every element; a zero norm over a non-empty
  * array fails with DIVIDE_BY_ZERO when `failOnZero` (ANSI mode, fixed
  * when the call is analyzed) and gives all nulls otherwise.
  */
case class L2Normalize(child: Expression, failOnZero: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def prettyName: String = "graft_l2_normalize"

  override protected def nullSafeEval(input: Any): Any =
    L2Normalize.kernel(input.asInstanceOf[ArrayData], failOnZero)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.L2Normalize.kernel($v, $failOnZero)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object L2Normalize {

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(v: ArrayData, failOnZero: Boolean): ArrayData = {
    val n = v.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return new GenericArrayData(new Array[Any](n))
      val x = v.getDouble(i)
      acc = acc + x * x
      i += 1
    }
    val norm = java.lang.Math.sqrt(acc)
    if (n > 0 && norm == 0.0d) {
      if (failOnZero) throw GraftPlanApi.divideByZeroError()
      return new GenericArrayData(new Array[Any](n))
    }
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = v.getDouble(i) / norm; i += 1 }
    new GenericArrayData(out)
  }
}
