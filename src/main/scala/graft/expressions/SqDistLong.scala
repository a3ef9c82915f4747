package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused integer squared distance: Σ(aᵢ−bᵢ)² over two `array<long>`
  * columns in ONE pass, with Java emitted through `doGenCode` so the
  * whole expression stays inside whole-stage codegen.
  *
  * Why a custom Expression (the [[CosineSim]] argument applied to the
  * Lloyd trainers): the composed form
  * (`aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0L, (acc,v) -> acc+v)`
  * — the test oracle `Oracles.sqDist`) allocates an intermediate
  * difference array per evaluation and walks it through interpreted
  * higher-order-function lambda dispatch — in the k-means assignment
  * hot loop that is O(N·cells) interpreted folds per iteration at
  * 100 TB. This fused loop is branch-free per element and codegen'd.
  *
  * Determinism: the sum is exact long arithmetic (2²⁰-grid components,
  * squared deltas ≤ 2⁴², Dim-bounded sums far below 2⁶³), so ANY
  * accumulation order gives the bit-identical result — the fused loop,
  * the composed fold and DuckDB's SUM agree by exactness, not by
  * association order.
  *
  * Null semantics: null array → null (BinaryExpression's null-safe
  * wrapper); MISMATCHED lengths → null, matching the composed
  * `zip_with` form (which pads the shorter array with null and folds
  * null through the sum); array ELEMENTS are assumed non-null
  * (quantized embedding components — same contract as [[CosineSim]]).
  */
case class SqDistLong(left: Expression, right: Expression)
    extends BinaryExpression {

  // mismatched-length inputs yield null even when both children are
  // non-nullable, so the null slot must always be writable in codegen
  override def nullable: Boolean = true

  override def dataType: DataType = LongType

  override def prettyName: String = "graft_sqdist"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) { val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val s = ctx.freshName("s")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val d = ctx.freshName("d")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final long $d = $a.getLong($i) - $b.getLong($i);
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
