package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused cosine similarity: Σaᵢbᵢ / (√Σaᵢ² · √Σbᵢ²) in ONE pass over the
  * arrays, with Java emitted through `doGenCode` so the whole expression
  * stays inside whole-stage codegen.
  *
  * Why a custom Expression: the composed form
  * (`aggregate(zip_with(...))` in [[graft.functions.Similarity]])
  * allocates an intermediate product array per row and evaluates the
  * three folds through the interpreted higher-order-function path —
  * in the brute-force kNN hot loop that is O(N·Q) interpreted lambda
  * dispatches at 100 TB. This fused loop is branch-free per element and
  * codegen'd.
  *
  * Determinism contract (QueryDef): the accumulation order is the SAME
  * left-to-right association as the composed form and the DuckDB
  * `list_reduce` oracle — `dot += a[i]*b[i]` from i=0 — so scores are
  * bit-identical across all three implementations (asserted in
  * SimilaritySpec).
  *
  * Null semantics: null array → null (BinaryExpression's null-safe
  * wrapper); MISMATCHED lengths → null, matching the composed
  * `zip_with` form (which pads the shorter array with null and folds
  * null through the sum) so `Similarity.cosineIn` and
  * `Similarity.cosine` give the same answer; array ELEMENTS are assumed
  * non-null (embedding vectors — the input type accepts the default
  * containsNull=true parquet shape, where a null slot reads as 0.0).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  // mismatched-length inputs yield null even when both children are
  // non-nullable, so the null slot must always be writable in codegen
  override def nullable: Boolean = true

  // Inputs are array<double>; the GraftExtensions function builder wraps
  // arbitrary numeric-array children in Cast, so no ImplicitCastInputTypes
  // (its AbstractDataType signature is private[sql]) is needed here.

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) { dot += x.getDouble(i) * y.getDouble(i); i += 1 }
    i = 0
    while (i < n) { val v = x.getDouble(i); na += v * v; i += 1 }
    i = 0
    while (i < n) { val v = y.getDouble(i); nb += v * v; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  double $na = 0.0;
         |  double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $dot += $a.getDouble($i) * $b.getDouble($i); }
         |  for (int $i = 0; $i < $n; $i++) { final double $v = $a.getDouble($i); $na += $v * $v; }
         |  for (int $i = 0; $i < $n; $i++) { final double $v = $b.getDouble($i); $nb += $v * $v; }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
