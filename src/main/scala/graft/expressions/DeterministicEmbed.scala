package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused deterministic hash-projection embedding (F12 offline face):
  * component j = int(hex4(md5(text ‖ ":" ‖ j))) / 32768 − 1, exactly the
  * values of the composed Catalyst form (the test oracle
  * `Oracles.deterministicEmbed`) and its DuckDB mirror
  * [[graft.functions.Embedders.deterministicEmbedSql]] — but computed
  * by hashing the text ONCE and cloning the MD5 state per component,
  * instead of re-hashing the full chunk `dim` times (64 expression-tree
  * evaluations of md5/substring/conv per row in the composed form).
  * Bit-identical output (the md5 value does not depend on how its
  * input was buffered); asserted in SimilaritySpec.
  */
case class DeterministicEmbed(child: Expression, dim: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_embed"

  override protected def nullSafeEval(input: Any): Any =
    DeterministicEmbed.kernel(input.asInstanceOf[UTF8String], dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.DeterministicEmbed.kernel($c, $dim)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeterministicEmbed {

  private val suffixes: Array[Array[Byte]] =
    Array.tabulate(4096)(j => s":$j".getBytes("UTF-8"))

  /** Static kernel shared by interpreted eval and generated code. */
  def kernel(text: UTF8String, dim: Int): ArrayData = {
    val base = MessageDigest.getInstance("MD5")
    base.update(text.getBytes)
    val out = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      val md = base.clone().asInstanceOf[MessageDigest]
      md.update(if (j < suffixes.length) suffixes(j) else s":$j".getBytes("UTF-8"))
      val d = md.digest()
      out(j) = (((d(0) & 0xff) << 8) | (d(1) & 0xff)).toDouble / 32768.0d - 1.0d
      j += 1
    }
    new GenericArrayData(out)
  }
}
