package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused G2 chunker: fixed-size word chunks with overlap
  * (/root/reference/llmcore/cms/parsers.py:40-68 semantics), one pass.
  *
  * The composed Catalyst form (the test oracle
  * `Oracles.chunkFixedWords`) evaluates `transform(sequence(...),
  * i -> array_join(slice(words, ...)))` — per chunk it materializes a
  * slice copy and walks the lambda interpreter.
  * This kernel splits once and emits the chunk strings directly, with
  * EXACTLY the composed form's semantics (same `\s+`→" " collapse, same
  * single-space split keeping empty leading token, chunk i covering
  * words [max(i·size − overlap, 0), i·size + size)) — bit-identical
  * output asserted against the composed form in ChunkersSpec.
  */
case class ChunkWords(child: Expression, chunkSize: Int, overlap: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_chunk_words"

  override protected def nullSafeEval(input: Any): Any =
    ChunkWords.kernel(input.asInstanceOf[UTF8String], chunkSize, overlap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.ChunkWords.kernel($c, $chunkSize, $overlap)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ChunkWords {

  /** Static kernel shared by interpreted eval and generated code.
    *
    * r15: one pass over the UTF-8 BYTES — the original evaluated
    * `toString.replaceAll("\\s+", " ").split(" ", -1)` (a UTF-16
    * conversion, a regex pass, a String per word) and joined chunks
    * through StringBuilders. The token list of that form is, stated
    * directly: the maximal runs of non-\s bytes, plus one empty token
    * up front when the text starts with whitespace, one at the end
    * when it ends with whitespace, and a single empty token for the
    * empty string (split keeps empties at limit −1; a collapsed run is
    * one separator). Java's \s is ASCII-only ({\t \n \x0B \f \r ' '})
    * and every byte of a multi-byte UTF-8 sequence is ≥ 0x80, so the
    * byte scan recognizes EXACTLY the same separators. Chunks then
    * copy word byte-ranges straight from the input array. Bit-equality
    * with the composed form stays pinned in ChunkersSpec (golden +
    * randomized sweeps).
    */
  def kernel(text: UTF8String, chunkSize: Int, overlap: Int): ArrayData = {
    val bytes = text.getBytes
    // ---- tokenize: word i = [starts(i), starts(i) + lens(i)) --------------
    var cap = 16
    var starts = new Array[Int](cap)
    var lens = new Array[Int](cap)
    var n = 0
    def push(s: Int, l: Int): Unit = {
      if (n == cap) {
        cap *= 2
        starts = java.util.Arrays.copyOf(starts, cap)
        lens = java.util.Arrays.copyOf(lens, cap)
      }
      starts(n) = s; lens(n) = l; n += 1
    }
    @inline def isWs(b: Byte): Boolean = b == 0x20 || (b >= 0x09 && b <= 0x0D)
    if (bytes.length == 0) push(0, 0)
    else {
      if (isWs(bytes(0))) push(0, 0) // leading empty token
      var i = 0
      while (i < bytes.length) {
        if (isWs(bytes(i))) i += 1
        else {
          val s = i
          while (i < bytes.length && !isWs(bytes(i))) i += 1
          push(s, i - s)
        }
      }
      if (isWs(bytes(bytes.length - 1))) push(0, 0) // trailing empty token
    }
    // ---- assemble chunks by direct byte copy ------------------------------
    val nChunks = ((n + chunkSize - 1) / chunkSize).max(1) // ceil; n ≥ 1
    val out = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val start = math.max(c * chunkSize - overlap, 0)
      val end = math.min(c * chunkSize + chunkSize, n)
      var len = end - start - 1 // single-space separators
      var w = start
      while (w < end) { len += lens(w); w += 1 }
      val buf = new Array[Byte](len)
      var pos = 0
      w = start
      while (w < end) {
        if (w > start) { buf(pos) = 0x20; pos += 1 }
        System.arraycopy(bytes, starts(w), buf, pos, lens(w))
        pos += lens(w)
        w += 1
      }
      out(c) = UTF8String.fromBytes(buf)
      c += 1
    }
    new GenericArrayData(out)
  }
}
