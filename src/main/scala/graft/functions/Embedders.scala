package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding surface (SURVEY.md §2.3 F12).
  *
  * The reference embeds one chunk per synchronous HTTP call
  * (/root/reference/llmcore/cms/sharepointutils.py:377-378 →
  * cmfunctions.py:62-71) — its #1 scale bug. This engine splits the
  * surface in two:
  *
  *   - [[deterministicEmbedIn]]: an offline, reproducible hash-projection
  *     embedder used by every test/oracle path. Component j is derived
  *     from md5(text ‖ ':' ‖ j): the first 4 hex chars as an integer,
  *     mapped to [-1, 1). All values are dyadic rationals (k/32768 − 1),
  *     so sums/products/norms are EXACT in IEEE doubles and hash
  *     identically in Spark and DuckDB. A fused Catalyst kernel — no UDF.
  *
  *   - [[graft.pipeline.BatchedEmbedder]]: the production-shaped
  *     mapPartitions operator that batches rows per partition before
  *     calling a pluggable backend (deterministic here; an HTTP client
  *     with retry/backoff in production), amortizing per-call overhead
  *     the way the reference never did.
  */
object Embedders {

  val DefaultDim = 64 // matches embeddings.parquet

  /** Un-normalized deterministic embedding, ArrayType(DoubleType): the
    * fused [[graft.expressions.DeterministicEmbed]] (`graft_embed`, hash
    * the text once, clone the MD5 state per component), bit-identical
    * to the composed md5/conv form SimilaritySpec checks it against. */
  def deterministicEmbedIn(spark: SparkSession, c: Column, dim: Int = DefaultDim): Column =
    call_function("graft_embed", c, lit(dim))

  /** DuckDB mirror: hex nibbles parsed via ascii() arithmetic (DuckDB has
    * no conv(); subqueries are not allowed in lambdas, so the md5 is
    * inlined per nibble); identical dyadic values. */
  def deterministicEmbedSql(e: String, dim: Int = DefaultDim): String = {
    def nib(k: Int) = {
      val h = s"substr(md5(($e) || ':' || CAST(j AS VARCHAR)), $k, 1)"
      s"(ascii($h) - CASE WHEN ascii($h) >= 97 THEN 87 ELSE 48 END)"
    }
    val hex4 = s"(((${nib(1)} * 16 + ${nib(2)}) * 16 + ${nib(3)}) * 16 + ${nib(4)})"
    s"list_transform(range(0, $dim), j -> CAST($hex4 AS DOUBLE) / 32768.0 - 1.0)"
  }

  /** L2-normalize a double array: the fused
    * [[graft.expressions.L2Normalize]] (`graft_l2_normalize`), which
    * evaluates `v` once, so `l2Normalize(graft_embed(text))` embeds each
    * chunk once. Bit-identical to the composed in-order fold
    * `transform(v, x -> x / sqrt(aggregate(v, 0.0, (acc, y) -> acc + y*y)))`
    * that SimilaritySpec checks it against, which re-evaluated `v` for
    * every element. */
  def l2Normalize(v: Column): Column = call_function("graft_l2_normalize", v)

  def l2NormSql(e: String): String =
    s"sqrt(list_reduce(list_transform($e, x -> x * x), (a, b) -> a + b))"
}
