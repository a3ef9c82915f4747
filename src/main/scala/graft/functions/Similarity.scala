package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Vector similarity primitives (SURVEY.md §2.4 J-sim, EXT similarity
  * search) over ArrayType columns: composed Catalyst forms with their
  * DuckDB mirrors, and the `*In` helpers that call the fused kernels.
  *
  * Determinism: dot products fold left-to-right (`aggregate` starts at
  * 0.0, so the grouping is ((p₁+p₂)+p₃)… — the same association DuckDB's
  * `list_reduce` produces), which makes cosine scores bit-identical
  * cross-engine for identical float inputs.
  */
object Similarity {

  /** Σ aᵢ·bᵢ with left-to-right association. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1), i -> ($a)[i] * ($b)[i]), (x, y) -> x + y)"

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  def normSql(a: String): String =
    s"sqrt(list_reduce(list_transform($a, v -> v * v), (x, y) -> x + y))"

  /** cosine(a, b) = dot/(‖a‖·‖b‖) — identical expression shape in SQL. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** The fused codegen'd [[graft.expressions.CosineSim]] (`graft_cosine`,
    * registered by [[graft.GraftExtensions]], which every
    * [[graft.GraftSession]] loads). Same left-to-right accumulation as
    * [[cosine]], so results are bit-identical (asserted in
    * SimilaritySpec). */
  def cosineIn(spark: SparkSession, a: Column, b: Column): Column =
    call_function("graft_cosine", a, b)

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)}) / ((${normSql(a)}) * (${normSql(b)}))"

  /** Σ(aᵢ−bᵢ)² over two `array<long>` columns — the Lloyd-assignment
    * distance: the fused codegen'd [[graft.expressions.SqDistLong]]
    * (`graft_sqdist`). Exact long arithmetic, so any accumulation order
    * is bit-identical to the composed `zip_with` fold SimilaritySpec
    * checks it against. */
  def sqDistIn(spark: SparkSession, a: Column, b: Column): Column =
    call_function("graft_sqdist", a, b)

  /** argmin-by-(distance, cid) over a packed centroid table
    * `array<struct<cid long, carr array<long>>>`: the winning cid
    * (null when the pack is empty) — min (d, cid) with the struct
    * field order as the lexicographic tie-break, exactly what the
    * Lloyd trainers' former ROW_NUMBER() OVER (ORDER BY d, cid)
    * picked. The fused single-loop [[graft.expressions.ArgminCell]]
    * (`graft_argmin_cell`), bit-identical to the composed HOF argmin
    * SimilaritySpec checks it against. */
  def argminCid(spark: SparkSession, uq: Column, cents: Column): Column =
    call_function("graft_argmin_cell", uq, cents)
}
