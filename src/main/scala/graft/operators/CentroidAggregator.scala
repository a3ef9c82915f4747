package graft.operators

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed per-group vector centroid (SURVEY.md §2.9 — the one UDAF the
  * engine declares; the natural "average embedding per file/label"
  * aggregate over the reference chunk table).
  *
  * Determinism: components are quantized to exact integer units
  * (round(v·2²⁰)) in the buffer, so merge order across partitions cannot
  * perturb the result — the same contract as the IVF centroids in
  * [[graft.queries.SimilarityQueries]]. finish() = (S/2²⁰)/n in IEEE
  * doubles, mirrored by the q_centroid oracle SQL.
  */
class CentroidAggregator(dim: Int)
    extends Aggregator[Seq[Double], CentroidAggregator.Buf, CentroidAggregator.Result] {

  import CentroidAggregator.{Buf, Result}

  override def zero: Buf = Buf(Array.fill(dim)(0L), 0L)

  override def reduce(b: Buf, v: Seq[Double]): Buf = {
    var i = 0
    // SQL ROUND semantics, half away from zero (JVM math.round is
    // floor(x+0.5), which differs for negative half-integers)
    while (i < dim) {
      b.sums(i) += graft.expressions.QuantizeGrid.roundHalfUp(v(i) * 1048576.0d)
      i += 1
    }
    Buf(b.sums, b.n + 1)
  }

  override def merge(a: Buf, b: Buf): Buf = {
    var i = 0
    while (i < dim) { a.sums(i) += b.sums(i); i += 1 }
    Buf(a.sums, a.n + b.n)
  }

  override def finish(b: Buf): Result =
    if (b.n == 0) Result(0L, Seq.fill(dim)(0.0d))
    else Result(b.n, b.sums.map(s => s.toDouble / 1048576.0d / b.n.toDouble).toSeq)

  override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
  override def outputEncoder: Encoder[Result] = Encoders.product[Result]
}

object CentroidAggregator {
  final case class Buf(sums: Array[Long], n: Long)
  final case class Result(n: Long, centroid: Seq[Double])
}
