package graft.pipeline

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** Batched embedding operator (SURVEY.md §4.3-3).
  *
  * The reference performs ONE synchronous HTTP call per chunk
  * (/root/reference/llmcore/cms/sharepointutils.py:377) — at 100 TB that
  * is billions of round-trips. The production-shaped operator instead
  * runs `mapPartitions`: one [[EmbedBackend]] per partition (connection
  * setup amortized), texts embedded in `batchSize` groups (the payload
  * granularity a real gateway wants), with the backend pluggable so
  * tests/offline runs use [[DeterministicBackend]] — which reproduces
  * the Catalyst expression in [[graft.functions.Embedders]] bit-for-bit.
  */
object BatchedEmbedder {

  trait EmbedBackend extends Serializable {
    def embedBatch(texts: Seq[String]): Seq[Array[Double]]
    def close(): Unit = ()
  }

  /** JVM-side mirror of Embedders.deterministicEmbedIn: component j =
    * int(hex4(md5(text ‖ ':' ‖ j))) / 32768 − 1 (dyadic-exact). */
  final class DeterministicBackend(dim: Int) extends EmbedBackend {
    override def embedBatch(texts: Seq[String]): Seq[Array[Double]] =
      texts.map { t =>
        val md = MessageDigest.getInstance("MD5")
        Array.tabulate(dim) { j =>
          md.reset()
          val hex = md.digest(s"$t:$j".getBytes("UTF-8"))
            .take(2).map(b => f"$b%02x").mkString
          Integer.parseInt(hex, 16).toDouble / 32768.0d - 1.0d
        }
      }
  }

  /** Fault-tolerant wrapper — the reference decorates its embedding call
    * with exponential backoff on transient HTTP errors
    * (`@backoff.on_exception(backoff.expo, RequestException)`,
    * /root/reference/llmcore/cms/cmfunctions.py:487-492). Same contract
    * here at BATCH granularity: a failed batch retries after
    * `baseDelayMs · 2^attempt`, up to `maxRetries` times, then the last
    * error propagates (fails the task → Spark task retry takes over).
    * `sleep` is injectable so tests assert the schedule without waiting. */
  final class RetryingBackend(
      inner: EmbedBackend,
      maxRetries: Int = 5,
      baseDelayMs: Long = 100L,
      isTransient: Throwable => Boolean = _.isInstanceOf[java.io.IOException],
      sleep: Long => Unit = Thread.sleep) extends EmbedBackend {
    override def embedBatch(texts: Seq[String]): Seq[Array[Double]] = {
      var attempt = 0
      var out: Seq[Array[Double]] = null
      while (out == null) {
        try out = inner.embedBatch(texts)
        catch {
          case e: Throwable if isTransient(e) && attempt < maxRetries =>
            sleep(baseDelayMs << attempt)
            attempt += 1
        }
      }
      out
    }
    override def close(): Unit = inner.close()
  }

  /** Append `embedding: array<double>` by batched per-partition calls.
    * `textCol` must be a string column of `df`. */
  def embed(df: DataFrame, textCol: String, batchSize: Int,
      newBackend: () => EmbedBackend): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("embedding", ArrayType(DoubleType, containsNull = false)))
    val textIdx = df.schema.fieldIndex(textCol)
    val enc = Encoders.row(outSchema)
    df.mapPartitions { rows =>
      val backend = newBackend()
      rows.grouped(batchSize).flatMap { batch =>
        val embs = backend.embedBatch(batch.map(_.getString(textIdx)))
        batch.lazyZip(embs).map { (r, e) => Row.fromSeq(r.toSeq :+ e.toSeq) }
      }
    }(enc)
  }
}
