package graft.pipeline

import java.nio.charset.StandardCharsets

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import graft.Json

/** Production HTTP embedding backend completing F12 (SURVEY §2.3):
  * the transport-facing half of the reference's `get_embedding`
  * (/root/reference/llmcore/cms/cmfunctions.py:489-519 — POST
  * `{proxy}/azure/engines/{engine}/embeddings` with a subscription-key
  * header, newline-stripped input, `data[0].embedding` extraction,
  * exponential backoff via the `@backoff.on_exception` decorator).
  *
  * Differences from the reference, by design:
  *   - BATCHED: one POST per `embedBatch` (the array-input form every
  *     OpenAI-shaped gateway accepts) instead of one per chunk — at
  *     100 TB the per-call overhead is the bottleneck, not the GPU.
  *   - RATE-LIMITED: a token-bucket interval between calls, because a
  *     1000-executor cluster hammering one gateway is a self-inflicted
  *     429 storm; the per-partition backend gives per-task pacing.
  *   - Retry/backoff stays in [[BatchedEmbedder.RetryingBackend]] —
  *     compose: `new RetryingBackend(new HttpEmbedBackend(...))`.
  *   - The HTTP call itself is a pluggable [[HttpEmbedBackend.Transport]]
  *     function so the batching / header / payload / parse / failure
  *     contract is unit-testable with zero network (and the default
  *     [[HttpEmbedBackend.javaHttpTransport]] is plain `java.net.http`,
  *     one pooled client per JVM).
  */
object HttpEmbedBackend {

  /** (url, headers, jsonBody) → (statusCode, responseBody). */
  type Transport = (String, Map[String, String], String) => (Int, String)

  /** Default transport: JDK `java.net.http` with one shared client per
    * JVM (connection pooling + HTTP/2 multiplexing across tasks). */
  lazy val javaHttpTransport: Transport = {
    val client = java.net.http.HttpClient.newBuilder()
      .connectTimeout(java.time.Duration.ofSeconds(10))
      .build()
    (url, headers, body) => {
      val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url))
        .timeout(java.time.Duration.ofSeconds(60))
        .header("Content-Type", "application/json")
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body, StandardCharsets.UTF_8))
      headers.foreach { case (k, v) => b.header(k, v) }
      val resp = client.send(b.build(),
        java.net.http.HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (resp.statusCode(), resp.body())
    }
  }

  /** `{"input":["...",...],"user":null}` — the reference's body
    * (cmfunctions.py:503) with the array-input batch form; newlines are
    * replaced with spaces exactly as the reference does (:502). */
  private[pipeline] def requestBody(texts: Seq[String]): String =
    Json.mapper.writeValueAsString(
      ListMap("input" -> texts.map(_.replace("\n", " ")), "user" -> null))

  /** The `data[].embedding` vectors in INPUT order: each entry's
    * `index` field reorders them, because a gateway is free to return
    * entries out of order and a count check alone would silently
    * assign vectors to the wrong texts. Entries with no index field
    * (non-OpenAI-shaped gateways) keep document order; a partial or
    * non-permutation index set, or a body that is not that shape, is a
    * hard IOException. */
  private[pipeline] def parseEmbeddings(body: String): Seq[Array[Double]] = {
    def malformed(why: String) = new java.io.IOException(s"malformed embeddings response: $why")
    val data = Json.mapper.readTree(body).path("data")
    if (!data.isArray) throw malformed("no data array")
    val all = data.elements().asScala.toSeq.map { e =>
      val vec = e.path("embedding")
      if (!vec.isArray || !vec.elements().asScala.forall(_.isNumber))
        throw malformed("an entry without a numeric embedding array")
      val idx = Option(e.get("index")).map { i =>
        if (!i.isIntegralNumber || !i.canConvertToInt) throw malformed("unreadable index")
        i.asInt
      }
      (idx, vec.elements().asScala.map(_.asDouble).toArray)
    }
    val idxs = all.flatMap(_._1)
    if (idxs.isEmpty) all.map(_._2)
    else if (idxs.length == all.length && idxs.sorted == (0 until all.length))
      all.sortBy(_._1.get).map(_._2)
    else
      throw new java.io.IOException(
        s"embeddings response indices are not a permutation of 0..${all.length - 1}")
  }
}

/** See [[HttpEmbedBackend$]]. One instance per partition (via
  * `BatchedEmbedder.embed(newBackend = () => ...)`); the shared
  * transport client amortizes connections across instances. */
final class HttpEmbedBackend(
    endpoint: String,
    headers: Map[String, String],
    transport: HttpEmbedBackend.Transport = HttpEmbedBackend.javaHttpTransport,
    minIntervalMs: Long = 0L,
    nanoTime: () => Long = System.nanoTime _,
    sleep: Long => Unit = Thread.sleep)
  extends BatchedEmbedder.EmbedBackend {

  private var nextAllowedNs = Long.MinValue

  /** Token-bucket pacing: at most one request per `minIntervalMs` from
    * this backend instance. */
  private def acquire(): Unit = synchronized {
    val now = nanoTime()
    if (now < nextAllowedNs) sleep((nextAllowedNs - now) / 1000000L)
    nextAllowedNs = math.max(now, nextAllowedNs) + minIntervalMs * 1000000L
  }

  override def embedBatch(texts: Seq[String]): Seq[Array[Double]] = {
    if (texts.isEmpty) return Seq.empty
    acquire()
    val (status, body) = transport(endpoint, headers, HttpEmbedBackend.requestBody(texts))
    // any HTTP-level failure is transient from the caller's view: throw
    // IOException so RetryingBackend's backoff (and ultimately Spark's
    // task retry) owns the policy — mirrors raise_for_status (:517)
    if (status >= 400)
      throw new java.io.IOException(s"embedding gateway returned $status")
    val embs = HttpEmbedBackend.parseEmbeddings(body)
    if (embs.length != texts.length)
      throw new java.io.IOException(
        s"embedding count mismatch: sent ${texts.length}, got ${embs.length}")
    embs
  }
}
