package perfbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Executors, ExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.pipeline.BatchedEmbedder.DeterministicBackend

/** Loopback stub of an OpenAI-shaped embeddings gateway.
  *
  * - Each request takes at least `perRequestMs + perTextMs * texts`
  *   (the service time), on at most `threads` server threads.
  * - Vectors are the program's deterministic embedding of each text, so
  *   a caller's output can be checked bit for bit.
  * - `data[]` comes back in a shuffled `index` order keyed on the body.
  * - Within an epoch, the first and then every `failEvery`-th attempt is
  *   answered 503: a fixed share of batches fails its first try and must
  *   be retried.
  */
final class Gateway(threads: Int, perRequestMs: Double, perTextMs: Double,
    dim: Int, failEvery: Int) {

  val attempts = new AtomicLong
  val failures = new AtomicLong
  val texts = new AtomicLong
  val busyNs = new AtomicLong
  val inFlight = new AtomicInteger
  val peak = new AtomicInteger
  @volatile private var epochAttempts = new AtomicLong

  private val pool: ExecutorService = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 64)
  server.setExecutor(pool)
  server.createContext("/v1/embeddings", (ex: HttpExchange) => handle(ex))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/embeddings"

  /** Start a new failure epoch (one per embed pass). */
  def newEpoch(): Unit = epochAttempts = new AtomicLong

  def resetCounters(): Unit = Seq(attempts, failures, texts, busyNs).foreach(_.set(0))

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val now = inFlight.incrementAndGet()
    peak.accumulateAndGet(now, math.max)
    try {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val in = Harness.Json.readTree(body).get("input").elements().asScala.map(_.asText).toVector
      attempts.incrementAndGet()
      val (status, out) =
        if (Gateway.fails(epochAttempts.incrementAndGet(), failEvery)) {
          failures.incrementAndGet()
          (503, """{"error": "overloaded"}""")
        } else {
          texts.addAndGet(in.size)
          val vecs = new DeterministicBackend(dim).embedBatch(in)
          (200, Gateway.response(vecs, Gateway.permutation(body.hashCode, in.size)))
        }
      val serviceNs = ((perRequestMs + perTextMs * in.size) * 1e6).toLong
      val left = serviceNs - (System.nanoTime() - t0)
      if (left > 0) TimeUnit.NANOSECONDS.sleep(left)
      val bytes = out.getBytes(UTF_8)
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally {
      ex.close()
      inFlight.decrementAndGet()
      busyNs.addAndGet(System.nanoTime() - t0)
    }
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object Gateway {

  /** The failure schedule: attempt `n` (1-based, within an epoch) fails
    * iff n mod failEvery == 1 — deterministic, at least one failure per
    * epoch, and a 1/failEvery share of a long epoch's attempts. */
  def fails(n: Long, failEvery: Int): Boolean = failEvery > 0 && n % failEvery == 1 % failEvery

  /** A permutation of 0 until n keyed on `key` (Fisher-Yates). */
  def permutation(key: Int, n: Int): Array[Int] = {
    val rng = new java.util.SplittableRandom(key.toLong)
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  /** `{"data": [...]}` listing the vectors in `order`, each with its index. */
  def response(vecs: Seq[Array[Double]], order: Array[Int]): String =
    Harness.Json.writeValueAsString(ListMap("object" -> "list", "data" -> order.toSeq.map { i =>
      ListMap("object" -> "embedding", "index" -> i, "embedding" -> vecs(i))
    }))
}
