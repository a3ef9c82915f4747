package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import graft.pipeline.BatchedEmbedder.{DeterministicBackend, RetryingBackend}
import graft.pipeline.HttpEmbedBackend
import org.scalatest.funsuite.AnyFunSuite

class GatewaySpec extends AnyFunSuite {

  test("failure schedule: the first and then every 50th attempt of an epoch") {
    val failed = (1L to 200L).filter(Gateway.fails(_, 50))
    assert(failed == Seq(1L, 51L, 101L, 151L))
    assert(!(1L to 200L).exists(Gateway.fails(_, 0)))
  }

  test("index order is a seeded shuffle of the batch") {
    val p = Gateway.permutation(42, 150)
    assert(p.sorted.sameElements(0 until 150))
    assert(!p.sameElements(0 until 150))
    assert(p.sameElements(Gateway.permutation(42, 150)))
    assert(!p.sameElements(Gateway.permutation(43, 150)))
  }

  test("a live gateway shuffles data[] and fails first attempts; the retrying client recovers the vectors") {
    val gw = new Gateway(2, 1.0, 0.0, 8, 50)
    try {
      val texts = (0 until 30).map(i => s"chunk number $i")
      val body = texts.map(t => "\"" + t + "\"").mkString("""{"input": [""", ", ", """], "user": null}""")
      val client = HttpClient.newHttpClient()
      def post() = client.send(HttpRequest.newBuilder(URI.create(gw.url))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(), HttpResponse.BodyHandlers.ofString())
      gw.newEpoch()
      assert(post().statusCode == 503)
      val ok = post()
      assert(ok.statusCode == 200)
      val order = Harness.Json.readTree(ok.body).get("data").elements().asScala.map(_.get("index").asInt).toSeq
      assert(order.sorted == (0 until 30) && order != (0 until 30))

      gw.newEpoch()
      var slept = 0
      val backend = new RetryingBackend(new HttpEmbedBackend(gw.url, Map.empty), sleep = _ => slept += 1)
      val got = backend.embedBatch(texts)
      val want = new DeterministicBackend(8).embedBatch(texts)
      assert(slept == 1)
      got.lazyZip(want).foreach((g, w) => assert(g.sameElements(w)))
      assert(gw.failures.get == 2 && gw.attempts.get == 4)
    } finally gw.stop()
  }
}
