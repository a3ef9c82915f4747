package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val spec = Harness.Json.readTree(
    Seq(Paths.get("../BENCHMARK.json"), Paths.get("BENCHMARK.json")).find(Files.exists(_)).get.toFile)

  /** (name, unit) pairs of one BENCHMARK.json metric list, in order. */
  private def listed(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("the harness reports exactly the metrics BENCHMARK.json lists, with their units") {
    assert(listed("end_to_end") == Main.EndToEnd)
    assert(listed("per_layer") == Main.PerLayer)
  }

  test("BENCHMARK.json lists only workloads the harness runs") {
    val names = spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names.nonEmpty && names.forall(Main.Workloads.contains))
  }
}
