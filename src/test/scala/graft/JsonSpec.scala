package graft

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

class JsonSpec extends AnyFunSuite {

  test("tool records round-trip quotes, newlines and control characters") {
    val message = "AnalysisException: column \"x\" not found\nat line 2\t\u0001 C:\\tmp"
    val line = Json.mapper.writeValueAsString(ListMap("query" -> "q_\"odd\"",
      "error" -> message, "errors" -> ListMap("q1" -> message), "n_ok" -> 3))
    assert(!line.exists(_ < ' '), s"raw control character in $line")
    val back = Json.mapper.readTree(line)
    assert(back.get("query").asText == "q_\"odd\"")
    assert(back.get("error").asText == message)
    assert(back.get("errors").get("q1").asText == message)
    assert(back.get("n_ok").asInt == 3)
    // key order is the ListMap's
    assert(back.fieldNames().asScala.toSeq == Seq("query", "error", "errors", "n_ok"))
  }
}
