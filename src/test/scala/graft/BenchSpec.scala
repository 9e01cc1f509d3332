package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver's contract on Bench's last stdout line: valid JSON, the
  * agreed keys, failures listed instead of timed, and the whole line
  * inside the driver's ~2000-byte stdout tail budget. */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  test("a failed query is absent from queries and listed in failed / n_failed") {
    val l = Bench.line("/data/sf0.1", Seq("q1_agg" -> 0.5, "q9_window" -> 1.25),
      Seq("q2_filter_sort"))
    val j = json.readTree(l)
    import scala.jdk.CollectionConverters._
    assert(j.fieldNames.asScala.toSet ==
      Set("metric", "value", "unit", "queries", "n_queries", "sf", "n_failed", "failed"))
    assert(j.get("metric").asText == "total" && j.get("unit").asText == "sec")
    assert(j.get("value").asDouble == 1.75)
    assert(j.get("queries").fieldNames.asScala.toSet == Set("q1_agg", "q9_window"))
    assert(j.get("queries").get("q9_window").asDouble == 1.25)
    assert(j.get("n_queries").asInt == 2)
    assert(j.get("sf").asText == "/data/sf0.1")
    assert(j.get("n_failed").asInt == 1)
    assert(j.get("failed").elements.asScala.map(_.asText).toSeq == Seq("q2_filter_sort"))
  }

  test("the line parses as JSON, a data dir with quotes or backslashes included") {
    val dir = "C:\\data\\\"sf\" 1"
    val j = json.readTree(Bench.line(dir, Nil, Nil))
    assert(j.get("sf").asText == dir)
    assert(j.get("queries").size == 0 && j.get("n_failed").asInt == 0)
  }

  test("with every SparkEntry query timed the line stays inside the 2000-byte tail budget") {
    val all = SparkEntry.queries.keys.toSeq.map(_ -> 12345.6789)
    val l = Bench.line("/data/sf100", all, Nil)
    val j = json.readTree(l)
    assert(j.get("n_queries").asInt == all.size)
    assert(j.get("queries").size == Bench.baselineShared.size)
    assert(Bench.baselineShared.subsetOf(SparkEntry.queries.keySet))
    assert(l.getBytes("UTF-8").length <= 2000, s"${l.getBytes("UTF-8").length} bytes")
  }
}
