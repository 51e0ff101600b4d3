package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The metrics the benchmark prints are exactly those BENCHMARK.json
  * declares, with the same units. */
class MetricNamesSpec extends AnyFunSuite {

  private val declared = new ObjectMapper().readTree(
    Files.readString(Paths.get("..", "BENCHMARK.json")))

  private def list(key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("end-to-end metrics match BENCHMARK.json") {
    assert(list("end_to_end") == Metrics.EndToEnd)
  }

  test("per-layer metrics match BENCHMARK.json") {
    assert(list("per_layer") == Metrics.PerLayer)
  }

  test("workloads match BENCHMARK.json") {
    assert(declared.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == Workloads.Names)
  }

  test("the result line carries every metric with its unit") {
    val run = new Run(null, Paths.get("."), 1, 1, None)
    val line = Main.resultJson(run, Metrics.EndToEnd.map { case (m, u) => (m, 1.5, u) }, named = false)
    val parsed = new ObjectMapper().readTree(line)
    assert(parsed.fieldNames().asScala.toSeq == Seq("correct", "attempted", "failed", "metrics"))
    assert(parsed.get("metrics").fieldNames().asScala.toSeq == Metrics.EndToEnd.map(_._1))
    Metrics.EndToEnd.foreach { case (m, u) => assert(parsed.get("metrics").get(m).get("unit").asText == u) }
  }
}
