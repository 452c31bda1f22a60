package graft.perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper

import scala.jdk.CollectionConverters._

/** BENCHMARK.json names exactly the metrics and workloads the benchmark
  * reports. */
class BenchmarkJsonSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val root = new ObjectMapper()
    .readTree(new File("../BENCHMARK.json"))

  private def entries(key: String) = root.get(key).elements().asScala.toSeq

  test("workloads match the benchmark") {
    assert(entries("workloads").map(_.get("name").asText) ==
      BenchWorkloads.names)
  }

  test("end-to-end metrics match the untraced output") {
    assert(entries("end_to_end").map(e =>
      (e.get("name").asText, e.get("unit").asText)) == Metric.EndToEnd)
  }

  test("per-layer metrics match the traced output") {
    assert(entries("per_layer").map(e => (e.get("name").asText,
      e.get("unit").asText, e.get("better").asText)) == Metric.PerLayer)
  }
}
