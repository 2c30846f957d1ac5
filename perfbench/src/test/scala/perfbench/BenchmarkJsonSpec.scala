package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BenchmarkJsonSpec extends AnyFunSuite {
  test("the per-layer metrics a traced run prints are the ones BENCHMARK.json lists") {
    val json = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8").mkString
    val perLayer = json.substring(json.indexOf("\"per_layer\""))
    val listed = "\"name\": \"([^\"]+)\", \"unit\": \"([^\"]+)\"".r
      .findAllMatchIn(perLayer.replaceAll("\\s+", " ")).map(m => m.group(1) -> m.group(2)).toSeq
    assert(listed == PerLayer.Units)
  }
}
