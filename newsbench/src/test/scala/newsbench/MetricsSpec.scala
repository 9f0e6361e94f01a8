package newsbench

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val spec = {
    val f = new java.io.File("../BENCHMARK.json")
    new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
  }

  /** `"name": "x", "unit": "y"` pairs of one BENCHMARK.json list. */
  private def listed(key: String): Seq[(String, String)] = {
    val from = spec.indexOf("\"" + key + "\"")
    val body = spec.substring(from, spec.indexOf("]", from))
    "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(body).map(m => (m.group(1), m.group(2))).toSeq
  }

  test("a traced run reports exactly the per-layer metrics BENCHMARK.json lists") {
    assert(listed("per_layer") == Metrics.PerLayer)
  }

  test("an untraced run reports exactly the end-to-end metrics BENCHMARK.json lists") {
    assert(listed("end_to_end") == Main.EndToEnd)
  }

  test("the workloads are the ones BENCHMARK.json lists") {
    val from = spec.indexOf("\"workloads\"")
    val names = "\"name\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(spec.substring(from, spec.indexOf("]", from)))
      .map(_.group(1)).toSeq
    assert(names == Main.Workloads)
  }

  test("the result line carries every metric with its unit") {
    val line = Metrics.json(correct = true, 3, 0,
      Seq(("latency_ms_p50", 12.5, "ms"), ("setup_s", Double.NaN, "s")))
    assert(line == """{"correct": true, "attempted": 3, "failed": 0, """ +
      """"metrics": {"latency_ms_p50": {"value": 12.5, "unit": "ms"}, """ +
      """"setup_s": {"value": 0.0, "unit": "s"}}}""")
  }
}
