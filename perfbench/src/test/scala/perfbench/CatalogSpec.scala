package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the runner's metric catalogue name the same metrics. */
class CatalogSpec extends AnyFunSuite {
  private val bench = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
    new java.io.File("../BENCHMARK.json").toPath), "UTF-8"))

  private def defs(key: String): Seq[(String, String, String)] = (bench \ key) match {
    case JArray(items) => items.map { m =>
      val JString(n) = m \ "name": @unchecked
      val JString(u) = m \ "unit": @unchecked
      val JString(b) = m \ "better": @unchecked
      (n, u, b)
    }
    case other => fail(s"$key is not a list: $other")
  }

  private def ours(ds: Seq[Metrics.Def]) =
    ds.map(d => (d.name, d.unit, if (d.lowerIsBetter) "lower" else "higher"))

  test("end-to-end metrics agree, setup_s among them") {
    assert(defs("end_to_end") == ours(Metrics.endToEnd))
    assert(defs("end_to_end").contains(("setup_s", "s", "lower")))
  }

  test("per-layer metrics agree and stay within 128") {
    assert(defs("per_layer") == ours(Metrics.perLayer))
    assert(Metrics.perLayer.length <= 128)
  }

  test("workloads are the runner's") {
    val JArray(ws) = bench \ "workloads": @unchecked
    ws.foreach { w =>
      val JString(n) = w \ "name": @unchecked
      Main.workload(n) // throws on an unknown name
    }
  }
}
