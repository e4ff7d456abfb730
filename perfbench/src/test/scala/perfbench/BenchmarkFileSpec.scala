package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** BENCHMARK.json at the repository root must name exactly the workloads
  * and metrics `Main` runs and prints, with the same units.
  */
class BenchmarkFileSpec extends AnyFunSuite {
  private implicit val fmt: Formats = DefaultFormats
  private val json = JsonMethods.parse(new String(
    Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8"))

  private def metrics(key: String): Seq[(String, String)] =
    (json \ key).extract[Seq[Map[String, Any]]]
      .map(m => m("name").toString -> m("unit").toString)

  test("workloads match") {
    assert((json \ "workloads").extract[Seq[Map[String, String]]].map(_("name")) ==
      Main.Workloads)
  }

  test("end-to-end metrics match") {
    assert(metrics("end_to_end") == Main.EndToEnd)
  }

  test("per-layer metrics match") {
    assert(metrics("per_layer") == Main.LayerMetrics)
  }
}
