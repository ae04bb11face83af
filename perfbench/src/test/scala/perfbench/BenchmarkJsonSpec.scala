package perfbench

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json and the metrics the benchmark prints must name the same things. */
class BenchmarkJsonSpec extends AnyFunSuite {

  private lazy val json = JsonMethods.parse(new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8"))

  private def metrics(key: String): Seq[(String, String)] = (json \ key) match {
    case JArray(xs) => xs.map(m => ((m \ "name").asInstanceOf[JString].s, (m \ "unit").asInstanceOf[JString].s))
    case other => fail(s"$key is $other")
  }

  test("end-to-end and per-layer metrics match what the benchmark prints, units included") {
    assert(metrics("end_to_end") == Main.EndToEnd)
    assert(metrics("per_layer") == Main.PerLayer)
  }

  test("every listed workload is one the benchmark runs") {
    val JArray(ws) = json \ "workloads": @unchecked
    val names = ws.map(w => (w \ "name").asInstanceOf[JString].s)
    assert(names.nonEmpty && names.forall(Main.Workloads.contains))
  }

  test("arguments are parsed strictly") {
    assert(Main.parseArgs(Seq("--workload", "curate", "--seed", "3", "--seconds", "10", "--trace", "0",
      "--work", "w")) == Right(Main.Args("curate", 3L, 10.0, trace = false, "w")))
    assert(Main.parseArgs(Seq("--workload", "nope", "--seed", "3", "--seconds", "10", "--trace", "0",
      "--work", "w")).isLeft)
    assert(Main.parseArgs(Seq("--workload", "curate", "--seed", "x", "--seconds", "10", "--trace", "0",
      "--work", "w")).isLeft)
  }
}
