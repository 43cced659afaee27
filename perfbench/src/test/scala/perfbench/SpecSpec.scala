package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BENCHMARK.json, one directory up, names exactly the metrics the
  * benchmark reports. */
class SpecSpec extends AnyFunSuite {
  private lazy val spec = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def entries(key: String) = spec.get(key).elements().asScala
    .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("per-layer metrics match the tracer's list") {
    assert(entries("per_layer") == Layers.all)
  }

  test("workloads match the ones Main runs") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq == Main.Workloads)
  }

  test("end-to-end metrics are the ones every pass reports") {
    val reported = Pass.steps(Seq(1.0)).keySet ++
      Set("rows_per_s", "stored_bytes_per_input_byte", "setup_s")
    assert(entries("end_to_end").map(_._1).toSet == reported)
  }
}
