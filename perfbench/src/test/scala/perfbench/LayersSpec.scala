package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** BENCHMARK.json (at the repository root, beside this build's directory)
  * must describe exactly the metrics the benchmark prints.
  */
class LayersSpec extends AnyFunSuite {
  private lazy val bench = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def entries(key: String): Seq[(String, String, String)] =
    bench.get(key).elements().asScala.map { m =>
      (m.get("name").asText, m.get("unit").asText, m.get("better").asText)
    }.toSeq

  test("per_layer lists the catalog, in order, with units and directions") {
    assert(entries("per_layer") == Layers.catalog)
    assert(Layers.catalog.map(_._1).distinct.size == Layers.catalog.size)
  }

  test("end_to_end lists the metrics every workload prints") {
    val names = entries("end_to_end").map(_._1)
    assert(names == Seq("setup_s", "pass_s", "rows_per_s"))
  }

  test("workloads are the ones the benchmark runs") {
    val names = bench.get("workloads").elements().asScala.map(_.get("name").asText).toSet
    assert(names == Main.Workloads.keySet)
  }

  test("emit fills unmeasured layers with 0 and rejects unknown names") {
    val out = Layers.emit(Map("trace.overhead_ms" -> 3.0))
    assert(out.size == Layers.catalog.size)
    assert(out.find(_.name == "trace.overhead_ms").get.value == 3.0)
    assert(out.filterNot(_.name == "trace.overhead_ms").forall(_.value == 0))
    intercept[IllegalArgumentException](Layers.emit(Map("no.such.metric" -> 1.0)))
  }
}
