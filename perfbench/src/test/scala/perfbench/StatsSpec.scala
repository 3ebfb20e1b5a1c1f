package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class StatsSpec extends AnyFunSuite {

  test("median and geometric mean") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(math.abs(Stats.geomean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
  }

  test("every emitted metric name and unit is well formed and used once") {
    val all = Main.EndToEnd ++ Main.PerLayer
    all.foreach { case (name, unit) =>
      assert(name.matches("[A-Za-z0-9_.-]+") && Stats.validName(name), name)
      assert(unit.matches("[A-Za-z0-9_/%.-]{1,16}"), s"$name: $unit")
    }
    assert(all.map(_._1).distinct.size == all.size)
    assert(Main.PerLayer.size <= 128)
  }

  test("BENCHMARK.json lists exactly the metrics the program emits") {
    val root = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
    def names(key: String) = root.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(names("end_to_end") == Main.EndToEnd)
    assert(names("per_layer") == Main.PerLayer)
    assert(root.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Workloads.Names)
  }

  test("the result line has exactly the contract keys") {
    val line = Stats.resultJson(correct = true, 3, 0,
      Seq("setup_s" -> Stats.Metric(1.25, "s"), "cycle_s" -> Stats.Metric(0.000123, "s")))
    val j = new ObjectMapper().readTree(line)
    assert(j.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(j.get("metrics").get("cycle_s").get("value").asDouble() == 0.000123)
    assert(j.get("metrics").get("setup_s").get("unit").asText() == "s")
  }
}
