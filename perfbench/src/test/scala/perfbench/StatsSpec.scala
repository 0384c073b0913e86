package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("a percentile is reported only with ten samples beyond it") {
    val xs = (1 to 19).map(_.toDouble)
    assert(Stats.percentile(xs, 0.5).isEmpty)
    assert(Stats.percentile(xs :+ 20.0, 0.5).contains(10.0))
    val ys = (1 to 99).map(_.toDouble)
    assert(Stats.percentile(ys, 0.9).isEmpty)
    assert(Stats.percentile(ys :+ 100.0, 0.9).contains(90.0))
    assert(Stats.percentile(Nil, 0.5).isEmpty)
  }

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("every metric name matches [A-Za-z0-9_.-]+") {
    def valid(n: String) = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}".r.matches(n)
    val names = Main.EndToEnd.map(_._1) ++ Layers.all.map(_.name)
    names.foreach(n => assert(valid(n), n))
    assert(names.distinct.length == names.length)
    assert(!valid("bad name") && !valid(".dot") && !valid("x" * 65))
  }

  test("the result line is one JSON object with the four keys") {
    val line = Stats.resultLine(correct = true, 3, 0,
      Seq(Metric("setup_s", 1.25, "s"), Metric("rows_per_s", 1000.0, "rows/s")))
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames().asScala.toSet ==
      Set("correct", "attempted", "failed", "metrics"))
    assert(node.get("metrics").get("setup_s").get("value").asDouble() == 1.25)
    assert(node.get("metrics").get("rows_per_s").get("unit").asText() == "rows/s")
  }

  test("BENCHMARK.json declares the metrics the harness reports") {
    val f = new File("../BENCHMARK.json")
    assume(f.exists(), "run from perfbench/ inside the repository")
    val root = new ObjectMapper().readTree(f)
    def rows(key: String) = root.get(key).elements().asScala.toSeq
    assert(rows("end_to_end").map(n => (n.get("name").asText(), n.get("unit").asText())) ==
      Main.EndToEnd)
    assert(rows("per_layer").map(n => (n.get("name").asText(), n.get("unit").asText(),
      n.get("better").asText())) == Layers.all.map(d => (d.name, d.unit, d.better)))
    assert(rows("workloads").map(_.get("name").asText()) ==
      Main.Workloads.take(2).map(_.name))
  }
}
