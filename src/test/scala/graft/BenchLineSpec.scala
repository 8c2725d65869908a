package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout line fits the driver's 2,000-character log tail: the
  * graded fields and one first-pass total per module, never the
  * per-query maps, which stay in the bench files. */
class BenchLineSpec extends AnyFunSuite {
  private val fleet = SparkEntry.queries.keys.toSeq.sorted.filterNot(Bench.untimed.contains)

  test("the stdout line of the timed fleet fits in 1,800 characters") {
    // all 168 timed queries, each at a six-figure time
    val first = fleet.map(_ -> 99999.999)
    val line = Bench.gradedFields(first, 99999.999, 3, 128, "/data/graft/testdata/sf0.1")
      .mkString("{", ",", "}")
    assert(line.length <= 1800, line)
    val json = new ObjectMapper().readTree(line)
    assert(json.properties().asScala.map(_.getKey).toSet == Set("metric", "value",
      "unit", "total_steady_s", "bench_reps", "cpus", "sf", "modules"))
    assert(json.get("metric").asText == "total")
    assert(math.abs(json.get("value").asDouble - 99999.999 * fleet.size) < 0.01)
  }

  test("the module totals split the graded total by SparkEntry.modules") {
    val first = fleet.zipWithIndex.map { case (q, i) => q -> (i + 1) / 1000.0 }
    val json = new ObjectMapper().readTree(
      Bench.gradedFields(first, 0.0, 1, 4, "sf").mkString("{", ",", "}"))
    val modules = json.get("modules").properties().asScala
      .map(e => e.getKey -> e.getValue.asDouble).toMap
    assert(modules.keySet == SparkEntry.modules.map(_.name).toSet)
    SparkEntry.modules.foreach { m =>
      val want = first.collect { case (q, s) if m.queries.contains(q) => s }.sum
      assert(math.abs(modules(m.name) - want) < 0.0005, m.name)
    }
    assert(math.abs(modules.values.sum - json.get("value").asDouble) < 0.005)
  }
}
