package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Verify's dump order: cheapest first by the newest Bench record, then
  * the queries with no time by name; by name with no record at all. */
class VerifyOrderSpec extends AnyFunSuite {
  private val names = Seq("q_d", "q_c", "q_b", "q_a")

  test("the newest bench_c record orders the dump; untimed queries go last") {
    val dir = Files.createTempDirectory("graft_bench")
    Files.writeString(dir.resolve("bench_c8.json"),
      """{"value":1.0,"queries":{"q_a":9.0,"q_b":0.5}}""")
    Files.writeString(dir.resolve("bench_c4.json"),
      """{"value":1.0,"queries":{"q_a":0.2,"q_c":3.0}}""")
    Files.setLastModifiedTime(dir.resolve("bench_c8.json"),
      java.nio.file.attribute.FileTime.fromMillis(1000000L))
    Files.writeString(dir.resolve("bench.json"), """{"queries":{"q_d":0.1}}""")
    assert(Verify.dumpOrder(names, Verify.benchSeconds(dir.toString)) ===
      Seq("q_a", "q_c", "q_b", "q_d"))
  }

  test("without a record the dump runs in name order") {
    val dir = Files.createTempDirectory("graft_bench").toString
    assert(Verify.benchSeconds(dir).isEmpty)
    assert(Verify.benchSeconds(Paths.get(dir, "absent").toString).isEmpty)
    assert(Verify.dumpOrder(names, Map.empty) === names.sorted)
  }
}
