package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The session factory's cpu parse, and guards that keep it the only
  * session builder, keep `src/main` to its four mains and keep the
  * `spark.graft.*` conf keys it reads to a fixed list. */
class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS parses as a positive Int, unset means every cpu") {
    assert(GraftSession.parseCpus(Some("8")) == 8)
    assert(GraftSession.parseCpus(Some(" 2 ")) == 2)
    assert(GraftSession.parseCpus(None) ==
      Runtime.getRuntime.availableProcessors)
    Seq("*", "", "0", "-1", "4.5", "four").foreach { bad =>
      val e = intercept[IllegalArgumentException](
        GraftSession.parseCpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }

  private def sources(dir: String): Seq[Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("src/main has exactly the four mains") {
    // each `def main` belongs to the nearest object declared above it
    val mains = sources("src/main/scala").flatMap { f =>
      val src = Files.readString(f)
      """def\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        """object\s+(\w+)""".r.findAllMatchIn(src.take(m.start))
          .toSeq.last.group(1)
      }
    }
    assert(mains.sorted ==
      Seq("Bench", "Explain", "TimeQ", "Verify"))
  }

  test("src/main reads exactly the five spark.graft conf keys") {
    // a key is read through a string literal naming it in full; a new
    // knob has to be added here on purpose
    val keys = sources("src/main/scala").flatMap { f =>
      """"spark\.graft\.(\w+)"""".r.findAllMatchIn(Files.readString(f))
        .map(_.group(1))
    }.toSet
    assert(keys == Set("checkpointDir", "reliableCheckpoint", "topkRewrite",
      "topkRewriteMaxK", "topkRewritePartialRowBudget"))
  }

  test("GraftSession is the only session builder in src") {
    val needle = "SparkSession" + ".builder"
    val users = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filter(f => Files.readString(f).contains(needle))
      .map(_.getFileName.toString)
    assert(users == Seq("GraftSession.scala"))
  }
}
