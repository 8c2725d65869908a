package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The environment's positive-int parse, and guards that keep the session
  * factory the only session builder, `Surface` the only installer of the
  * Catalyst surface, `src/main` to its four mains and its `SPARK_GRAFT_*`
  * variables to a fixed list, `src/main` free of `spark.graft.*` conf
  * keys, of checkpoint-dir setters and of conf setters outside
  * `GraftSession`, and its comments free of round tags. */
class GraftSessionSpec extends AnyFunSuite {
  test("SPARK_GRAFT_CPUS parses as a positive Int, unset means every cpu") {
    val cpus = Runtime.getRuntime.availableProcessors
    Seq("SPARK_GRAFT_CPUS" -> cpus, "SPARK_GRAFT_REPS" -> 3,
        "SPARK_GRAFT_BENCH_BUDGET_S" -> 300).foreach { case (name, default) =>
      def parse(v: Option[String]) = GraftSession.positiveInt(name, v, default)
      assert(parse(Some("8")) == 8)
      assert(parse(Some(" 2 ")) == 2)
      assert(parse(None) == default)
      Seq("*", "", "0", "-1", "4.5", "four").foreach { bad =>
        val e = intercept[IllegalArgumentException](parse(Some(bad)))
        assert(e.getMessage.contains(name), s"$name=$bad")
      }
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

  test("src/main names no spark.graft conf key and never sets the checkpoint dir") {
    // graft is tuned through Spark's own settings; the checkpoint dir
    // belongs to the deployment (spark.checkpoint.dir)
    def naming(pattern: String) = sources("src/main/scala")
      .filter(f => pattern.r.findFirstIn(Files.readString(f)).isDefined)
      .map(_.getFileName.toString)
    assert(naming(""""spark\.graft\.""") == Nil)
    assert(naming("""\.setCheckpointDir\s*\(""") == Nil)
  }

  test("src/main reads exactly these SPARK_GRAFT_* variables") {
    // a variable is read through a string literal naming it in full, and
    // only the runner and the two setup objects touch the environment
    val files = sources("src/main/scala")
    val names = files.flatMap { f =>
      """"(SPARK_GRAFT_\w+)"""".r.findAllMatchIn(Files.readString(f))
        .map(_.group(1))
    }.toSet
    assert(names == Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_REPS", "SPARK_GRAFT_BENCH_BUDGET_S", "SPARK_GRAFT_WARMUP_DIR",
      "SPARK_GRAFT_ONLY", "SPARK_GRAFT_SCRATCH"))
    val readers = files.filter { f =>
      val src = Files.readString(f)
      src.contains("sys.env") || src.contains("getenv")
    }.map(_.getFileName.toString).toSet
    assert(readers == Set("Runner.scala", "GraftSession.scala", "Scratch.scala"))
  }

  test("GraftSession is the only session builder in src") {
    val needle = "SparkSession" + ".builder"
    val users = (sources("src/main/scala") ++ sources("src/test/scala"))
      .filter(f => Files.readString(f).contains(needle))
      .map(_.getFileName.toString)
    assert(users == Seq("GraftSession.scala"))
  }

  test("Surface is the only installer of the Catalyst surface in src/main") {
    // a new function, strategy or rule is one entry that Surface.install
    // reads; query code never registers anything itself
    val touches = ("""\b(extraStrategies|extraOptimizations|""" +
      """createOrReplaceTempFunction|inject[A-Z]\w*)\b""").r
    val files = sources("src/main/scala")
    val installers = files.filter(f => touches.findFirstIn(Files.readString(f)).isDefined)
      .map(_.getFileName.toString)
    assert(installers == Seq("Surface.scala"))
    assert(!files.exists(f => Files.readString(f).contains("ensureRegistered")))
  }

  test("outside GraftSession, src/main sets no session conf") {
    // GraftSession configures the session and scopes a change
    // (withConfs); a query that set a conf itself would change how every
    // later query in the session plans
    val setters = sources("src/main/scala")
      .filter(f => Files.readString(f).contains(".conf.set("))
      .map(_.getFileName.toString)
    assert(setters == Seq("GraftSession.scala"))
  }

  test("src/main comments carry no round tags") {
    // a comment says what is true now and why; when a reason rests on a
    // measurement, it names the SCALE.md section that holds it
    val tag = """\br\d{1,2}\b|(?i)\bround[ -]\d+""".r
    val tagged = for {
      f <- sources("src/main/scala")
      c <- GraftSessionSpec.comments(Files.readString(f))
      m <- tag.findFirstIn(c)
    } yield s"${f.getFileName}: $m in ${c.take(80)}"
    assert(tagged == Nil)
  }

  test("the comment scan reads comments only") {
    val src = "val r0 = 1 // r1\n/* r2 /* r3 */ r4 */ s\"r5 // r6\"\n" +
      "\"\"\"r7 /* r8\"\"\" ; '\"' ; '\\'' // r9\n"
    assert(GraftSessionSpec.comments(src) == Seq("// r1", "/* r2 /* r3 */ r4 */", "// r9"))
  }
}

object GraftSessionSpec {
  /** The comments of a Scala source, each as written, skipping string and
    * character literals (single-line and triple-quoted) and nesting block
    * comments as Scala does. */
  def comments(src: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val n = src.length
    def skipQuoted(from: Int): Int = { // from is past the opening quote
      var j = from
      while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
      j + 1
    }
    var i = 0
    while (i < n) {
      if (src.startsWith("//", i)) {
        val e = src.indexOf('\n', i)
        val end = if (e < 0) n else e
        out += src.substring(i, end)
        i = end
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out += src.substring(i, j)
        i = j
      } else if (src.startsWith("\"\"\"", i)) {
        val e = src.indexOf("\"\"\"", i + 3)
        i = if (e < 0) n else e + 3
        while (i < n && src(i) == '"') i += 1
      } else if (src(i) == '"') i = skipQuoted(i + 1)
      else if (src.startsWith("'\\", i)) {
        val e = src.indexOf('\'', i + 3)
        i = if (e < 0) n else e + 1
      } else if (src(i) == '\'' && i + 2 < n && src(i + 2) == '\'') i += 3
      else i += 1
    }
    out.result()
  }
}
