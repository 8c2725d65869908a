package graft

import java.io.{ByteArrayOutputStream, PrintStream}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The mains' one query loop: every query gets a time, a failure is
  * reported with the main's tag without stopping the loop, and the blocks
  * a query persisted are freed before the next one starts. */
class RunnerSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("the loop times every query, reports a failure and frees persisted blocks") {
    def persisted(s: SparkSession): Int = s.sparkContext.getPersistentRDDs.size
    val frames = mutable.Buffer.empty[DataFrame]
    def cached(s: SparkSession, n: Long): DataFrame = {
      val df = s.range(n).toDF("runner_spec_id").persist()
      frames += df
      df.count()
      df
    }
    // persisted blocks each query saw: after caching, then at the start
    // of each query that follows
    val seen = mutable.Buffer.empty[Int]
    val queries: Seq[(String, Runner.Query)] = Seq(
      "q_cached" -> { (s, _) => val df = cached(s, 7); seen += persisted(s); df },
      "q_broken" -> { (s, _) =>
        seen += persisted(s)
        cached(s, 11)
        throw new IllegalStateException("broken on purpose")
      },
      "q_plain" -> { (s, _) => seen += persisted(s); s.range(3).toDF("id") })
    val oks = mutable.Buffer.empty[String]
    val err = new ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new PrintStream(err, true))
    val times =
      try Runner.loop(spark, TestSpark.sf, queries, n => s"[spec] $n failed",
        ok = (n, _) => oks += n)((_, df) => df.count())
      finally {
        System.setErr(stderr)
        frames.foreach(_.unpersist())
      }
    assert(times.map(_._1) == queries.map(_._1))
    assert(times.forall(_._2 > 0))
    assert(seen.head > 0, "the cached query persisted nothing: the check is vacuous")
    assert(seen.tail == Seq(0, 0))
    assert(persisted(spark) == 0)
    assert(oks == Seq("q_cached", "q_plain"))
    assert(err.toString.linesIterator.filter(_.startsWith("[spec]")).toSeq ==
      Seq("[spec] q_broken failed: java.lang.IllegalStateException: broken on purpose"))
  }
}
