package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A SparkContext checkpoint dir must route the connected-components
  * round loop through reliable (directory-backed) checkpoints, which
  * write their files under that dir, and still reach the identical
  * fixpoint labeling. */
class ReliableCheckpointSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  test("connectedComponents converges identically under reliable checkpoints") {
    val pairs = LlmOps.bandPairs(spark, sf)
    def labels() = LlmOps.connectedComponents(pairs).orderBy("node").collect().toSeq
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    val expected = labels()
    val dir = Files.createTempDirectory("graft_ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      assert(labels() === expected)
      // the reliable path wrote its RDD files under the dir
      val written = files(dir)
      assert(written.exists(_.getFileName.toString.startsWith("part-")), s"no checkpoint files in $dir")
    } finally spark.sparkContext.setCheckpointDir(null)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }
}
