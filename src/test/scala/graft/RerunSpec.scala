package graft

import org.scalatest.funsuite.AnyFunSuite

/** Rerun-safety and batch-equivalence for the queries with side effects
  * (table writes, temp dirs, streaming sinks): the driver may construct a
  * query more than once per session, and the streaming forms must converge
  * to exactly the batch answer. */
class RerunSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.sf

  test("live tumbling stream equals the batch aggregation row-for-row") {
    val live = StreamOps.qStreamLive(spark, sf).collect().map(_.toSeq)
    val batch = StreamOps.qStreamTumbling(spark, sf).collect().map(_.toSeq)
    assert(live.length === batch.length)
    assert(live.sameElements(batch))
  }

  test("live sliding stream equals the batch sliding aggregation row-for-row") {
    val live = StreamOps.qStreamLiveSliding(spark, sf).collect().map(_.toSeq)
    val batch = StreamOps.qStreamSliding(spark, sf).collect().map(_.toSeq)
    assert(live.length === batch.length)
    assert(live.sameElements(batch))
  }

  test("live dedup stream equals the batch dedup aggregation row-for-row") {
    val live = StreamOps.qStreamLiveDedup(spark, sf).collect().map(_.toSeq)
    val batch = StreamOps.qStreamDedup(spark, sf).collect().map(_.toSeq)
    assert(live.length === batch.length)
    assert(live.sameElements(batch))
  }

  test("bucketed-join query is rerun-idempotent in one session") {
    val a = RelOps.qJoinBucketed(spark, sf).collect().map(_.toSeq)
    val b = RelOps.qJoinBucketed(spark, sf).collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("source round-trip queries are rerun-idempotent in one session") {
    val a = RelOps.qSourceJsonCsv(spark, sf).collect().map(_.toSeq)
    val b = RelOps.qSourceJsonCsv(spark, sf).collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
    val ta = SortOps.qSourceTerarecord(spark, sf).collect().map(_.toSeq)
    val tb = SortOps.qSourceTerarecord(spark, sf).collect().map(_.toSeq)
    assert(ta.sameElements(tb))
    val oa = RelOps.qSourceOrc(spark, sf).collect().map(_.toSeq)
    val ob = RelOps.qSourceOrc(spark, sf).collect().map(_.toSeq)
    assert(oa.nonEmpty && oa.sameElements(ob))
    val ra = RelOps.qSourceCsvRobust(spark, sf).collect().map(_.toSeq)
    val rb = RelOps.qSourceCsvRobust(spark, sf).collect().map(_.toSeq)
    assert(ra.nonEmpty && ra.sameElements(rb))
  }

  test("table-writing round-7 queries are rerun-idempotent in one session") {
    val ia = AnnOps.qSimAnnIndexIncr(spark, sf).collect().map(_.toSeq)
    val ib = AnnOps.qSimAnnIndexIncr(spark, sf).collect().map(_.toSeq)
    assert(ia.nonEmpty && ia.sameElements(ib),
      "incremental index (overwrite+append) must not double-append on rerun")
    val pa = RelOps.qSinkPartitioned(spark, sf).collect().map(_.toSeq)
    val pb = RelOps.qSinkPartitioned(spark, sf).collect().map(_.toSeq)
    assert(pa.nonEmpty && pa.sameElements(pb))
  }

  test("custom-state stream is rerun-idempotent (fixed sink name replaces)") {
    val a = StreamOps.qStreamCustomState(spark, sf).collect().map(_.toSeq)
    val b = StreamOps.qStreamCustomState(spark, sf).collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
  }

  test("memoized-source stream queries are rerun-idempotent in one session") {
    // r16 moved their staged sources under SharedStage (built once per
    // (application, sfDir)); the second call must serve the SAME staged
    // files and converge to the same answer — a staging-lifecycle bug
    // (stale slices, missing marker, reused checkpoint) would show here
    val pa = StreamOps.qStreamPattern(spark, sf).collect().map(_.toSeq)
    val pb = StreamOps.qStreamPattern(spark, sf).collect().map(_.toSeq)
    assert(pa.nonEmpty && pa.sameElements(pb))
    val ma = StreamOps.qStreamMinilog(spark, sf).collect().map(_.toSeq)
    val mb = StreamOps.qStreamMinilog(spark, sf).collect().map(_.toSeq)
    assert(ma.nonEmpty && ma.sameElements(mb))
    val ja = StreamOps.qStreamJoinOuter(spark, sf).collect().map(_.toSeq)
    val jb = StreamOps.qStreamJoinOuter(spark, sf).collect().map(_.toSeq)
    assert(ja.nonEmpty && ja.sameElements(jb))
  }

  test("stream-stream join is rerun-idempotent and restores shuffle partitions") {
    // every events read sets nanosAsLong for the whole session, on purpose
    Tables.events(spark, sf)
    val before = spark.conf.getAll // holds the shuffle partition count
    val a = StreamOps.qStreamJoin(spark, sf).collect().map(_.toSeq)
    val b = StreamOps.qStreamJoin(spark, sf).collect().map(_.toSeq)
    assert(a.nonEmpty && a.sameElements(b))
    assert(spark.conf.getAll === before, "q_stream_join left the session confs changed")
    // the runs that keep the trailing no-data batch and the two on the
    // RocksDB state store restore every conf they set, too
    for (q <- Seq("q_stream_join_outer", "q_stream_sink",
        "q_stream_transform_state", "q_stream_pattern")) {
      StreamOps.queries(q)(spark, sf).collect()
      assert(spark.conf.getAll === before, s"$q left the session confs changed")
    }
  }
}
