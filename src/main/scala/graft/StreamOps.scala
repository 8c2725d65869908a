package graft


import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types._

/** Streaming queries over the events table (SURVEY.md §2.4). Four are
  * batch forms written with the constructs Structured Streaming executes
  * (`window()` tumbling/sliding groupings; sessionization via the gap
  * trick, whose incremental analogue is `session_window`). The other
  * twelve run live through the Structured Streaming engine — file-stream
  * sources, watermarks, state stores, memory / file / foreachBatch sinks,
  * driven to completion with Trigger.AvailableNow — and are graded
  * against the same DuckDB oracles as their batch truths. Window starts
  * are emitted as epoch seconds (BIGINT) — timestamps never cross the
  * oracle boundary raw (FIXTURES.md §C).
  *
  * Each live query is its own operator between shared parts: a source
  * ([[eventStream]], or a staged directory through [[reader]]), and one
  * bounded [[run]] under one conf scope ([[drain]] for memory sinks).
  */
object StreamOps extends QueryModule {
  import Tables._

  /** Parquet schema of a source path, memoized per (application, path): every
    * readStream needs an explicit schema, and each batch-side
    * `s.read.parquet(...).schema` pays a listing + footer read — pure fixed
    * overhead when eight live queries resolve the SAME immutable file
    * (SCALE.md "structural live-streaming floor work"). Keyed by
    * applicationId like SharedStage so a new application never sees a stale
    * schema even if the JVM is reused. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StructType]()
  private def cachedSchema(s: SparkSession, path: String): StructType =
    schemaCache.computeIfAbsent((s.sparkContext.applicationId, path),
      _ => s.read.parquet(path).schema)

  /** 1-hour tumbling window counts + sums per event type: the batch
    * query, the live stream and the file-sink stream all run this. */
  private def tumbling(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(unix_seconds(col("w.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))

  /** 1-hour tumbling window counts + sums per event type. */
  def qStreamTumbling(s: SparkSession, d: String): DataFrame =
    tumbling(events(s, d)).orderBy(col("win_start"), col("event_type"))

  val qStreamTumblingSql: String =
    """SELECT CAST(epoch(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS BIGINT) AS win_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** 1-hour windows sliding every 15 minutes, batch and live. */
  private def sliding(ev: DataFrame): DataFrame =
    ev.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value"))
      .select(unix_seconds(col("w.start")).as("win_start"),
        col("n"), col("sum_value"))

  /** 1-hour window sliding every 15 minutes: each event lands in 4
    * overlapping windows. Oracle reproduces the epoch-aligned window grid
    * by shifting the 15-minute bucket k∈[0,3] steps back. */
  def qStreamSliding(s: SparkSession, d: String): DataFrame =
    sliding(events(s, d)).orderBy(col("win_start"))

  val qStreamSlidingSql: String =
    """SELECT CAST(epoch(time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
      |            - k * INTERVAL '15 minutes') AS BIGINT) AS win_start,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events, (VALUES (0), (1), (2), (3)) g(k)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Sessionization with a 30-minute inactivity gap — the classic
    * lag + cumulative-sum session-id assignment, one shuffle on user_id.
    * Streaming analogue: groupBy(session_window(ts, "30 minutes")). Emits a
    * per-user summary: session count, event count, summed session length. */
  def qStreamSession(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1L)
          .otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"),
        ((unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))) / lit(1000000L))
          .cast(LongType).as("len_sec"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"),
        sum(col("len_sec")).as("sum_len_sec"))
      .orderBy(col("user_id"))
  }

  val qStreamSessionSql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |l AS (SELECT user_id, event_id, ts,
      |        LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |      FROM e),
      |n AS (SELECT user_id, event_id, ts,
      |        CASE WHEN prev_ts IS NULL
      |               OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |             THEN 1 ELSE 0 END AS new_sess
      |      FROM l),
      |sid AS (SELECT user_id, event_id, ts,
      |          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |        FROM n),
      |sess AS (SELECT user_id, sess_id, COUNT(*) AS n_events,
      |           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS len_sec
      |         FROM sid GROUP BY user_id, sess_id)
      |SELECT user_id, COUNT(*) AS n_sessions,
      |  CAST(SUM(n_events) AS BIGINT) AS n_events,
      |  CAST(SUM(len_sec) AS BIGINT) AS sum_len_sec
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Streaming-shaped exact dedup: collapse events to one survivor per
    * (user_id, event_type, minute) with a deterministic min-event-id
    * survivor — the batch form of dropDuplicatesWithinWatermark, where the
    * watermark would bound the dedup state. */
  def qStreamDedup(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("user_id"), col("event_type"),
        unix_seconds(date_trunc("minute", col("ts"))).as("minute"),
        col("event_id"))
      .groupBy(col("user_id"), col("event_type"), col("minute"))
      .agg(min(col("event_id")).as("survivor_event_id"),
        count(lit(1)).as("n_collapsed"))
      .orderBy(col("user_id"), col("event_type"), col("minute"))

  val qStreamDedupSql: String =
    """SELECT user_id, event_type,
      |  CAST(epoch(date_trunc('minute', CAST(ts AS TIMESTAMP))) AS BIGINT) AS minute,
      |  MIN(event_id) AS survivor_event_id,
      |  COUNT(*) AS n_collapsed
      |FROM events
      |GROUP BY user_id, event_type, minute
      |ORDER BY user_id, event_type, minute""".stripMargin

  // ------------------------------------------------ streaming skeleton

  /** The conf scope of a bounded streaming run, set only while the query
    * runs ([[GraftSession.withConfs]] restores the session after).
    *
    * Shuffle partitions pinned to 4: every stateful streaming operator
    * materializes state-store instances PER shuffle partition (a
    * stream-stream join: four per partition), and the count is frozen
    * into the query at start — at the batch session's partition count
    * that is fixed overhead against these single-micro-batch state
    * volumes, and 2 or 1 measured flat to worse (SCALE.md "Streaming
    * surface", the state-store-count ladder).
    * Production sizing is the same decision: state-store parallelism
    * follows state volume, not the batch session's scan parallelism.
    *
    * Trailing no-data micro-batches off: they exist to advance the watermark
    * and flush/evict state when no new data will do it. The bounded
    * AvailableNow queries whose OUTPUT doesn't depend on that flush
    * (complete-mode aggs re-emit full state each batch; update-mode stateful
    * ops with TimeMode.None have no timers; inner stream-stream joins emit on
    * match, not on eviction) turn them off — one full IncrementalExecution +
    * state-commit round per query for nothing (SCALE.md "streaming floor
    * work"). The two queries whose SEMANTICS need the trailing flush —
    * q_stream_sink and q_stream_join_outer, whose sentinel design exists
    * exactly to drive it — run [[flushing]].
    *
    * AQE off: Spark turns it off for every streaming query anyway, and
    * says so in a warning per run when the session has it on. */
  private val flushing = Seq("spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "false")
  private val bounded =
    flushing :+ ("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
  /** transformWithState runs only on the RocksDB state store provider. */
  private val rocksDb = bounded :+
    ("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** A file-stream reader with the (memoized) schema of `schemaPath`. */
  private def reader(s: SparkSession, schemaPath: String) =
    s.readStream.schema(cachedSchema(s, schemaPath))

  /** The events table as a file stream, `ts` normalised like the batch
    * read. Glob form: the file source requires a directory basePath, and
    * the driver's tables are single parquet files — the [e] glob matches
    * only the events file while the basePath resolves to the sf dir. */
  private def eventStream(s: SparkSession, d: String): DataFrame =
    Tables.normalizeTs(reader(s, s"$d/events.parquet").parquet(s"$d/[e]vents.parquet"))

  /** One bounded run: start `w` with Trigger.AvailableNow under `confs`,
    * process every available input, stop. */
  private def run(s: SparkSession, w: DataStreamWriter[Row],
      confs: Seq[(String, String)]): Unit =
    GraftSession.withConfs(s, confs: _*) {
      val q = w.trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
    }

  /** [[run]] on a checkpoint of its own, `name`'s staging dir: emptied
    * before the start and removed after the stop, the lifetime Spark gives
    * the temporary checkpoint it would otherwise create. */
  private def runFresh(s: SparkSession, w: DataStreamWriter[Row], name: String,
      confs: Seq[(String, String)]): Unit = {
    val ckpt = RelOps.stagingDir(s, s"ckpt_$name")
    RelOps.deleteRecursively(ckpt)
    try run(s, w.option("checkpointLocation", ckpt), confs) finally RelOps.deleteRecursively(ckpt)
  }

  /** Drain `df` into the memory sink `sink` and return the sink's table.
    * Fixed per-query sink names: the memory sink registers the result via
    * createOrReplaceTempView, so a rerun REPLACES the prior run's table
    * instead of accumulating a fresh UUID-named copy in driver memory for
    * the session lifetime (bench loops run these repeatedly). */
  private def drain(df: DataFrame, sink: String, mode: String,
      confs: Seq[(String, String)] = bounded): DataFrame = {
    runFresh(df.sparkSession,
      df.writeStream.format("memory").queryName(sink).outputMode(mode), sink, confs)
    df.sparkSession.table(sink)
  }

  // ------------------------------------------------------ live queries

  /** The SAME tumbling aggregation as q_stream_tumbling, but executed
    * through the real Structured Streaming engine: parquet file-stream
    * source → event-time watermark → windowed aggregation → memory sink,
    * driven to completion with Trigger.AvailableNow. Complete output mode
    * makes the converged state equal the batch answer, so the identical
    * DuckDB oracle gates the streaming path itself — the graded proof
    * that the streaming surface (readStream/writeStream/watermark/
    * window-state) works, not just its batch-shaped equivalent. At scale
    * the same topology runs unbounded: the watermark bounds window state,
    * and the file source becomes Kafka/object-store listing. */
  def qStreamLive(s: SparkSession, d: String): DataFrame =
    drain(tumbling(eventStream(s, d).withWatermark("ts", "2 hours")),
      "graft_stream_live_sink", "complete")
      .orderBy(col("win_start"), col("event_type"))

  /** The SLIDING-window aggregation through the real streaming engine —
    * the last window shape not yet run live: 1-hour windows sliding every
    * 15 minutes over the event-time-watermarked file stream, so each
    * event updates 4 overlapping windows of state (the engine expands the
    * window grid per row exactly like the batch `window(ts, len, slide)`
    * form). Complete mode + AvailableNow makes the converged state equal
    * the batch q_stream_sliding answer, so the identical DuckDB oracle
    * gates the live path. At scale the watermark expires windows whose
    * end has passed, bounding state to (watermark span / slide) windows
    * per key — the same bound tumbling gets, ×(len/slide) overlap. */
  def qStreamLiveSliding(s: SparkSession, d: String): DataFrame =
    drain(sliding(eventStream(s, d).withWatermark("ts", "2 hours")),
      "graft_stream_slide_sink", "complete")
      .orderBy(col("win_start"))

  /** Streaming DEDUP through the real engine — the last batch-only
    * stream query shape run live: one survivor per (user_id, event_type,
    * minute) with the deterministic min-event-id survivor and collapsed
    * count, as a windowed stateful aggregation over the watermarked file
    * stream. Deliberately the AGGREGATION form rather than
    * `dropDuplicatesWithinWatermark`: that operator keeps the FIRST
    * arrival per key, which is micro-batch-order-dependent — not
    * reproducible across engines — while min-survivor is deterministic
    * and therefore oracle-checkable. Same state bound either way: one
    * row per in-watermark key, expired as the watermark passes. */
  def qStreamLiveDedup(s: SparkSession, d: String): DataFrame =
    drain(eventStream(s, d).withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), col("event_type"),
        window(col("ts"), "1 minute").as("w"))
      .agg(min(col("event_id")).as("survivor_event_id"),
        count(lit(1)).as("n_collapsed"))
      .select(col("user_id"), col("event_type"),
        unix_seconds(col("w.start")).as("minute"),
        col("survivor_event_id"), col("n_collapsed")),
      "graft_stream_dedup_sink", "complete")
      .orderBy(col("user_id"), col("event_type"), col("minute"))

  /** Stateful SESSIONIZATION through the real streaming engine:
    * `session_window` (dynamic, gap-merged window state) over the
    * file-stream source, complete mode + AvailableNow so the converged
    * sessions equal the batch gap-trick answer. Session identity crosses
    * the oracle boundary as epoch seconds of the session start (= first
    * event time). */
  def qStreamLiveSession(s: SparkSession, d: String): DataFrame =
    drain(eventStream(s, d).withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), unix_seconds(col("w.start")).as("sess_start"),
        col("n_events")),
      "graft_stream_sess_sink", "complete")
      .orderBy(col("user_id"), col("sess_start"))

  /** The per-user (user_id, event_id % 1000) stream both stateful APIs
    * consume, run through `stateful` into an update-mode sink. Both
    * emitted measures are MONOTONE (count strictly, modular-token sum
    * non-decreasing since event_id ≥ 0), so max-per-user over the sink
    * equals the converged state and the plain batch aggregate oracle
    * hash-checks the whole stateful path. */
  private def tokenStats(s: SparkSession, d: String, sink: String,
      confs: Seq[(String, String)] = bounded)(
      stateful: KeyValueGroupedDataset[Long, (Long, Long)] =>
        Dataset[(Long, Long, Long)]): DataFrame = {
    import s.implicits._
    val byUser = eventStream(s, d)
      .select(col("user_id").cast(LongType), (col("event_id") % 1000L).as("tok"))
      .as[(Long, Long)].groupByKey(_._1)
    drain(stateful(byUser).toDF("user_id", "n_events", "tok_sum"), sink,
        "update", confs)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("tok_sum")).as("tok_sum"))
      .orderBy(col("user_id"))
  }

  /** ARBITRARY STATEFUL processing through the real streaming engine:
    * `flatMapGroupsWithState` keeps a custom (count, sum) state per user
    * and emits the running totals on every update — the API for state
    * machines that windowed aggregation can't express (the
    * `KeyValueGroupedDataset` surface of the brief). Update output mode
    * writes one row per (user, micro-batch) to the memory sink, read
    * back through [[tokenStats]]. At scale the same code runs unbounded
    * with a timeout policy (`GroupStateTimeout`) bounding state. */
  def qStreamCustomState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    tokenStats(s, d, "graft_stream_state_sink")(
      _.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          var (n, sum) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { r => n += 1; sum += r._2 }
          state.update((n, sum))
          Iterator((user, n, sum))
      })
  }

  /** The StatefulProcessor behind q_stream_transform_state: per-user
    * running (count, token-sum) in a named ValueState. Declared at
    * object scope so the closure the engine serializes is the processor
    * alone, not the enclosing query method. */
  private class TokenStatsProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), (Long, Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode => TM}
    @transient private var agg:
      org.apache.spark.sql.streaming.ValueState[(Long, Long)] = _
    override def init(outputMode: OM, timeMode: TM): Unit =
      agg = getHandle.getValueState[(Long, Long)]("agg",
        org.apache.spark.sql.Encoders.product[(Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[(Long, Long)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Long, Long)] = {
      var (n, sum) = if (agg.exists()) agg.get() else (0L, 0L)
      rows.foreach { r => n += 1; sum += r._2 }
      agg.update((n, sum))
      Iterator((user, n, sum))
    }
  }

  /** ARBITRARY STATEFUL PROCESSING V2 — Spark 4's `transformWithState`,
    * the successor API to q_stream_custom_state's
    * flatMapGroupsWithState: a [[TokenStatsProcessor]] with a NAMED
    * ValueState (the handle supports value/list/map states, TTL, and
    * timers — the building blocks `GroupState`'s single blob couldn't
    * express), running on the RocksDB state store provider the new
    * operator requires. Output and oracle are identical to the V1 query
    * (per-user running count + token sum, converged state == the batch
    * aggregate), so the graded pair pins both stateful APIs to the same
    * truth. At 100 TB the named-state model is what bounds memory:
    * RocksDB spills per-key state to local SSD and TTL evicts cold
    * keys, neither of which the V1 blob API could do. */
  def qStreamTransformState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    tokenStats(s, d, "graft_stream_tws_sink", rocksDb)(
      _.transformWithState(new TokenStatsProcessor, TimeMode.None(), OutputMode.Update()))
  }

  /** The staged source (events + far-future watermark sentinel) is a
    * pure function of sfDir, so it stages ONCE per (application, sfDir)
    * via SharedStage — the same build-once discipline as the trained
    * ANN midpoints. The OUTPUT and CHECKPOINT stay fresh per call: the
    * checkpoint remembers processed file PATHS, so only the immutable
    * source may be shared — delete-then-rebuild of out/ckpt keeps the
    * query rerun-idempotent. */
  private def streamSinkSrc(s: SparkSession, d: String): String =
    SharedStage.memoDir(s, d, "stream_sink_src")(
      dd => new java.io.File(dd, "_SUCCESS").exists()) { dd =>
      val sentinel = s.range(1)
        .select(to_timestamp(lit("2100-01-01 00:00:00")).as("ts"),
          lit("__wm__").as("event_type"), lit(0.0).as("value"))
      // no coalesce(1): this source sets no maxFilesPerTrigger, so the
      // single AvailableNow batch sees every file regardless of count —
      // the one-file form just serialized the staging write for nothing
      events(s, d).select(col("ts"), col("event_type"), col("value"))
        .union(sentinel)
        .write.mode("overwrite").parquet(dd)
    }

  /** One bounded run of the file-sink stream over `src` into out/ckpt;
    * the sentinel NEEDS the trailing flush. */
  private def streamSinkRun(s: SparkSession, src: String,
      out: String, ckpt: String): Unit =
    run(s, tumbling(reader(s, src).parquet(src).withWatermark("ts", "2 hours"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append"), flushing)

  /** The exactly-once RESTART half of the file-sink contract: start the same
    * stream on the sink's existing out/ckpt — the commit log must re-emit
    * nothing. Driven by SinkSemanticsSpec (always-run) rather than inside the
    * timed query: the restart is a correctness CONTRACT, not a second
    * operator, and a full extra StreamExecution per bench pass is pure fixed
    * overhead (SCALE.md "structural live-streaming floor work"). Call only
    * after qStreamSink. */
  private[graft] def streamSinkRestart(s: SparkSession, d: String): Unit = {
    val out = RelOps.stagingDir(s, "stream_sink_out")
    val ckpt = RelOps.stagingDir(s, "stream_sink_ckpt")
    require(new java.io.File(ckpt).isDirectory,
      "streamSinkRestart needs a prior qStreamSink run's checkpoint")
    // the out/ckpt dirs are not sfDir-keyed — restarting against a
    // checkpoint produced from a DIFFERENT sfDir would feed the stream
    // a changed source path (Spark aborts, or worse re-emits); the
    // sentinel file qStreamSink writes makes the misuse loud instead
    val sfTag = java.nio.file.Paths.get(ckpt, "_graft_sfdir")
    require(java.nio.file.Files.exists(sfTag) &&
      java.nio.file.Files.readString(sfTag) == SharedStage.pathTag(d),
      s"streamSinkRestart($d) against a checkpoint from a different sfDir")
    streamSinkRun(s, streamSinkSrc(s, d), out, ckpt)
  }

  /** STREAMING FILE SINK (every live query above drains into a memory sink):
    * the tumbling aggregation written through `writeStream.format("parquet")`
    * with a checkpoint, then read back from the committed files. This is the
    * exactly-once contract a production pipeline actually relies on: the file
    * sink records committed batches in the _spark_metadata log, a RESTART on
    * the same checkpoint re-commits nothing ([[streamSinkRestart]], which
    * SinkSemanticsSpec drives and checks raw bytes against metadata-resolved
    * rows), and readers resolve the directory through the metadata log so
    * half-written files are invisible.
    *
    * Append mode (the only file-sink mode) emits a window only after the
    * watermark passes its end, and the watermark used by batch N comes from
    * batch N−1's data — so a data-only bounded source would emit NOTHING. The
    * stage therefore stages the events together with a far-future `__wm__`
    * sentinel row: the single data batch processes everything and advances
    * the watermark past every real window, and the engine's trailing no-data
    * micro-batch (noDataMicroBatches.enabled, default on) flushes them all —
    * one sequential micro-batch total. The sentinel's own window
    * (2100-01-01+1h) sits above the final watermark and never flushes; the
    * read-back filter drops it if a trailing batch ever does. This is exactly
    * how a bounded backfill run of an unbounded pipeline terminates cleanly
    * at 100 TB: a watermark heartbeat past the horizon, not a mode switch. */
  def qStreamSink(s: SparkSession, d: String): DataFrame = {
    val src = streamSinkSrc(s, d)
    val out = RelOps.stagingDir(s, "stream_sink_out")
    val ckpt = RelOps.stagingDir(s, "stream_sink_ckpt")
    Seq(out, ckpt).foreach(RelOps.deleteRecursively)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ckpt))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(ckpt, "_graft_sfdir"), SharedStage.pathTag(d))
    streamSinkRun(s, src, out, ckpt)
    s.read.parquet(out)
      .filter(col("event_type") =!= "__wm__")
      .orderBy(col("win_start"), col("event_type"))
  }

  /** STREAM-STATIC enrichment join through the real streaming engine —
    * the first streaming operator every production pipeline runs (attach
    * reference data to an event stream): the events file stream joins a
    * STATIC customer dim on user_id, broadcast into every micro-batch (no
    * stream state for the join — the dim is re-resolvable per batch,
    * which is exactly how slowly-changing reference tables behave), then
    * a complete-mode rollup per (segment, event_type). The drained sink
    * equals the batch join+rollup, so the plain-SQL oracle hash-gates the
    * stream-static path. At 100 TB/day the dim broadcast refreshes per
    * batch while the stream never re-reads history. */
  def qStreamEnrich(s: SparkSession, d: String): DataFrame = {
    val dim = customer(s, d).select(col("c_custkey"), col("c_mktsegment"))
    drain(eventStream(s, d)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value"), 4).as("sum_value")),
      "graft_stream_enrich_sink", "complete")
      .orderBy(col("c_mktsegment"), col("event_type"))
  }

  val qStreamEnrichSql: String =
    """SELECT c_mktsegment, event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY c_mktsegment, event_type
      |ORDER BY c_mktsegment, event_type""".stripMargin

  /** STREAM-STREAM inner join through the real streaming engine: two
    * file-stream readers over the events table (clicks / purchases), each
    * event-time watermarked, joined on user_id with the time-range
    * constraint purchase ∈ [click, click + 30 min] — the canonical
    * attribution join. The range bound + both watermarks are what let the
    * engine EXPIRE join state (a click older than watermark − 30 min can
    * never match again), so the state store stays bounded on an unbounded
    * stream — the property that makes this run forever at 100 TB/day.
    * Inner join emits each matched pair exactly once (append mode), so
    * the drained sink equals the batch join and the plain-SQL oracle
    * hash-gates the whole stream-join path. */
  def qStreamJoin(s: SparkSession, d: String): DataFrame =
    // two independent sources (`src` is by-name) measured slightly faster
    // than a one-source self-join here (self-join state bookkeeping
    // outweighs the saved file listing at this scale)
    drain(attribution(eventStream(s, d), "inner"), "graft_stream_join_sink", "append")
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))

  /** The click → purchase attribution join of q_stream_join (inner) and
    * q_stream_join_outer (left_outer) over two watermarked streams of
    * `src`, with purchase ∈ [click, click + 30 min]. */
  private def attribution(src: => DataFrame, joinType: String): DataFrame = {
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val buys = src.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("b_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "2 hours")
    clicks.join(buys,
        col("user_id") === col("b_user_id") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        ((unix_micros(col("purchase_ts")) - unix_micros(col("click_ts"))) /
          lit(1000000L)).cast(LongType).as("secs_to_purchase"))
  }

  val qStreamJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  (epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)))
      |    // 1000000 AS secs_to_purchase
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL '30 minutes'
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  val qStreamCustomStateSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(event_id % 1000) AS BIGINT) AS tok_sum
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  val qStreamLiveSessionSql: String =
    """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |l AS (SELECT user_id, event_id, ts,
      |        LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |      FROM e),
      |n AS (SELECT user_id, ts,
      |        CASE WHEN prev_ts IS NULL
      |               OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
      |             THEN 1 ELSE 0 END AS new_sess
      |      FROM l),
      |sid AS (SELECT user_id, ts,
      |          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      |        FROM n)
      |SELECT user_id, epoch_us(MIN(ts)) // 1000000 AS sess_start,
      |  COUNT(*) AS n_events
      |FROM sid GROUP BY user_id, sess_id
      |ORDER BY user_id, sess_start""".stripMargin

  // ------------------------------------- outer stream-stream join

  /** LEFT-OUTER STREAM-STREAM JOIN — q_stream_join's attribution funnel with
    * the rows production actually wants MOST: the clicks that did NOT
    * convert. Inner stream-stream joins emit on match; outer joins
    * additionally emit the null-padded left row when the WATERMARK proves no
    * match can still arrive (click_ts + 30 min join bound + 2 h watermark
    * delay) — the state-eviction semantics that make the result exactly the
    * batch LEFT JOIN, not a guess. A bounded run needs the watermark pushed
    * past every real event or the unmatched rows stay in state forever, so
    * the stage stages far-future click and purchase sentinel rows TOGETHER
    * with the data: the single data batch matches every real pair and
    * advances BOTH sides' watermarks past every data row's bound, and the
    * engine's trailing no-data micro-batch
    * (spark.sql.streaming.noDataMicroBatches.enabled, default on) evicts and
    * emits every unmatched real click — one sequential micro-batch total
    * (matches are found before eviction within a batch, so no click is
    * null-padded while its purchase sits in the same batch). Sentinels carry
    * user_id = -1 and are dropped on read-back; their own bounds sit past the
    * final watermark and never flush. At 100 TB this is the bounded-backfill
    * termination story again: a watermark heartbeat, not a mode switch. State
    * stays bounded by the 30-min join range + watermark on BOTH sides. */
  def qStreamJoinOuter(s: SparkSession, d: String): DataFrame = {
    // staged source (events + both sentinels) is a pure function of
    // sfDir → stage once per (application, sfDir); the memory sink
    // holds no cross-call state, so only the source needs sharing
    val src = SharedStage.memoDir(s, d, "stream_join_outer_src")(
      dd => new java.io.File(dd, "_SUCCESS").exists()) { dd =>
      def sentinel(t: String, typ: String): DataFrame = s.range(1)
        .select(lit(-1L).as("event_id"), to_timestamp(lit(t)).as("ts"),
          lit(-1L).as("user_id"), lit(typ).as("event_type"))
      events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .union(sentinel("2100-01-01 00:00:00", "click"))
        .union(sentinel("2100-01-02 00:00:00", "purchase"))
        .write.mode("overwrite").parquet(dd) // no coalesce(1): see qStreamSink
    }
    // unmatched-left eviction NEEDS the trailing flush
    drain(attribution(reader(s, src).parquet(src), "left_outer"),
        "graft_stream_join_outer_sink", "append", flushing)
      .filter(col("user_id") >= 0)
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** The c-side type filter sits in WHERE, not ON — in a LEFT JOIN an
    * ON-side left filter would leak non-click rows through as
    * null-padded output. */
  val qStreamJoinOuterSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  (epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(c.ts AS TIMESTAMP)))
      |    // 1000000 AS secs_to_purchase
      |FROM events c LEFT JOIN events p
      |  ON c.user_id = p.user_id
      | AND p.event_type = 'purchase'
      | AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      | AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL '30 minutes'
      |WHERE c.event_type = 'click'
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  /** One micro-batch's copy-on-write merge into the mini-log table,
    * IDEMPOTENT BY batchId: Spark re-invokes foreachBatch with the SAME
    * batchId after a failure-retry, and a blind re-commit would either
    * double-apply the delta (parent now includes this batch) or abort
    * the stream on the claimed slot. Each manifest records the batchId
    * that produced it; a retry whose batchId already owns the latest
    * manifest is a no-op success, and losing a slot race to a commit
    * carrying the same batchId is likewise success — the standard
    * idempotent-sink contract. Extracted from the stream so
    * MiniLogSpec can replay a batch and assert nothing double-applies. */
  private[graft] def minilogMergeBatch(s: SparkSession, table: String,
      delta0: DataFrame, batchId: Long): Unit = {
    import graft.sources.MiniLog
    // ONLY the two empty-log shapes mean "no table yet"; an IO error or
    // corrupt manifest must FAIL the batch (Spark retries it), not
    // silently restart the log at version 1 over committed data
    val ver = try MiniLog.latestVersion(table) catch {
      case _: java.nio.file.NoSuchFileException => 0 // no _graft_log yet
      case _: UnsupportedOperationException => 0 // empty.max: no manifests
    }
    val already = ver > 0 &&
      MiniLog.manifestMeta(table, ver).get("batchId").contains(batchId.toString)
    if (already) return // failure-retry of a batch that already landed
    val meta = Map("batchId" -> batchId.toString)
    val committed =
      if (ver == 0) {
        // initial load consumes the delta exactly once — no checkpoint
        MiniLog.tryCommit(table, 1,
          MiniLog.writeBucketFiles(delta0, table, s"b$batchId"), meta)
      } else {
        // merge path reads the delta twice (affected set + combine):
        // freeze it so the micro-batch aggregation runs once
        val delta = delta0.localCheckpoint()
        val parent = MiniLog.manifest(table, ver)
        val affected = delta.select(col("bucket")).distinct()
          .collect().map(_.getLong(0)).toSet // ≤8 buckets, metadata-scale
        // ONE multi-path read of every affected bucket file (a per-bucket
        // read.parquet + unionByName chain would plan one job per bucket
        // per micro-batch). The bucket key is re-derived from each row's
        // source file path: writeBucketFiles lays files out under bucket=<b>/,
        // so the partition value rides in _metadata.file_path even though
        // the files themselves are read as bare paths.
        val affectedFiles = affected.toSeq.sorted.flatMap(parent.get)
        val current =
          if (affectedFiles.isEmpty) None
          else Some(s.read.parquet(affectedFiles: _*)
            // anchored to the file's PARENT directory segment: an
            // unanchored 'bucket=\d+' would match the first
            // occurrence anywhere in the path, silently mis-keying rows
            // if a staging/table path component upstream of the
            // partition dir ever contained that substring
            .withColumn("bucket",
              regexp_extract(col("_metadata.file_path"),
                "/bucket=(\\d+)/[^/]*$", 1).cast("long")))
        val combined = current match {
          case None => delta
          case Some(cur) => cur.unionByName(delta)
            .groupBy(col("user_id"), col("bucket"))
            .agg(sum(col("n_events")).as("n_events"),
              sum(col("sum_value")).cast(DecimalType(18, 4)).as("sum_value"))
            .select(col("user_id"), col("n_events"), col("sum_value"), col("bucket"))
        }
        val files = parent ++ MiniLog.writeBucketFiles(combined, table, s"b$batchId")
        MiniLog.tryCommit(table, ver + 1, files, meta)
      }
    if (!committed) {
      // lost the slot: success iff the winner was THIS batch's own retry
      val winner = MiniLog.manifestMeta(table, ver + 1)
      require(winner.get("batchId").contains(batchId.toString),
        s"mini-log version ${ver + 1} of $table claimed by a different " +
          s"writer (batchId ${winner.get("batchId")}, ours $batchId)")
    }
  }

  /** STREAMING CDC INTO THE TABLE FORMAT — the lakehouse ingestion pattern
    * that ties the streaming surface to the mini-log: `foreachBatch` merges
    * each micro-batch's per-user (count, exact decimal sum) deltas into the
    * bucketed mini-log table as a copy-on-write UPSERT (read ONLY the
    * affected buckets, combine, rewrite those files, commit version N+1
    * sharing every untouched file), and the graded read is the FINAL SNAPSHOT
    * — which must equal the plain batch aggregate because counts and decimal
    * sums are associative across arbitrary micro-batch slicings. Two staged
    * source files + maxFilesPerTrigger=1 force a real merge commit on top of
    * the initial load (two versions — the minimum that exercises the
    * read-combine-rewrite path; more batches repeat it). The affected-bucket
    * list is a ≤8-row driver collect (metadata-scale, same justification as
    * the index-maintenance queries); sums are pinned to DECIMAL(18,4) after
    * every combine so all snapshot files share one schema across versions. At
    * 100 TB this is exactly how a streaming pipeline lands in Delta/Iceberg:
    * per-batch MERGE keyed by bucket, cost ∝ affected partitions, exact
    * re-aggregation regardless of arrival slicing. */
  def qStreamMinilog(s: SparkSession, d: String): DataFrame = {
    import graft.sources.MiniLog
    // the 2-file staged source is a pure function of sfDir → stage once
    // per (application, sfDir); the mini-log TABLE stays fresh per call
    // (its manifests are the mutable state the query grades)
    val src = SharedStage.memoDir(s, d, "stream_minilog_src")(
      dd => new java.io.File(dd, "_SUCCESS").exists()) { dd =>
      events(s, d).select(col("user_id"), col("value"))
        .repartition(2).write.mode("overwrite").parquet(dd)
    }
    val table = RelOps.stagingDir(s, "stream_minilog_tbl")
    RelOps.deleteRecursively(table)
    def aggOf(df: DataFrame): DataFrame = df
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 4))).as("s"))
      .select(col("user_id"), col("n_events"),
        col("s").cast(DecimalType(18, 4)).as("sum_value"),
        pmod(col("user_id"), lit(8L)).as("bucket"))
    val stream = reader(s, src).option("maxFilesPerTrigger", "1").parquet(src)
    runFresh(s, stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      minilogMergeBatch(s, table, aggOf(batch), batchId)
    }, "stream_minilog", bounded)
    // an empty events table commits a snapshot with no file: it reads as
    // an empty frame of the merged deltas' schema
    MiniLog.readAsOf(s, table, MiniLog.latestVersion(table), aggOf(stream).schema)
      .select(col("user_id"), col("n_events"),
        col("sum_value").cast(DoubleType).as("sum_value"))
      .orderBy(col("user_id"))
  }

  val qStreamMinilogSql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  // ------------------------------------------------------------- registry

  /** The per-batch ordering step [[PatternProcessor]] executes: sort a key's
    * batch rows (user_id, tsu, event_id, t) into the batch engine's (tsu,
    * event_id) total order — ONCE per batch, shared by every machine's fold.
    * The buffer cannot be replaced by sorting the staged slices: rows arrive
    * through a shuffle on user_id, whose read order is no contract, and
    * transformWithState imposes no child ordering. It holds one key's rows of
    * one micro-batch (one time slice); across batches the slices arrive
    * oldest-first (SCALE.md "CEP hot-key buffer, measured"). */
  private[graft] def cepOrder(
      rows: Seq[(Long, Long, Long, String)]): Seq[(String, Long)] =
    rows.sortBy(r => (r._2, r._3)).map(r => (r._4, r._2))

  /** One micro-batch transition exactly as [[PatternProcessor]] executes
    * it: [[cepOrder]] then fold. Extracted so PatternMachineSpec can
    * pin the guarantee the buffer buys — the result is invariant under
    * ANY permutation of the batch's rows, i.e. under anything Spark's
    * non-contractual shuffle read order can do. */
  private[graft] def cepBatchFold(c: PatternMachine.Compiled,
      st0: (Long, Long, Long),
      rows: Seq[(Long, Long, Long, String)]): (Long, Long, Long) =
    c.runT(st0, cepOrder(rows))

  /** The per-user CEP processor behind q_stream_pattern: one compiled
    * [[PatternMachine]] per graded pattern, with per-pattern (progress,
    * count, firstTsu) state in a MapState keyed by pattern index —
    * O(#patterns) state per user at any stream length, never a buffered
    * event HISTORY. For the windowed machine (vp_w30) the extra long is
    * the in-flight partial's first event time. */
  private class PatternProcessor(patterns: Seq[(String, PatternMachine.Compiled)])
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Long, String), (Long, Int, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode => TM}
    @transient private var st:
      org.apache.spark.sql.streaming.MapState[Int, (Long, Long, Long)] = _
    private val compiled = patterns.map(_._2)
    override def init(outputMode: OM, timeMode: TM): Unit =
      st = getHandle.getMapState[Int, (Long, Long, Long)]("pat",
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.product[(Long, Long, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(user: Long,
        rows: Iterator[(Long, Long, Long, String)],
        timers: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[(Long, Int, Long)] = {
      // ONE sort per batch (cepOrder), shared by all machines' folds —
      // per-machine cepBatchFold would re-sort identical rows #patterns times
      val ordered = cepOrder(rows.toSeq)
      // eager: state updates must happen inside this call, not while
      // the engine later drains the returned iterator
      compiled.indices.map { i =>
        val st0 = if (st.containsKey(i)) st.getValue(i) else (0L, 0L, 0L)
        val st1 = compiled(i).runT(st0, ordered)
        st.updateValue(i, st1)
        (user, i, st1._2)
      }.iterator
    }
  }

  /** STREAMING CEP — q_window_pattern's segment semantics running LIVE
    * under `transformWithState` on RocksDB, graded against the SAME DuckDB
    * oracle as the batch form, so the hash match IS the proof that the
    * incremental state machine converges to the windowed batch truth.
    * The events are staged into two event-time slices (one file per
    * micro-batch, mtime-ordered so the file source replays them
    * oldest-first — a bounded stand-in for a time-ordered Kafka
    * partition), and the final answer is each user's converged match
    * count from Update-mode emissions. At 100 TB the slice staging
    * disappears (the log is already time-ordered) and per-key state
    * stays two longs regardless of history length; the range-exchange
    * slicer is only the bounded-replay staging, not the operator. */
  def qStreamPattern(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    // the time-sliced replay source is a pure function of sfDir →
    // stage once per (application, sfDir) (SharedStage); the RocksDB
    // state and memory sink are per-call. Validity marker is our own
    // (the dir is hand-assembled by rename, no _SUCCESS).
    val src = SharedStage.memoDir(s, d, "stream_pattern_src")(
      dd => new java.io.File(dd, "_GRAFT_STAGED").exists()) { dd =>
      // clean slate: a failed prior build leaves moved slices without
      // the marker, and a retry's Files.move would die on them (the
      // tryCommit stale-tmp lockout class) — parquet writers overwrite
      // for free, hand-assembled dirs must do it themselves
      RelOps.deleteRecursively(dd)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dd))
      // ONE staging job: a 2-way range exchange on ts (sampled cut
      // points, no global sort) writes the slices such that part-file
      // INDEX is ts order — part-00000 holds the earliest range by the
      // range partitioner's contract — so renaming in index order with
      // ascending mtimes pins the file source's oldest-first replay
      val tmp = s"$dd/_tmp"
      // event_id rides along: (tsu, event_id) is the batch window's
      // total order, so same-timestamp ties sort identically in both
      // engines AND a tie straddling the range cut still lands in
      // (tsu, event_id) order across slices
      events(s, d).select(col("user_id"),
          unix_micros(col("ts")).as("tsu"), col("event_id"),
          substring(col("event_type"), 1, 1).as("t"))
        .repartitionByRange(2, col("tsu"), col("event_id"))
        .write.mode("overwrite").parquet(tmp)
      val parts = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
      val pfs = try parts.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toList
        .sortBy(_.getFileName.toString)
      finally parts.close()
      pfs.zipWithIndex.foreach { case (pf, i) =>
        val dst = java.nio.file.Paths.get(dd, f"slice$i%02d.parquet")
        java.nio.file.Files.move(pf, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1000000000L + i * 1000L))
      }
      RelOps.deleteRecursively(tmp)
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(dd, "_GRAFT_STAGED"))
    }
    val updates = reader(s, s"$src/slice00.parquet")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .select(col("user_id"), col("tsu"), col("event_id"), col("t"))
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new PatternProcessor(PatternMachine.GradedAll),
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "pat_idx", "n")
    val names = array(PatternMachine.GradedAll.map { case (n, _) => lit(n) }: _*)
    drain(updates, "graft_stream_pattern_sink", "update", rocksDb)
      .groupBy(col("user_id"), col("pat_idx"))
      .agg(max(col("n")).as("n_matches"))
      .select(col("user_id"),
        element_at(names, col("pat_idx").cast(IntegerType) + 1).as("pattern"),
        col("n_matches"))
      .filter(col("n_matches") > 0)
      .orderBy(col("user_id"), col("pattern"))
  }

  val queries = graft.functions.Surface.queries(Map(
    "q_stream_pattern" -> (qStreamPattern _),
    "q_stream_minilog" -> (qStreamMinilog _),
    "q_stream_join_outer" -> (qStreamJoinOuter _),
    "q_stream_live" -> (qStreamLive _),
    "q_stream_live_sliding" -> (qStreamLiveSliding _),
    "q_stream_live_dedup" -> (qStreamLiveDedup _),
    "q_stream_live_session" -> (qStreamLiveSession _),
    "q_stream_custom_state" -> (qStreamCustomState _),
    "q_stream_transform_state" -> (qStreamTransformState _),
    "q_stream_join" -> (qStreamJoin _),
    "q_stream_enrich" -> (qStreamEnrich _),
    "q_stream_sink" -> (qStreamSink _),
    "q_stream_tumbling" -> (qStreamTumbling _),
    "q_stream_sliding" -> (qStreamSliding _),
    "q_stream_session" -> (qStreamSession _),
    "q_stream_dedup" -> (qStreamDedup _),
  ))

  val oracle: Map[String, String] = Map(
    // converged CEP state == the batch segment-pattern truth
    "q_stream_pattern" -> AggWinOps.qWindowPatternSql,
    "q_stream_join_outer" -> qStreamJoinOuterSql,
    "q_stream_live" -> qStreamTumblingSql, // same semantics, streamed
    "q_stream_live_sliding" -> qStreamSlidingSql, // same semantics, streamed
    "q_stream_live_dedup" -> qStreamDedupSql, // same semantics, streamed
    "q_stream_live_session" -> qStreamLiveSessionSql,
    "q_stream_custom_state" -> qStreamCustomStateSql,
    // same truth as the V1 stateful API — the pair pins both to it
    "q_stream_transform_state" -> qStreamCustomStateSql,
    "q_stream_join" -> qStreamJoinSql,
    "q_stream_enrich" -> qStreamEnrichSql,
    // drained file sink == the batch tumbling aggregation
    "q_stream_sink" -> qStreamTumblingSql,
    "q_stream_minilog" -> qStreamMinilogSql,
    "q_stream_tumbling" -> qStreamTumblingSql,
    "q_stream_sliding" -> qStreamSlidingSql,
    "q_stream_session" -> qStreamSessionSql,
    "q_stream_dedup" -> qStreamDedupSql,
  )
}
