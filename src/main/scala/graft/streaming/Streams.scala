package graft.streaming

import graft.Q
import graft.Core._
import graft.operators.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.types._
import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming lift of the engine (SURVEY §7.2 step 5): the
  * canonical streaming word count, watermarked tumbling/sliding
  * window aggregations over an `events` file-replay stream, and
  * stateful gap sessionization via `flatMapGroupsWithState`.
  *
  * Execution model: each registered query replays the driver's
  * parquet through `readStream` with `Trigger.AvailableNow`, runs the
  * streaming plan to completion into a named memory sink, and returns
  * that table — so the STREAMING result is checked against the same
  * DuckDB oracles as the batch operators (windowed aggregations run
  * in `complete` mode, which flushes every window regardless of the
  * final watermark, making replay results exactly equal to batch).
  *
  * Watermarks are still declared on every event-time stream: they
  * bound state (and drop late rows in `append` mode); `complete`
  * mode keeps them as state-management metadata, which is the
  * correct posture for a bounded replay check.
  *
  * Replay folds: the stateful families that keep their own state run
  * one loop, [[replayFold]]. The caller partitions the input; each
  * non-empty partition replays as one micro-batch, in partition order
  * on every run, because the replay files carry strictly increasing
  * modification times in partition order. Per batch the family's step
  * maps (state, batch, batchId) to the next state, which is written to
  * `v<batchId>` and read back with its written schema; a step that
  * returns None leaves the state as it was. Retries are idempotent: a
  * re-executed batch recomputes from the same previous version and
  * overwrites its own `v<batchId>`, and every side log a step writes
  * is a batchId-keyed slice, overwritten the same way. Each family
  * keeps only its merge, its side logs and its read-time report.
  *
  * Scale posture: streaming aggregation state is keyed by
  * (window, type) — cardinality is windows × types, not events; the
  * sessionizer keys state by user_id and buffers only the OPEN
  * session per user (events within a session are folded into
  * (start, end, count) immediately), so state is O(active users),
  * never O(events).
  */
object Streams {

  private val runId = new AtomicInteger(0)

  private val eventsSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType), // stored naive µs timestamp
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private[graft] val documentsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The streaming file source requires a DIRECTORY; the driver's
    * tables are single parquet files. Expose a file as a one-entry
    * directory via symlink (no copy). */
  private def streamDir(path: String): String = {
    val f = new java.io.File(path)
    if (!f.isFile) path
    else {
      val dir = java.nio.file.Paths.get(graft.Core.tempDir("graft-replay"))
      java.nio.file.Files.createSymbolicLink(
        dir.resolve(f.getName), f.toPath.toAbsolutePath)
      dir.toString
    }
  }

  /** events replay stream with `ets` = microsecond TIMESTAMP (UTC)
    * and `ts` rebuilt as integer epoch NANOSECONDS — the unit all
    * downstream state folds and oracles compute in. */
  private def eventStream(s: SparkSession, d: String): DataFrame =
    s.readStream.schema(eventsSchema).parquet(streamDir(s"$d/events.parquet"))
      .withColumn("ets", col("ts").cast("timestamp"))
      .withColumn("ts", graft.Core.epochNs(col("ets")))

  /** Micro-batch count of the most recently completed streaming
    * query (data-carrying batches / total triggers) — diagnostic
    * hook for StreamingSpec's pins. */
  @volatile private[graft] var lastBatches: (Int, Int) = (-1, -1)

  /** Await completion and log the micro-batch anatomy to stderr.
    *
    * Why: bench timings of the streaming family are dominated by
    * fixed per-micro-batch overhead, so a cross-round "regression"
    * is only real if the BATCH COUNT stayed equal (r11's apparent
    * 2–3× streaming drifts could not be adjudicated because the run
    * logs carried no batch counts). Every bench/verify run now
    * prints `[stream] <tag> batches=…` so pass logs separate
    * more-batches (plan/source change) from slower-batches (host
    * interference or a real regression). */
  private def awaitAndLog(
      q: org.apache.spark.sql.streaming.StreamingQuery, tag: String): Unit = {
    q.awaitTermination()
    val ps = q.recentProgress
    val withData = ps.count(_.numInputRows > 0)
    lastBatches = (withData, ps.length)
    System.err.println(s"[stream] $tag batches=$withData/${ps.length} " +
      s"rows=${ps.map(_.numInputRows).sum}")
  }

  /** Run `df`'s streaming plan to completion into a memory sink and
    * return the materialized result. Complete-mode aggregations only
    * support memory/console sinks, so the memory sink is unavoidable
    * for replay-parity; but its rows are immediately spooled to a
    * temp parquet dir and the temp view dropped, so neither driver
    * memory nor block-manager storage retains the result (the earlier
    * localCheckpoint approach pinned executor blocks until RDD GC —
    * clearCache() doesn't release checkpoints). The returned frame is
    * a plain parquet scan of the spooled result. At production scale
    * the append-mode queries would write straight to a file sink;
    * this spool is the verify-harness equivalent. */
  private def runToMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndLog(q, name)
    val spark = df.sparkSession
    val spool = s"${graft.Core.tempDir("graft-stream-out")}/$name"
    val out = graft.Core.parquetLeaf(spark.table(name), spool)
    spark.catalog.dropTempView(name)
    out
  }

  /** `src` written as a replay directory, one file per non-empty
    * partition, and read back with its own schema as a stream of one
    * file per trigger. The file source replays in modification-time
    * order, and the writer's tasks finish in any order, so the files
    * are stamped with strictly increasing mtimes in name order, which
    * is partition order: batch i is partition i on every run. */
  private def replayStream(src: DataFrame): DataFrame = {
    val dir = graft.Core.tempDir("graft-replay-src")
    src.write.mode("overwrite").parquet(dir)
    val mtBase = System.currentTimeMillis() - 3600000L
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
        require(f.setLastModified(mtBase + i * 1000L), s"setLastModified failed for $f")
      }
    src.sparkSession.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  /** Replays `src` ([[replayStream]]) and folds each micro-batch into
    * the standing state: `step(state, batch, batchId)` returns the next
    * state, which is written to `<stateRoot>/v<batchId>` through
    * [[graft.Core.parquetLeaf]], or None to keep the state as it is.
    * Returns the final state leaf, None if no step produced one. */
  private[graft] def replayFold(tag: String, src: DataFrame)(
      step: (Option[DataFrame], DataFrame, Long) => Option[DataFrame]): Option[DataFrame] = {
    val stateRoot = graft.Core.tempDir("graft-fold-state")
    @volatile var state: Option[DataFrame] = None
    val q = replayStream(src).writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        step(state, batch, batchId).foreach { next =>
          state = Some(graft.Core.parquetLeaf(next, s"$stateRoot/v$batchId"))
        }
      }
      .start()
    awaitAndLog(q, tag)
    state
  }

  /** A batchId-keyed side log of a replay fold: each batch writes its
    * slice to `<dir>/<part>=<batchId>` (a retry overwrites its own
    * slice), and a read lists every slice written so far with the
    * slices' schema plus the partition column, typed int as partition
    * inference types small batch ids. A schema-less read of the log
    * would plan a footer-inference job on every call. */
  private final class SideLog(prefix: String, part: String = "b") {
    private val dir = graft.Core.tempDir(prefix)
    @volatile private var schema: Option[StructType] = None

    /** Writes `df` as batch `batchId`'s slice; returns the slice's leaf. */
    def write(df: DataFrame, batchId: Long): DataFrame = {
      val leaf = graft.Core.parquetLeaf(df, s"$dir/$part=$batchId")
      schema = Some(df.schema)
      leaf
    }

    def read(s: SparkSession): DataFrame =
      s.read.schema(schema.get.add(part, IntegerType)).parquet(dir)
  }

  /** Streaming word count — the reference pipeline lifted onto an
    * unbounded source; matches the batch `wordcount` oracle. */
  def streamWordCount(s: SparkSession, d: String): DataFrame = {
    val docs = s.readStream.schema(documentsSchema)
      .parquet(streamDir(s"$d/documents.parquet"))
    val counts = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("count"))
    runToMemory(counts, OutputMode.Complete()).orderBy("word")
  }

  /** The native Misra-Gries aggregate ([[graft.plans.MisraGries]],
    * `misra_gries(key, w, cap)`) running INSIDE a streaming
    * aggregation — the sketch's mergeability is exactly what
    * incremental aggregation state needs: each micro-batch folds its
    * token stream into ≤ cap counters map-side, and the state store
    * holds one serialized sketch buffer that the next batch's
    * partials MERGE into. No shuffle of the token stream, O(cap)
    * state total regardless of stream length — the streaming shape
    * for frequent-element monitoring over an unbounded corpus.
    * cap = 64 exceeds the corpus vocabulary, so the replay runs the
    * sketch in its exact regime and shares the batch
    * `sketch_heavy_hitters` top-10 oracle. */
  def streamHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val docs = s.readStream.schema(documentsSchema)
      .parquet(streamDir(s"$d/documents.parquet"))
    val hh = graft.operators.WordCount.cleanTokens(docs, "text")
      .agg(expr("misra_gries(word, 1, 64)").as("hh"))
    runToMemory(hh, OutputMode.Complete())
      .select(posexplode(col("hh")).as(Seq("pos", "e")))
      .filter(col("pos") < 10)
      .select((col("pos") + 1).as("rn"), col("e.word"), col("e.count"))
  }

  /** Streaming distribution-drift monitor: the per-term train/holdout
    * split counters of `pipeline_token_drift` maintained INCREMENTALLY
    * over the document stream — each micro-batch's tokens fold into
    * two conditional sums per term (partial aggregation map-side,
    * state = one row per vocabulary term), and the drift ranking is
    * computed over the converged counters. The production shape for
    * "is tonight's ingest still distributed like the training set":
    * state grows with vocabulary, never with stream length, and the
    * replay must converge to the batch oracle's exact ranking. */
  def streamTokenDrift(s: SparkSession, d: String): DataFrame = {
    val docs = s.readStream.schema(documentsSchema)
      .parquet(streamDir(s"$d/documents.parquet"))
    val split = when(polyHash(col("text")) % 100 < 80, "train").otherwise("holdout")
    val counts = docs
      .select(split.as("split"), explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("term")
      .agg(
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("c_train"),
        sum(when(col("split") === "holdout", 1L).otherwise(0L)).as("c_hold"))
    // the ranking tail is Pipeline.driftRank — one spelling for the
    // batch monitor and this replay, pinned equal by StreamingSpec
    graft.operators.Pipeline.driftRank(runToMemory(counts, OutputMode.Complete()))
  }

  /** Continuous raw-file ingest: the binaryFile connector lifted onto
    * `readStream` — loose corpus files are fingerprinted (byte length
    * + md5) as they land, the front door of a continuously-fed
    * training corpus (fingerprints feed the ingest-dedup and
    * near-dup admission queries downstream). Stateless per-file map,
    * append mode: state is zero, throughput is bounded by listing +
    * read, and each file is processed exactly once per the source's
    * file tracking. doc_id parses from the Hive-layout path rather
    * than relying on streaming partition discovery. */
  def streamBinaryIngest(s: SparkSession, d: String): DataFrame = {
    val raw = graft.operators.Connectors.spoolRawDocs(s, d)
    val stream = s.readStream.format("binaryFile")
      .schema(StructType(Seq(
        StructField("path", StringType),
        StructField("modificationTime", TimestampType),
        StructField("length", LongType),
        StructField("content", BinaryType))))
      .option("pathGlobFilter", "*.txt")
      .load(raw)
      .select(
        regexp_extract(col("path"), "doc_id=(\\d+)", 1).cast("long").as("doc_id"),
        col("length"), md5(col("content")).as("content_md5"))
    runToMemory(stream, OutputMode.Append()).orderBy("doc_id")
  }

  /** Watermarked tumbling 1-hour windows per event_type; matches the
    * batch `events_tumbling` oracle. */
  def streamTumbling(s: SparkSession, d: String): DataFrame = {
    val agg = eventStream(s, d)
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
    runToMemory(agg, OutputMode.Complete()).orderBy("win_start", "event_type")
  }

  /** Watermarked BUILT-IN session windows — the streaming spelling of
    * the batch `events_session_window` query, completing the
    * sessionization matrix (batch built-in / batch custom operator /
    * streaming flatMapGroupsWithState / streaming custom per-batch /
    * streaming built-in). `session_window` merges overlapping
    * per-event candidate windows in the aggregation state itself —
    * dynamic gap sessions with NO user code — and replay-parity
    * against the batch window/cumsum oracle proves the merge
    * converges to the same sessions regardless of micro-batch
    * boundaries. To actually EXERCISE cross-batch merging, the
    * events replay as 4 ts-range slices (one file per trigger), so
    * every session that spans a range cut arrives split across two
    * micro-batches and must merge in state. Complete mode, no
    * watermark: state = open session windows per user, never event
    * history, and nothing may be dropped when the oracle replays the
    * full corpus. */
  def streamSessionWindow(s: SparkSession, d: String): DataFrame = {
    val agg = replayStream(graft.Tables(s, d, "events").repartitionByRange(4, col("ts")))
      .withColumn("ets", col("ts").cast("timestamp"))
      .groupBy(col("user_id"), session_window(col("ets"), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min("ets"), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .select(col("user_id"), col("session_start"), col("n_events"))
    runToMemory(agg, OutputMode.Complete()).orderBy("user_id", "session_start")
  }

  /** Watermarked sliding windows (1 h length / 30 min slide); matches
    * the batch `events_sliding` oracle. */
  def streamSliding(s: SparkSession, d: String): DataFrame = {
    val agg = eventStream(s, d)
      .withWatermark("ets", "1 hour")
      .groupBy(window(col("ets"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n"), col("sum_value"))
    runToMemory(agg, OutputMode.Complete()).orderBy("win_start")
  }

  // -------------------------------------------------------------------
  // Stateful sessionization
  // -------------------------------------------------------------------

  /** `ets` carries the watermark tag through groupByKey (an
    * object-map would strip it and break event-time timeouts). */
  final case class SessEvent(user_id: Long, ts: Long, ets: java.sql.Timestamp)
  final case class SessState(start: Long, end: Long, n: Long)
  final case class Session(user_id: Long, session_start: Long, session_end: Long, n_events: Long)

  private val GapNs = 30L * 60 * 1000000000L

  /** Per-user gap sessionizer. Batch events are sorted by ts before
    * folding (micro-batches are unordered); closed sessions are
    * emitted immediately, the open session persists in state and is
    * emitted when the event-time timeout fires (watermark passed
    * start-of-gap). State per user is a single (start, end, n). */
  def sessionFn(
      userId: Long,
      events: Iterator[SessEvent],
      state: GroupState[SessState]): Iterator[Session] = {
    val sorted = events.toSeq.sortBy(_.ts)
    if (sorted.isEmpty) {
      // timeout path: close and emit the open session
      if (state.hasTimedOut && state.exists) {
        val st = state.get
        state.remove()
        Iterator.single(Session(userId, st.start, st.end, st.n))
      } else Iterator.empty
    } else {
      var closed = List.empty[Session]
      var cur = state.getOption.orNull
      sorted.foreach { e =>
        cur match {
          case null => cur = SessState(e.ts, e.ts, 1)
          case st if e.ts - st.end > GapNs =>
            closed ::= Session(userId, st.start, st.end, st.n)
            cur = SessState(e.ts, e.ts, 1)
          case st => cur = SessState(st.start, math.max(st.end, e.ts), st.n + 1)
        }
      }
      state.update(cur)
      // timeout once the watermark passes the session's gap horizon
      state.setTimeoutTimestamp(cur.end / 1000000L + GapNs / 1000000L)
      closed.reverseIterator
    }
  }

  /** Streaming sessionization (30-min gap) per user. In append mode
    * the emitted rows are a deterministic subset of the batch
    * `events_sessionize` result: every non-last session per user is
    * closed inline by the event that opens the next one, and a user's
    * LAST session is emitted only when its event-time timeout fires —
    * `end_ms + gap < final watermark` where the final watermark is
    * `max(event ms) - 30 min`. The oracle (below) encodes exactly
    * that predicate over the batch session CTE, so this row is
    * hash-checked like every batch operator. */
  def streamSessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sessions = eventStream(s, d)
      .withWatermark("ets", "30 minutes")
      .select(col("user_id"), col("ts"), col("ets"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(sessionFn)
    runToMemory(sessions.toDF(), OutputMode.Append())
      .select(
        col("user_id"),
        date_format(timestamp_micros(expr("session_start div 1000")),
          "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(timestamp_micros(expr("session_end div 1000")),
          "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Streaming A/B of the whole-operator sessionizer — completes the
    * sessionization ladder: window spelling → built-in
    * `session_window` → custom batch operator
    * ([[graft.plans.SessionAgg]]) → `flatMapGroupsWithState`
    * ([[streamSessionize]]) → THIS: the same custom Catalyst operator
    * run per micro-batch with open-session carry-forward state.
    *
    * Replay: events are range-partitioned on ts into 4 slices, which
    * [[replayFold]] replays in partition order, so they arrive in
    * event-time order — the streaming analogue of an in-order log with
    * watermark = max-event-time (zero allowed lateness across
    * slices). Each micro-batch then:
    *
    *   1. runs the BATCH [[graft.plans.SessionAgg]] operator over its
    *      own rows (Exchange → spillable Sort → O(1)-state fold —
    *      identical code path, plan and semantics as
    *      `events_sessionize_native`);
    *   2. chain-merges those sessions with the carried-forward open
    *      sessions: per user, order intervals by start and break a
    *      chain when `start − running-max(end) > gap`. The running
    *      MAX (not lag) handles containment/overlap; merging on that
    *      rule is EXACT — a chain link means two actual events ≤ gap
    *      apart, and any cross-interval event pair ≤ gap apart forces
    *      a link — so incremental merge ≡ global sessionization of
    *      the union, in any arrival order;
    *   3. emits sessions that can no longer grow — `end + gap <
    *      max event ts of the slice` (exactly the event-time-timeout
    *      rule [[streamSessionize]] delegates to Spark's watermark) —
    *      to a batchId-keyed log, and carries only the still-open
    *      tail as state.
    *
    * State per user is the folded (start, end, n) open tail — never
    * events; the chain-merge window partitions by user over
    * state ∪ this-slice sessions, both O(active users). Emitted ∪
    * final state is the COMPLETE session set, so the result is
    * bit-for-bit the batch operator's output and shares its oracle —
    * full replay parity, not the append-mode subset
    * [[streamSessionize]] settles for. The per-batch `first()` reads
    * one aggregated row (the slice max ts — the watermark the
    * source would otherwise track); at production scale it is the
    * trigger's watermark, not a data read. */
  def streamSessionizeNative(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gap = GapNs
    val closedLog = graft.Core.tempDir("graft-sessnat-out")
    // range partitions on ts replay in ts order and keep equal
    // timestamps in one slice, which is all the closure rule needs
    val open = replayFold("streamSessionizeNative",
        graft.Tables(s, d, "events").repartitionByRange(4, col("ts"))) { (state, batch, batchId) =>
      val ev = batch
        .withColumn("tsn", graft.Core.epochNs(col("ts").cast("timestamp")))
        .select(col("user_id"), col("tsn").as("ts"))
      val mx = ev.agg(max("ts")).first()
      if (mx.isNullAt(0)) None
      else {
        val sliceMax = mx.getLong(0)
        val batchSess = graft.plans.SessionAgg(ev, "user_id", "ts", gap)
          .select("user_id", "start_ns", "end_ns", "n_events")
        val w = Window.partitionBy("user_id").orderBy("start_ns", "end_ns")
        val runMaxEnd = max("end_ns")
          .over(w.rowsBetween(Window.unboundedPreceding, -1))
        // cached for the closed-log write and the state write
        val merged = graft.Core.cached(state.fold(batchSess)(_.unionByName(batchSess))
          .withColumn("brk",
            when(runMaxEnd.isNull || col("start_ns") > runMaxEnd + gap, 1L)
              .otherwise(0L))
          .withColumn("chain",
            sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "chain")
          .agg(min("start_ns").as("start_ns"), max("end_ns").as("end_ns"),
            sum("n_events").as("n_events"))
          .select("user_id", "start_ns", "end_ns", "n_events"))
        merged.filter(col("end_ns") + gap < sliceMax)
          .write.mode("overwrite").parquet(s"$closedLog/b=$batchId")
        Some(merged.filter(col("end_ns") + gap >= sliceMax))
      }
    }
    // enumerate the b=<id> dirs rather than globbing: a glob path
    // makes the reader probe "<log>/*" for a streaming-sink metadata
    // dir, which logs a spurious FileNotFound WARN per run
    val closedDirs = new java.io.File(closedLog).listFiles()
      .filter(_.isDirectory).map(_.toString).sorted
    // edge corpora guards (r12 ADVICE): an empty events table carries
    // no batch (no state), and a single-session corpus may never
    // close a session (closedDirs empty) — both legs fall back to an
    // empty frame with the session schema
    val sessSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("start_ns", LongType),
      StructField("end_ns", LongType), StructField("n_events", LongType)))
    def emptySessions = s.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), sessSchema)
    val closed =
      if (closedDirs.isEmpty) emptySessions
      else s.read.schema(sessSchema).parquet(closedDirs.toIndexedSeq: _*)
    val all = closed.unionByName(open.getOrElse(emptySessions))
    all
      .withColumn("session_id", row_number()
        .over(Window.partitionBy("user_id").orderBy("start_ns")).cast("long"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        date_format(timestamp_micros(expr("start_ns DIV 1000")),
          "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(timestamp_micros(expr("end_ns DIV 1000")),
          "yyyy-MM-dd HH:mm:ss").as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** Stream-stream interval join: purchases ⋈ clicks within the
    * preceding 30 minutes, both sides watermarked (the watermark +
    * interval bound is what lets the join state be dropped — without
    * them stream-stream join state grows forever). The inner join
    * emits every match under full replay. */
  private def rangeJoined(s: SparkSession, d: String): DataFrame = {
    val p = eventStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), col("ets").as("pets"))
      .withWatermark("pets", "1 hour")
    val c = eventStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"), col("ets").as("cets"))
      .withWatermark("cets", "1 hour")
    p.join(c, expr(
      """user_id = c_user AND
        |cets >= pets - interval 30 minutes AND cets <= pets""".stripMargin))
      .select(col("user_id"), col("purchase_id"), col("pts"), col("cts"))
  }

  /** Batch rollup over the sink table — the stateful work (the
    * interval join) already ran in the stream. */
  private def rangeRollup(sunk: DataFrame): DataFrame =
    sunk
      .groupBy("user_id", "purchase_id", "pts")
      .agg(count(lit(1)).as("n_clicks"),
        expr("min(cts) div 1000").as("first_click_ts"))
      .select(col("user_id"), col("purchase_id"), col("n_clicks"), col("first_click_ts"))
      .orderBy("user_id", "purchase_id")

  /** Memory-sink variant (harness spool; see [[runToMemory]]). The
    * rolled-up result matches the BATCH range-join oracle exactly. */
  def streamRangeJoin(s: SparkSession, d: String): DataFrame =
    rangeRollup(runToMemory(rangeJoined(s, d), OutputMode.Append()))

  /** File-sink twin of [[streamRangeJoin]] — the PRODUCTION posture:
    * the append-mode interval join writes straight to a checkpointed
    * parquet sink, rows never transit the driver or a memory table
    * (executors write the files; at cluster scale this is the
    * standard unbounded-output path). The rollup is a batch read of
    * the sink directory; the oracle is the same batch range join. */
  def streamRangeJoinFiles(s: SparkSession, d: String): DataFrame = {
    val out = graft.Core.tempDir("graft-stream-fsink")
    val q = rangeJoined(s, d).writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", s"$out/chk")
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndLog(q, "stream_range_join_files")
    rangeRollup(s.read.parquet(s"$out/data"))
  }

  /** Stream-stream LEFT OUTER interval join — [[rangeJoined]]'s outer
    * twin: every purchase emits, WITH its clicks when they exist and
    * with nulls once the click-side watermark proves no match can
    * still arrive. The outer side is what makes eviction semantics
    * visible: an unmatched purchase is only emitted when the global
    * watermark passes its match window, so purchases in the last
    * watermark-delay of the replay are never finalized. The
    * registered result therefore restricts to the FINALIZED region —
    * purchases below the replay's final watermark, computed
    * batch-side with the same formula Spark uses (per-side max event
    * time floored to ms, minus the 1 h delay, min across sides) less
    * a 1 ms guard band so the cutoff is a conservative lower bound of
    * the engine's internal ms-granular threshold. The oracle applies
    * the identical cutoff to a batch left join. */
  private def leftOuterJoined(s: SparkSession, d: String): DataFrame = {
    val p = eventStream(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("pts"), col("ets").as("pets"))
      .withWatermark("pets", "1 hour")
    val c = eventStream(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"), col("ets").as("cets"))
      .withWatermark("cets", "1 hour")
    p.join(c, expr(
      """user_id = c_user AND
        |cets >= pets - interval 30 minutes AND cets <= pets""".stripMargin),
      "leftOuter")
      .select(col("user_id"), col("purchase_id"), col("pts"), col("cts"))
  }

  def streamLeftOuterJoin(s: SparkSession, d: String): DataFrame = {
    val sunk = runToMemory(leftOuterJoined(s, d), OutputMode.Append())
    val batch = s.read.schema(eventsSchema).parquet(s"$d/events.parquet")
    // final global watermark (micros): min over both sides of
    // (max event-time ms - 1 h), minus the 1 ms guard band. A side
    // with NO events never advances its watermark operator past 0, so
    // the global watermark stays 0 and nothing is ever finalized —
    // mirror that by emitting an empty finalized region unless BOTH
    // event types are present.
    val wm = batch
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type"), graft.Core.epochUs(col("ts")).as("ts_us"))
      .groupBy("event_type")
      .agg(max(expr("ts_us div 1000")).as("max_ms"))
      .agg(when(count(lit(1)) === 2,
        (min(col("max_ms")) - lit(3600000L) - lit(1L)) * lit(1000L))
        .otherwise(lit(Long.MinValue)).as("wm_us"))
    sunk.crossJoin(broadcast(wm))
      .filter(expr("pts div 1000") < col("wm_us"))
      .groupBy("user_id", "purchase_id")
      .agg(count(col("cts")).as("n_clicks"))
      .orderBy("user_id", "purchase_id")
  }

  /** Stream–static enrichment: the unbounded event stream joined to
    * a STATIC dimension (event_type → deterministic code, computed
    * batch-side). A stream-static inner join is STATELESS — each
    * micro-batch probes the static side and nothing is buffered, so
    * at cluster scale the dimension broadcasts and the stream never
    * shuffles for the join. */
  def streamStaticEnrich(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dim = s.read.schema(eventsSchema).parquet(s"$d/events.parquet")
      .select(col("event_type")).distinct()
      .withColumn("type_code",
        row_number().over(Window.orderBy("event_type")).cast("long"))
    val agg = eventStream(s, d)
      .join(broadcast(dim), "event_type")
      .groupBy("type_code", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    runToMemory(agg, OutputMode.Complete()).orderBy("type_code")
  }

  /** Streaming exact dedup — the training-pipeline INGEST posture:
    * `dropDuplicates` on the content hash emits each distinct
    * document exactly once (on first arrival), so downstream stages
    * see a deduped stream without ever re-scanning the corpus. Which
    * doc_id arrives first is micro-batch-order dependent, so the
    * registered (oracle-checked) result is the deterministic
    * distinct-content set. State is O(distinct hashes) at 32
    * bytes/doc — the bounded-retention production variant is
    * `dropDuplicatesWithinWatermark` keyed the same way once an
    * ingest-time column exists; the state keying (hash, not text) is
    * what matters at 100 TB and is identical in both. */
  def streamDedupExact(s: SparkSession, d: String): DataFrame = {
    val docs = s.readStream.schema(documentsSchema)
      .parquet(streamDir(s"$d/documents.parquet"))
    val distinctDocs = docs
      .select(md5(col("text").cast("binary")).as("content_md5"))
      .dropDuplicates("content_md5")
    runToMemory(distinctDocs, OutputMode.Append()).orderBy("content_md5")
  }

  /** Watermark-bounded streaming dedup — the production fix for
    * [[streamDedupExact]]'s unbounded state: `dropDuplicatesWithinWatermark`
    * keeps a key's dedup state only until the event-time watermark
    * passes it, so state is O(keys inside the horizon) forever, not
    * O(all keys ever). The honest trade, documented: a duplicate
    * arriving more than the horizon after its first occurrence is
    * re-emitted (state was evicted) — at 100 TB you size the horizon
    * to the source's real out-of-orderness. Which physical row wins
    * a key is arrival-order dependent, so the registered result is
    * the deterministic KEY set (the winning row's other columns are
    * projected away); the replay covers one batch, where dedup-
    * within-watermark equals exact distinct and the oracle is plain
    * DISTINCT. */
  def streamDedupWatermarked(s: SparkSession, d: String): DataFrame = {
    val deduped = eventStream(s, d)
      .withWatermark("ets", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    runToMemory(deduped, OutputMode.Append()).orderBy("user_id", "event_type")
  }

  /** `foreachBatch` incremental upsert — the remaining sink API: a
    * micro-batch MERGE maintaining a "latest event + lifetime count
    * per user" serving table. Each batch folds to one row per user
    * seen (argmax by (ts, event_id) via `max(struct(...))` + a
    * count), then merges with the current state by the same
    * commutative fold — so the result is independent of batch
    * boundaries and arrival order, which is what makes the pattern
    * safe under redelivery. At production scale the same closure
    * targets Delta/Iceberg `MERGE`. The replay is split into 4
    * partitions, one micro-batch each, so the merge really runs
    * incrementally, not as one degenerate batch. */
  def streamUpsertLatest(s: SparkSession, d: String): DataFrame = {
    def fold(df: DataFrame): DataFrame =
      df.groupBy("user_id")
        .agg(
          max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("m"),
          sum("n_events").as("n_events"))
        .select(col("user_id"), col("m.ts").as("ts"), col("m.event_id").as("event_id"),
          col("m.event_type").as("event_type"), col("m.value").as("value"),
          col("n_events"))

    replayFold("streamUpsertLatest",
        graft.Tables(s, d, "events").repartitionByRange(4, col("event_id"))) { (state, batch, _) =>
      val b = batch.withColumn("n_events", lit(1L))
        .select("user_id", "ts", "event_id", "event_type", "value", "n_events")
      Some(fold(state.fold(b)(_.unionByName(b))))
    }.get
      // epoch µs — the integer DuckDB's `epoch_us(ts)` reports (the
      // stored µs timestamp itself decided the argmax above)
      .select(col("user_id"), graft.Core.epochUs(col("ts")).as("last_ts"),
        col("event_type").as("last_type"),
        col("value").as("last_value"), col("n_events"))
      .orderBy("user_id")
  }

  /** Streaming ANN index maintenance — the missing piece between the
    * batch LSH builders and a serving tier: vectors ARRIVE (file
    * replay, 4 micro-batches) and a `foreachBatch` loop incrementally
    * upserts the hyperplane bucket table. Each batch computes its own
    * (vec_id, tbl, bucket) entries map-side with the same native
    * codegen'd buckets the batch path uses, then merges them into the
    * index deduping on (vec_id, tbl) — idempotent under redelivery
    * (bucket ids are deterministic per vector, so a duplicate row is
    * bit-identical and the dedup is lossless). At production scale
    * the closure is a Delta/Iceberg MERGE with the index partitioned
    * by (tbl, bucket) for probe locality, and each batch touches only
    * its own vectors' entries — never a rebuild. The replay result
    * equals the batch-computed bucket table row for row. */
  def streamAnnUpsert(s: SparkSession, d: String): DataFrame =
    replayFold("streamAnnUpsert",
        graft.Tables(s, d, "embeddings").repartitionByRange(4, col("vec_id"))) { (state, batch, _) =>
      val v = graft.functions.Vectors
      val entries = batch
        .select(col("vec_id"), posexplode(v.lshBuckets(v.toD(col("embedding")))))
        .select(col("vec_id"), col("pos").cast("long").as("tbl"), col("col").as("bucket"))
      Some(state.fold(entries)(_.unionByName(entries).dropDuplicates("vec_id", "tbl")))
    }.get.orderBy("vec_id", "tbl")

  /** Streaming winnowing-index maintenance — the hygiene-family
    * analogue of [[streamAnnUpsert]], closing the last batch-only gap
    * in the MOSS overlap family: documents ARRIVE (file replay, 4
    * micro-batches) and `foreachBatch` incrementally upserts the
    * (fingerprint → doc) index (plus each doc's fingerprint count).
    * Winnowing selection is a pure per-row function, so each batch
    * contributes exactly its own docs' rows, and redelivery dedup on
    * (doc_id, h) is lossless — a duplicate row is bit-identical. The
    * df-cap and the pair join run at READ time over the maintained
    * index through literally the same
    * [[graft.operators.TrainingFilters.winnowPairReport]] plan as the
    * batch report: a fingerprint's document frequency is corpus-level
    * state only the final index knows, so capping early would change
    * semantics (a hash can cross the boilerplate threshold in a later
    * batch). Replay parity is structural — the maintained index
    * equals the batch-scanned one row for row. Scale: per batch only
    * that batch's (doc_id, nf, h) rows are computed map-side; the
    * standing index is unioned in as a parquet leaf, never
    * recomputed, and stores 24 bytes/fingerprint. */
  def streamWinnowingPairs(s: SparkSession, d: String): DataFrame = {
    val idx = replayFold("streamWinnowingPairs",
        graft.Tables(s, d, "documents").repartitionByRange(4, col("doc_id"))) { (state, batch, _) =>
      val f = graft.operators.TrainingFilters.winnowFpsOf(batch)
      val entries = f.select(col("doc_id"), size(col("fps")).as("nf"),
        explode(col("fps")).as("h"))
      Some(state.fold(entries)(_.unionByName(entries).dropDuplicates("doc_id", "h")))
    }.get
    graft.operators.TrainingFilters.winnowPairReport(
      idx.select("doc_id", "h"),
      idx.groupBy("doc_id").agg(max("nf").as("nf")))
  }

  /** Streaming session-interval maintenance — the r15 interval
    * family's twin, closing its batch-only gap: events ARRIVE in a
    * deliberately time-SCATTERED replay (hash-partitioned by
    * event_id across 4 micro-batches, so every batch holds a
    * time-interleaved slice of every user's events — the adversarial
    * arrival order) and `foreachBatch` maintains each user's merged
    * session intervals with a GAP-TOLERANT INTERVAL-MERGE fold:
    * batch events enter as point intervals, (state ∪ points)
    * re-merges per user, spans closer than the 30-min gap fuse.
    * The fold is ORDER-INDEPENDENT — a merged span's endpoints are
    * true event times and its interior gaps can never matter for a
    * future merge (they were ≤ gap when fused and stay so), so any
    * arrival order converges to the batch sessionization, including
    * the bridging case where a later batch's event FUSES two spans
    * an earlier batch left apart. The concurrency histogram runs at
    * READ time over the maintained intervals through literally the
    * same [[graft.operators.Events.overlapHistogram]] plan as the
    * batch report (the [[streamAnnUpsert]] read-time-pairing
    * discipline).
    *
    * Scale: state is one (user, s_ns, e_ns) row per session — 24
    * bytes each, |users|·|sessions| total; the per-batch fold
    * shuffles batch points plus the state leaf on user_id and each
    * user's lambda-fold is O(own sessions). At production scale the
    * state merge is a MERGE touching only arriving users' rows
    * (state is user-partitioned; a batch names its users); the
    * full-state rewrite here is the verify-harness equivalent. */
  /** The gap-tolerant interval-merge fold over (user_id, s_ns, e_ns)
    * rows: per user, sort the spans and fuse any closer than the
    * 30-min session gap (`x.s ≤ last.e + gap` — the same STRICT `>`
    * new-session rule as the batch sessionizer). Idempotent and
    * order-independent, so (state ∪ batch-points) re-folds converge
    * regardless of arrival order; the spec pins the bridging case. */
  private[graft] def mergeIntervals(rows: DataFrame): DataFrame = {
    val gapNs = 30L * 60 * 1000000000L
    rows
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("s_ns"), col("e_ns")))).as("a"))
      .select(col("user_id"), explode(expr(
        s"""aggregate(slice(a, 2, size(a) - 1), array(a[0]),
           |  (acc, x) -> CASE
           |    WHEN x.s_ns <= element_at(acc, -1).e_ns + ${gapNs}L
           |    THEN concat(slice(acc, 1, size(acc) - 1), array(named_struct(
           |      's_ns', element_at(acc, -1).s_ns,
           |      'e_ns', greatest(element_at(acc, -1).e_ns, x.e_ns))))
           |    ELSE concat(acc, array(x)) END)""".stripMargin)).as("iv"))
      .select(col("user_id"), col("iv.s_ns").as("s_ns"),
        col("iv.e_ns").as("e_ns"))
  }

  /** The interval-state replay both interval twins share: scatter the
    * events by event_id hash across 4 micro-batches, maintain the
    * per-user merged session spans through [[mergeIntervals]], and
    * return the final state as a (user_id, s_ns, e_ns) frame. */
  private def replayedIntervals(s: SparkSession, d: String, tag: String): DataFrame =
    replayFold(tag, graft.Tables(s, d, "events").repartition(4, col("event_id"))) {
      (state, batch, _) =>
        val pts = batch
          .withColumn("ns", graft.Core.epochNs(col("ts").cast("timestamp")))
          .select(col("user_id"), col("ns").as("s_ns"), col("ns").as("e_ns"))
        Some(mergeIntervals(state.fold(pts)(_.unionByName(pts))))
    }.get

  def streamIntervalOverlap(s: SparkSession, d: String): DataFrame =
    // read-time pairing: identical plan to the batch report; interval
    // identity is (user, span start) — unique, sessions are disjoint
    graft.operators.Events.overlapHistogram(
      replayedIntervals(s, d, "streamIntervalOverlap")
        .select(struct(col("user_id"), col("s_ns").as("start_ns")).as("iid"),
          col("s_ns"), col("e_ns")))

  /** Streaming PEAK LOAD — the interval family's time-axis report
    * over the SAME maintained state as [[streamIntervalOverlap]]:
    * per-user merged session spans, re-folded per micro-batch in any
    * arrival order, read at the end through the batch
    * [[graft.operators.Events.peakFromIntervals]] plan (hour-bin
    * explode + one bin-keyed count). One state family, two read-time
    * reports — the equidepth/ACF discipline applied to intervals. */
  def streamPeakLoad(s: SparkSession, d: String): DataFrame =
    graft.operators.Events.peakFromIntervals(
      replayedIntervals(s, d, "streamPeakLoad"))

  /** Streaming NEAR-dup ingest filter — the fuzzy sibling of
    * [[streamDedupExact]]: documents ARRIVE (file replay, 4
    * micro-batches) and only band-bucket canonicals survive. The
    * admission rule is deliberately ORDER-INDEPENDENT: a doc is
    * admitted iff it is the minimum doc_id in EVERY MinHash band
    * bucket it occupies (min is commutative, so replay order and
    * batch boundaries cannot change the outcome — unlike
    * first-arrival-wins, which would tie results to scheduling).
    * `foreachBatch` maintains two incremental states: the band→min
    * table (merged by groupBy-min each batch — a MERGE at production
    * scale) and an append-only per-doc band log; the final admission
    * check is one join of log against minima. Near-dups of a
    * canonical share ≥ 1 band with it (that is the LSH fire
    * condition), lose the min there, and are rejected.
    *
    * Scale: state is |distinct band keys| rows of 4 longs; each
    * batch shuffles only its own band rows plus the merge. The raw
    * (m1, m2) minima are kept unhashed so the DuckDB oracle replays
    * the identical band keys from the seed constants. */
  def streamDedupNeardup(s: SparkSession, d: String): DataFrame = {
    val bandLog = new SideLog("graft-nd-bands")
    val mins = replayFold("streamDedupNeardup",
        graft.Tables(s, d, "documents").repartitionByRange(4, col("doc_id"))) { (state, batch, batchId) =>
      val bands = graft.operators.Dedup.minhashBandRows(batch)
      // the log rows are later summed per source, so a retry must
      // replace its own slice, not double it
      bandLog.write(bands, batchId)
      val m = bands
        .select(col("band_idx"), col("m1"), col("m2"), col("doc_id").as("min_doc"))
      Some(state.fold(m)(_.unionByName(m))
        .groupBy("band_idx", "m1", "m2").agg(min("min_doc").as("min_doc")))
    }.get
    val adm = bandLog.read(s)
      .join(mins, Seq("band_idx", "m1", "m2"))
      .groupBy("doc_id")
      .agg(min(when(col("min_doc") === col("doc_id"), 1L).otherwise(0L)).as("ok"))
    graft.Tables(s, d, "documents").join(adm, "doc_id")
      .groupBy("source")
      .agg(sum(col("ok")).as("n_admitted"),
        sum(lit(1L) - col("ok")).as("n_rejected"))
      .orderBy("source")
  }

  /** Fold one micro-batch's NEW verified match edges into the
    * standing (v, lbl) label table — the shared CC-maintenance step
    * of [[streamDupClusters]] and [[streamErGolden]].
    *
    * Every endpoint first collapses to its CURRENT representative
    * (its standing label; itself when first seen). An edge whose
    * endpoints already share a component becomes a self-loop and is
    * dropped, so connected components runs on the component-MERGE
    * graph only — one node per TOUCHED representative — instead of
    * the previous spelling's (all prior labels replayed as star
    * edges) ∪ (new edges), whose vertex set was every vertex ever
    * seen. Per-batch CC work is therefore proportional to the
    * batch's own merges, never the accumulated state, and a batch
    * whose edges all land inside existing components skips the CC
    * and the state rewrite entirely (returns None, which keeps the
    * standing labels — the production MERGE-nothing fast path).
    *
    * Equivalence to full CC over (stars ∪ new): every standing label
    * is the MIN vertex id of its component (CC's fixpoint), so
    * lbl(v) ≤ v on every row. CC over the rep graph assigns each
    * merged component the min of its touched reps — exactly the min
    * vertex id over the union of their old components — and
    * untouched reps keep their label through the left join; vertices
    * first seen this batch enter the base as their own rep, and the
    * min() fold cannot demote an existing label below them. */
  private[graft] def foldEdgesIntoLabels(
      prev: Option[DataFrame], newPairs: DataFrame): Option[DataFrame] =
    prev match {
      case None =>
        val (labels, _) = graft.operators.Dedup.connectedComponents(newPairs)
        Some(labels)
      case Some(lb) =>
        val np = newPairs.toDF("a", "b")
        // cached: the emptiness probe below and CC's edge-leaf write
        // both read this tiny frame; without the pin the candidate
        // join + verify would run twice
        val mapped = graft.Core.cached(np
          .join(lb.select(col("v").as("a"), col("lbl").as("ra")), Seq("a"), "left")
          .join(lb.select(col("v").as("b"), col("lbl").as("rb")), Seq("b"), "left")
          .select(coalesce(col("ra"), col("a")).as("x"),
            coalesce(col("rb"), col("b")).as("y"))
          .filter(col("x") =!= col("y"))
          .select(least(col("x"), col("y")).as("a"),
            greatest(col("x"), col("y")).as("b"))
          .distinct())
        if (mapped.isEmpty) None
        else {
          val (moves, _) = graft.operators.Dedup.connectedComponents(mapped)
          // standing labels ∪ the merge graph's vertices as their own
          // rep (every rep r already appears in lb as (r, r); only
          // first-seen vertices are genuinely new) — min() keeps the
          // standing label wherever both exist (lbl ≤ v invariant)
          val base = lb
            .unionByName(mapped.select(col("a").as("v"))
              .unionAll(mapped.select(col("b").as("v")))
              .select(col("v"), col("v").as("lbl")))
            .groupBy("v").agg(min("lbl").as("lbl"))
          Some(base
            .join(moves.select(col("v").as("r"), col("lbl").as("nl")),
              col("lbl") === col("r"), "left")
            .select(col("v"), coalesce(col("nl"), col("lbl")).as("lbl")))
        }
    }

  /** Streaming duplicate-CLUSTER maintenance — the TRANSITIVE member
    * of the ingest-dedup family: where [[streamDedupNeardup]] decides
    * per-document admission, this maintains the full cluster labeling
    * as documents arrive. Per micro-batch: shingle the batch, probe
    * the STANDING band index for candidates (new-vs-old and
    * new-vs-new in one join), verify with exact Jaccard against the
    * standing shingle index, then RE-LABEL by folding the verified
    * pairs into the standing labels ([[foldEdgesIntoLabels]]):
    * endpoints collapse to their current representatives and
    * connected components runs over the component-merge graph only —
    * a connectivity-equivalent quotient, so the incremental labeling
    * converges to exactly the batch labeling regardless of arrival
    * order (the oracle IS the batch recursive closure).
    *
    * State = the three standing indexes a production incremental
    * dedup service keeps: band index (candidate generation), shingle
    * index (verification), label table (clusters) — each
    * vocabulary/corpus-keyed, never pair history. Per-batch cost is the
    * batch's own banding + probe + a few CC rounds on the collapsed
    * graph. */
  def streamDupClusters(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    val bandLog = new SideLog("graft-cl-bands")
    val setsLog = new SideLog("graft-cl-sets")
    val labels = replayFold("streamDupClusters",
        graft.Tables(s, d, "documents").repartitionByRange(4, col("doc_id"))) { (state, batch, batchId) =>
      val sets = Dedup.wordSetsOf(batch)
      val bands = Dedup.minhashBandRows(batch)
      setsLog.write(sets, batchId)
      bandLog.write(bands, batchId)
      // candidates: batch bands vs ALL bands seen so far (incl. own
      // batch — the log already contains this batch's slice)
      val allBands = bandLog.read(s)
        .select(col("band_idx"), col("m1"), col("m2"), col("doc_id").as("doc_b"))
      val cand = bands
        .select(col("band_idx"), col("m1"), col("m2"), col("doc_id").as("doc_a"))
        .join(allBands, Seq("band_idx", "m1", "m2"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("a"),
          greatest(col("doc_a"), col("doc_b")).as("b"))
        .distinct()
      val allSets = setsLog.read(s)
      val newPairs = cand
        .join(allSets.select(col("doc_id").as("a"), col("sh").as("sh_a")), "a")
        .join(allSets.select(col("doc_id").as("b"), col("sh").as("sh_b")), "b")
        .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.8)
        .select("a", "b")
      foldEdgesIntoLabels(state, newPairs)
    }.get
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** Streaming ENTITY RESOLUTION — the last batch-only graph/state
    * family gets its replay-parity twin (r16 verdict item): customers
    * arrive HASH-SCATTERED across micro-batches (members of one
    * duplicate cluster deliberately land in different batches, so
    * later edges must FUSE clusters formed earlier — the adversarial
    * discipline the interval fold proved under). Per batch: the
    * batch's corpus-adaptive deletion-blocking rows
    * ([[graft.operators.Dedup.erBlockRows]]) join the ACCUMULATED
    * block log for candidates, exact levenshtein-1 + same-nation
    * verify yields new match edges, and the shared
    * [[foldEdgesIntoLabels]] step folds them into the standing
    * labels (endpoints collapse to their current representatives; CC
    * runs over the component-merge graph only — identical
    * connectivity, work bounded by the batch's merges). The
    * read-time report derives through the batch survivorship tail
    * ([[graft.operators.Dedup.goldenSurvivorship]]), so ONE oracle
    * serves batch and stream.
    *
    * Scale: standing state is block rows (8-byte hashes + cores) and
    * labels — never pairs; candidates are hash equi-joins bounded by
    * block density exactly like the batch path; at production scale
    * the per-batch label rewrite becomes a vertex-partitioned MERGE
    * (the [[streamDupClusters]] argument verbatim). */
  def streamErGolden(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    def customers = graft.Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val blockLog = new SideLog("graft-er-blocks")
    val labels = replayFold("streamErGolden",
        customers.repartition(4, col("c_custkey"))) { (state, batch, batchId) =>
      foldEdgesIntoLabels(state, erNewEdges(s, d, blockLog, batch, batchId))
    }.get
    Dedup.goldenSurvivorship(customers, labels)
  }

  /** One ER batch's new match edges, each pair once as (a < b): the
    * batch's deletion-blocking rows ([[graft.operators.Dedup
    * .erBlockRows]]) are written as its `blocks` slice, then joined on
    * the block hash with ALL slices so far (its own included, so every
    * pair fires when its LATER member arrives) and verified by same
    * nation and levenshtein ≤ 1. Shared by [[streamErGolden]] and
    * [[streamErConfidence]]. */
  private def erNewEdges(s: SparkSession, d: String, blocks: SideLog,
      batch: DataFrame, batchId: Long): DataFrame = {
    val rows = graft.operators.Dedup.erBlockRows(s, d, batch)
    blocks.write(rows, batchId)
    val all = blocks.read(s)
      .select(col("c_custkey").as("b"), col("c_nationkey").as("nb"),
        col("core").as("core_b"), col("h"))
    rows
      .select(col("c_custkey").as("a"), col("c_nationkey").as("na"),
        col("core").as("core_a"), col("h"))
      .join(all, Seq("h"))
      .filter(col("a") =!= col("b") && col("na") === col("nb"))
      .filter(levenshtein(col("core_a"), col("core_b"), 1) =!= -1)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** Streaming LM-STATISTICS maintenance — the streaming twin of the
    * r17 perplexity quality gate: a production LM-based filter trains
    * its count model on a stream of trusted text, and the state a
    * streaming trainer actually maintains is exactly the raw trigram
    * count table (counts are additive, so the per-batch fold is a
    * groupBy-sum merge — the [[streamSpanIngest]] count-state family
    * applied to the LM). TRAIN-split documents (the same 80% content-
    * hash bucket as the batch query) arrive hash-scattered; each
    * batch's trigram counts merge forward into versioned state; at
    * read time the maintained table feeds the IDENTICAL model build +
    * back-off + Q20 fold ([[graft.operators.TrainingFilters
    * .knPerplexityScore]]) over the held-out split, so
    * `lm_kn_perplexity`'s oracle serves both.
    *
    * Scale: state is the trigram VOCABULARY (counts), which grows
    * ≪ corpus (Heaps' law); the per-batch merge shuffles only new
    * batch counts against the matching state partitions — at
    * production scale a vocabulary-partitioned MERGE. */
  def streamLmPerplexity(s: SparkSession, d: String): DataFrame = {
    import graft.operators.TrainingFilters
    val bucket = polyHash(col("text")) % 100
    val counts = replayFold("streamLmPerplexity",
        graft.Tables(s, d, "documents").filter(bucket < 80)
          .repartition(4, col("doc_id"))) { (state, batch, _) =>
      val c = TrainingFilters.trigramCounts(batch)
      Some(state.fold(c)(_.unionByName(c)
        .groupBy("w1", "w2", "w3").agg(sum(col("c123")).as("c123"))))
    }.get
    TrainingFilters.knPerplexityScore(counts,
      graft.Tables(s, d, "documents").filter(bucket >= 80))
  }

  /** Streaming FELLEGI–SUNTER linkage — the ER matrix's second member
    * ([[streamErGolden]] maintains graph labels; this maintains the
    * OTHER state class: additive sufficient statistics). The eight
    * m/u sums are additive over disjoint pair sets, so the standing
    * state is one 8-long row folded forward per batch, plus the
    * exactly-once pair log (the review-queue candidates a production
    * linkage job persists anyway). Exactly-once pairing: each batch
    * pairs against STRICTLY OLDER slices (partition-column filter
    * `b < batchId` — retry-safe even after the batch's own slice is
    * written) plus its key-ordered internal pairs; cross-batch pairs
    * appear when their later member arrives, never twice. The
    * read-time report runs the batch scoring tail
    * ([[graft.operators.Dedup.fsTail]]) over the maintained state, so
    * `er_fellegi_sunter`'s oracle serves both.
    *
    * Scale: state is 8 longs; the pair log is nation-blocked exactly
    * like the batch query (bounded by block density). */
  def streamErFellegi(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    val recsLog = new SideLog("graft-fs-recs")
    val pairLog = new SideLog("graft-fs-pairs")
    val mu = replayFold("streamErFellegi",
        graft.Tables(s, d, "customer").repartition(4, col("c_custkey"))) { (state, batch, batchId) =>
      recsLog.write(batch, batchId)
      val inPairs = Dedup.fsPairFeatures(batch, batch, ordered = true)
      val newPairs =
        if (batchId == 0) inPairs
        else {
          val older = recsLog.read(s)
            .filter(col("b") < batchId).drop("b")
          Dedup.fsPairFeatures(batch, older, ordered = false)
            .unionByName(inPairs)
        }
      val muBatch = Dedup.fsMu(pairLog.write(newPairs, batchId))
      Some(state.fold(muBatch)(Dedup.fsMuMerge(_, muBatch)))
    }.get
    Dedup.fsTail(pairLog.read(s).drop("b"), mu)
  }

  /** Streaming ER match-EVIDENCE maintenance — the third member of
    * the ER streaming matrix, closing its last read-time-report
    * asymmetry (r17 verdict item: [[streamErGolden]] maintains labels
    * but discards edge evidence after each CC fold, so cluster
    * confidence could not derive at read time). The standing state is
    * the batchId-keyed VERIFIED-EDGE LOG (the [[streamErFellegi]]
    * pair-log pattern): per batch, the block join against the
    * accumulated block log yields new candidate pairs, the exact
    * levenshtein-1 + same-nation rule verifies them, and each
    * verified edge is persisted WITH its Jaro–Winkler score — the
    * evidence row a production linkage job logs for its review queue.
    * Every pair fires exactly once (in the batch its LATER member
    * arrives — the [[streamErGolden]] argument), so the log union IS
    * the batch edge set. No per-batch CC: clusters are a REPORT-time
    * derivation (one CC pass over the final log through
    * [[graft.operators.Dedup.erConfidenceReport]], the shared batch
    * tail), which is both the production design — match evidence is
    * maintained incrementally, cluster membership is recomputed when
    * the report is read — and the wall-clock answer to the r17
    * finding that per-batch-CC twins must not multiply
    * ([[streamErGolden]] already pays that cost once).
    *
    * Scale: per-batch work is hash equi-joins bounded by block
    * density plus a name-keyed score join; state is edges + block
    * rows, never pair history beyond the verified matches themselves;
    * the report-time CC is O(log d) rounds over match edges only. */
  def streamErConfidence(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    def customers = graft.Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
    val blockLog = new SideLog("graft-erc-blocks")
    val edgeLog = new SideLog("graft-erc-edges", "bat")
    // the edge log is the whole state, so every step keeps None
    replayFold("streamErConfidence",
        customers.repartition(4, col("c_custkey"))) { (_, batch, batchId) =>
      val newEdges = erNewEdges(s, d, blockLog, batch, batchId)
      // score at match time against the record store (the stream's
      // own source table) and persist the evidence row
      edgeLog.write(
        Dedup.erEdgeSims(customers.select(col("c_custkey"), col("c_name")), newEdges),
        batchId)
      None
    }
    Dedup.erConfidenceReport(edgeLog.read(s).drop("bat"))
  }

  /** Streaming verbatim-SPAN ingest dedup — the ExactSubstr member
    * of the ingest-dedup family ([[streamDedupExact]] by content
    * hash, [[streamDedupNeardup]] by MinHash bands,
    * [[streamPhashIngest]] by perceptual hash, this by repeated
    * K-gram overlap): each micro-batch explodes into its K-gram rows
    * ([[graft.operators.SpanDedup.gramRows]]); the standing state is
    * the gram VOCABULARY with corpus counts — never documents, never
    * history — merged forward per batch, next to a per-batch gram
    * log. Admission is a pure
    * function of the FINAL counts (a doc passes iff none of its
    * grams reached corpus count ≥ 2), so any arrival order converges
    * to the batch recomputation the oracle runs. */
  def streamSpanIngest(s: SparkSession, d: String): DataFrame = {
    val gramLog = new SideLog("graft-span-log")
    val counts = replayFold("streamSpanIngest",
        graft.Tables(s, d, "documents").repartitionByRange(4, col("doc_id"))) { (state, batch, batchId) =>
      val g = graft.operators.SpanDedup.gramRows(batch).select("doc_id", "g")
      gramLog.write(g, batchId)
      val c = g.groupBy("g").agg(count(lit(1)).as("n"))
      Some(state.fold(c)(_.unionByName(c).groupBy("g").agg(sum(col("n")).as("n"))))
    }.get
    val rep = counts.filter(col("n") >= 2).select("g")
    val dirty = gramLog.read(s).join(rep, "g")
      .select("doc_id").distinct().withColumn("dirty", lit(1L))
    graft.Tables(s, d, "documents").join(dirty, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(sum(when(col("dirty").isNull, 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("dirty").isNull, 0L).otherwise(1L)).as("n_rejected"))
      .orderBy("source")
  }

  /** Streaming IMAGE ingest dedup — the multimodal member of the
    * ingest-dedup family ([[streamDedupExact]] by content hash,
    * [[streamDedupNeardup]] by MinHash bands, this by perceptual
    * hash): each micro-batch of documents becomes its synthesized
    * PPM rasters, decoded and dHashed partition-locally
    * ([[graft.operators.Multimodal.phashOf]]); per-batch hashes
    * append to a log and the running (dhash → min doc_id) index
    * merges FORWARD — state is the hash vocabulary, never history.
    * Admission is first-by-id per hash: order-independent, so any
    * arrival order converges to the batch recomputation the oracle
    * runs. */
  def streamPhashIngest(s: SparkSession, d: String): DataFrame = {
    val hashLog = new SideLog("graft-ph-log")
    val mins = replayFold("streamPhashIngest",
        graft.Tables(s, d, "documents").repartitionByRange(4, col("doc_id"))) { (state, batch, batchId) =>
      val hashes = graft.operators.Multimodal.phashOf(batch)
      hashLog.write(hashes, batchId)
      val m = hashes.select(col("dhash"), col("doc_id").as("min_doc"))
      Some(state.fold(m)(_.unionByName(m)).groupBy("dhash").agg(min("min_doc").as("min_doc")))
    }.get
    val adm = hashLog.read(s)
      .join(mins, "dhash")
      .select(col("doc_id"),
        (col("min_doc") === col("doc_id")).cast("long").as("ok"))
    graft.Tables(s, d, "documents").join(adm, "doc_id")
      .groupBy("source")
      .agg(sum(col("ok")).as("n_admitted"),
        sum(lit(1L) - col("ok")).as("n_rejected"))
      .orderBy("source")
  }

  /** Streaming mergeable-sketch maintenance — the distinct-count
    * analogue of [[streamAnnUpsert]]: events arrive in micro-batches
    * and a per-event-type DataSketches HLL state is UNIONed forward
    * each batch, never recomputed from history. Re-aggregatability is
    * the whole point at 100 TB: exact distinct state grows with the
    * key universe, a sketch stays ~KB per group and merges
    * associatively across batches/executors/days. The final exact
    * recount exists only as the PROOF (the bound-check hashability
    * contract of [[graft.operators.Udaf]]): the emitted row is the
    * exact count plus a bool that the merged estimate landed within
    * 8% — oracle emits the exact count and literal TRUE. */
  def streamHllUsers(s: SparkSession, d: String): DataFrame = {
    val est = replayFold("streamHllUsers",
        graft.Tables(s, d, "events").repartitionByRange(4, col("event_id"))) { (state, batch, _) =>
      val sk = batch.groupBy("event_type")
        .agg(expr("hll_sketch_agg(user_id)").as("sk"))
      Some(state.fold(sk)(_.unionByName(sk)
        .groupBy("event_type").agg(expr("hll_union_agg(sk)").as("sk"))))
    }.get
      .select(col("event_type"), expr("hll_sketch_estimate(sk)").as("est"))
    val exact = graft.Tables(s, d, "events")
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("exact_users"))
    est.join(exact, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("est") - col("exact_users")).cast("double")
          / col("exact_users") <= 0.08).as("within_bound"))
      .orderBy("event_type")
  }

  private val cleanedSql = graft.operators.WordCount.cleanedSql

  /** Shared by both range-join variants (memory spool / file sink) —
    * same stream, same rollup, same batch oracle. */
  private val oRangeJoin =
    """SELECT p.user_id AS user_id, p.event_id AS purchase_id,
      |  COUNT(*) AS n_clicks, min(epoch_us(c.ts)) AS first_click_ts
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id
      |  AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
      |GROUP BY 1, 2 ORDER BY user_id, purchase_id""".stripMargin

  // -------------------------------------------------------------------
  // transformWithState (arbitrary-state API v2)
  // -------------------------------------------------------------------

  /** Input/state rows for [[UserStatsProcessor]] (public: encoder
    * codegen reflects on the constructors). `cents` is computed in
    * the plan as `floor(value·100 + 0.5)` so the JVM state fold is
    * pure integer arithmetic the DuckDB oracle reproduces exactly. */
  case class UEvent(user_id: Long, cents: Long)
  case class UStat(user_id: Long, n_events: Long, sum_cents: Long)

  /** Per-user lifetime counters in a single `ValueState` — the
    * canonical use of the modern `transformWithState` API (explicit
    * typed state handles + RocksDB-backed store, the successor to
    * `flatMapGroupsWithState`). Emits the running total once per
    * (user, micro-batch); totals are monotone, so the final value per
    * user is recoverable from any emission log. */
  class UserStatsProcessor extends StatefulProcessor[Long, UEvent, UStat] {
    @transient private var st: ValueState[UStat] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[UStat]("ustat",
        org.apache.spark.sql.Encoders.product[UStat], TTLConfig.NONE)
    override def handleInputRows(
        key: Long, rows: Iterator[UEvent], tv: TimerValues): Iterator[UStat] = {
      var cur = if (st.exists()) st.get() else UStat(key, 0L, 0L)
      rows.foreach(e => cur = UStat(key, cur.n_events + 1, cur.sum_cents + e.cents))
      st.update(cur)
      Iterator.single(cur)
    }
  }

  /** Streaming per-user lifetime stats via [[UserStatsProcessor]].
    * The state store must be RocksDB (transformWithState requires
    * it); the provider conf is scoped to this query and restored.
    * The rollup takes each user's LAST emission — `max(struct(n,
    * sum))` works because n_events strictly increases across a
    * user's emissions. Matches the batch per-user aggregate oracle.
    * State at scale is one small row per active user. */
  def streamUserStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val in = eventStream(s, d)
      .select(col("user_id"),
        expr("floor(value * 100D + 0.5D)").as("cents"))
      .as[UEvent]
    val out = in.groupByKey(_.user_id)
      .transformWithState(new UserStatsProcessor, TimeMode.None(),
        OutputMode.Update(), org.apache.spark.sql.Encoders.product[UStat])
    // State-store instance count = state partitions: every partition
    // runs its own RocksDB with per-batch commit/snapshot work. On a
    // cluster you size this to executors×cores; inside one local JVM
    // 32 RocksDB instances are pure fixed overhead (~4× the query's
    // actual work), so the stateful stream pins a host-sized value.
    val tuned = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.shuffle.partitions" -> "8")
    val prev = tuned.map { case (k, _) => k -> s.conf.getOption(k) }
    tuned.foreach { case (k, v) => s.conf.set(k, v) }
    val sunk =
      try runToMemory(out.toDF(), OutputMode.Update())
      finally prev.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    sunk
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_cents"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.sum_cents").as("sum_cents"))
      .orderBy("user_id")
  }

  /** Streaming KMV distinct-sketch maintenance — the bounded-state
    * counterpart of `stream_hll_users` that stays INTERSECTION-capable
    * ([[graft.plans.MinKHashes]]): per event type, state is the k=64
    * smallest user-id hashes, stored EXPLODED as (type, h) rows
    * (≤ k·|types| rows total). Each micro-batch unions its own min-k
    * sketch with the stored rows and re-folds — KMV is a set property,
    * so the stream-merged sketch equals the batch sketch EXACTLY under
    * any batch split or redelivery, and the oracle replays the final
    * sketch values (kth minimum pinned as an integer) plus the
    * estimator arithmetic bit-for-bit. At 100 TB: state per key group
    * is k longs, batches shuffle only their own sketch partials. */
  def streamKmvUsers(s: SparkSession, d: String): DataFrame = {
    val k = 64
    val skc = graft.plans.Sketches
    val h = (lit(skc.seedA(40)) * col("user_id") + lit(skc.seedB(40))) % skc.P
    def fold(pairs: DataFrame): DataFrame = pairs
      .groupBy("event_type")
      .agg(skc.minKHashes(col("h"), k).as("sk"))
      .select(col("event_type"), explode(col("sk")).as("h"))
    replayFold("streamKmvUsers",
        graft.Tables(s, d, "events").repartitionByRange(4, col("event_id"))) { (state, batch, _) =>
      val bp = batch.select(col("event_type"), h.as("h"))
      Some(fold(state.fold(bp)(_.unionByName(bp))))
    }.get
      .groupBy("event_type")
      .agg(skc.minKHashes(col("h"), k).as("sk"))
      .select(col("event_type"), size(col("sk")).as("n_sketch"),
        // ANSI element_at ERRORS out of bounds; below-k sketches (tiny
        // corpora) must yield NULL like the oracle's l[64]
        when(size(col("sk")) >= k, element_at(col("sk"), k)).as("kth_min"),
        skc.kmvEstimate(col("sk"), k).as("est_users"))
      .orderBy("event_type")
  }

  /** Streaming write THROUGH the DSv2 sink SPI
    * ([[graft.sources.GraftSinkStreamingWrite]]) — not `foreachBatch`:
    * the documents corpus replays in 4 micro-batches and each epoch
    * commits as an APPENDED manifest snapshot with an
    * `#epoch=<writeId>/<epochId>` idempotence marker (re-delivered
    * epoch commits publish nothing — the exactly-once contract a
    * production streaming sink must implement; the crash-replay
    * scenarios are driven through the SPI in GraftSinkProtocolSpec).
    * The result is read back through the sink's manifest-gated scan
    * and emitted per-doc with an md5 of the round-tripped text — a
    * byte-exact proof across the TSV escape/unescape, the epoch
    * staging protocol, and the append chain; `multi_snapshots` pins
    * that the table really accreted one retained snapshot per epoch
    * rather than one bulk commit. */
  def streamDsv2Sink(s: SparkSession, d: String): DataFrame = {
    val srcDir = graft.Core.tempDir("graft-sinkstream-src")
    graft.Tables(s, d, "documents").select(col("doc_id"), col("text"))
      .repartitionByRange(4, col("doc_id"))
      .write.mode("overwrite").parquet(srcDir)
    val tableDir = graft.Core.tempDir("graft-sinkstream-table")
    val srcSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val q = s.readStream.schema(srcSchema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .format("graft.sources.GraftDocsSink")
      .option("path", tableDir)
      .option("checkpointLocation", graft.Core.tempDir("graft-sinkstream-ckpt"))
      .outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow())
      .start()
    awaitAndLog(q, "streamDsv2Sink")
    val nVersions = graft.sources.GraftDocsSink.versions(tableDir).size
    // the expected epoch count is the ACTUAL source file count, not
    // the requested partition count: repartitionByRange(4) on a
    // small/skewed corpus may write fewer non-empty files, and with
    // maxFilesPerTrigger=1 each file is exactly one epoch/snapshot
    val nSrcFiles = Option(new java.io.File(srcDir).listFiles())
      .getOrElse(Array.empty)
      .count(f => f.getName.startsWith("part-") && f.length > 0)
    s.read.format("graft.sources.GraftDocsSink").option("path", tableDir).load()
      .select(col("doc_id"),
        md5(col("text").cast("binary")).as("rt_md5"),
        lit(nVersions >= math.max(1, nSrcFiles)).as("multi_snapshots"))
      .orderBy("doc_id")
  }

  /** Streaming CUPED maintenance — the experiment dashboard that
    * updates as events arrive: the maintained state is the ADDITIVE
    * (user, day, cents) table (integer sums — associative and
    * commutative, so any batch split folds to the same state), and
    * the corpus-level reads (pre/post midpoint split, θ, adjusted
    * means) run at READ time over the final state through the SAME
    * [[graft.operators.Quality.cupedFromDayCents]] plan as the batch
    * operator — exact replay parity by construction. State versions
    * are keyed by batchId (v_b derives from v_{b−1}), so a re-driven
    * micro-batch overwrites its own version instead of double-adding
    * — the idempotence discipline additive state needs where
    * set-valued state (KMV) gets it for free. */
  /** The additive (user, day, cents) state fold shared by
    * [[streamAbCuped]] and [[streamCohortLtv]]: per micro-batch the
    * batch's per-(user, day) cents sums merge into the stored state
    * by one more sum (integer addition is associative/commutative;
    * batchId-keyed versions make redelivery idempotent). Returns the
    * final maintained table carrying BOTH the all-event cents (the
    * CUPED metric) and the purchase-only pcents (the LTV revenue);
    * `tag` names the calling query in the stream log. Rows exist for
    * zero-cents days too (any event plants one), which is what lets
    * the LTV twin count active users. */
  private def dayCentsStateFold(s: SparkSession, d: String,
      tag: String): DataFrame = {
    def dayCents(df: DataFrame): DataFrame = df
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).otherwise(0L).as("pcents"),
        graft.Core.epochUs(col("ts")).as("us"))
      .withColumn("day", expr("us div 86400000000"))
      .groupBy("user_id", "day")
      .agg(sum("cents").as("cents"), sum("pcents").as("pcents"))
    replayFold(tag,
        graft.Tables(s, d, "events").repartitionByRange(4, col("event_id"))) { (state, batch, _) =>
      val bp = dayCents(batch)
      Some(state.fold(bp)(_.unionByName(bp)
        .groupBy("user_id", "day")
        .agg(sum("cents").as("cents"), sum("pcents").as("pcents"))))
    }.get
  }

  def streamAbCuped(s: SparkSession, d: String): DataFrame =
    graft.operators.Quality.cupedFromDayCents(
      dayCentsStateFold(s, d, "streamAbCuped")
        .select("user_id", "day", "cents"))

  /** Live cohort-LTV triangle — the same maintained (user, day,
    * cents) state as [[streamAbCuped]] read through the batch
    * operator's tail: cohort = min(day) per user is itself a
    * mergeable aggregate of the state, so the whole triangle derives
    * at read time and is bit-identical to the batch result (one
    * oracle serves both). A third distinct metric from ONE state
    * table — the point of the state-vs-metric split. */
  def streamCohortLtv(s: SparkSession, d: String): DataFrame =
    graft.operators.Events.ltvFromDayCents(
      dayCentsStateFold(s, d, "streamCohortLtv")
        .select(col("user_id"), col("day"), col("pcents").as("cents")))

  /** Streaming rolling-retention maintenance — [[streamAbCuped]]'s
    * SET-state sibling: the maintained state is the distinct
    * (user, day) pair table, a set, so per-batch union+distinct is
    * idempotent under ANY batch split or redelivery (no batch-keyed
    * versioning needed — the KMV discipline); the ×7
    * interval-contribution report runs at read time through the SAME
    * plan as the batch operator. */
  def streamRollingDistinct(s: SparkSession, d: String): DataFrame = {
    val NsPerDay = 86400L * 1000000000L
    def pairs(df: DataFrame): DataFrame = df
      .select(col("user_id"), graft.Core.epochNs(col("ts")).as("ns"))
      .select(col("user_id"), expr(s"ns div $NsPerDay").as("day"))
      .distinct()
    graft.operators.Events.rollingFromPairs(replayFold("streamRollingDistinct",
        graft.Tables(s, d, "events").repartitionByRange(4, col("event_id"))) { (state, batch, _) =>
      val bp = pairs(batch)
      Some(state.fold(bp)(_.unionByName(bp).distinct()))
    }.get)
  }

  /** Streaming equi-depth histogram maintenance — the LAST additive
    * read-time-metric family ([[streamAbCuped]]'s value-distribution
    * sibling): the maintained state is the (cents, cnt) FREQUENCY
    * table — integer counts, associative and commutative, so any
    * batch split folds to the same state, with batchId-keyed
    * versions making redelivery idempotent. The histogram derives at
    * READ time through
    * [[graft.operators.Quality.equidepthFromFreqs]] — exact batch
    * parity because per-bucket counts depend only on the value
    * multiset, so one oracle serves both. State size is |distinct
    * cents values|, never event history. */
  def streamEquidepth(s: SparkSession, d: String): DataFrame = {
    def freqs(df: DataFrame): DataFrame = df
      .select(floor(col("value") * 100 + 0.5).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    graft.operators.Quality.equidepthFromFreqs(replayFold("streamEquidepth",
        graft.Tables(s, d, "events").repartitionByRange(4, col("event_id"))) { (state, batch, _) =>
      val bp = freqs(batch)
      Some(state.fold(bp)(_.unionByName(bp).groupBy("v").agg(sum("cnt").as("cnt"))))
    }.get)
  }

  /** Streaming autocorrelation maintenance — the time-series sibling
    * of [[streamEquidepth]]: the maintained state is the additive
    * (day, cents) daily series (integer sums, batchId-keyed versions
    * for redelivery idempotence), and the lag-1..7 ACF derives at
    * READ time through [[graft.operators.Events.acfFromDaily]] —
    * exact batch parity because the statistic is a function of the
    * daily series alone, so the batch oracle serves both. State is
    * |days| rows, never event history. */
  def streamAcf(s: SparkSession, d: String): DataFrame = {
    def daily(df: DataFrame): DataFrame = df
      .select(graft.Core.epochUs(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy(expr("us div 86400000000").as("day"))
      .agg(sum("cents").as("x"))
    graft.operators.Events.acfFromDaily(replayFold("streamAcf",
        graft.Tables(s, d, "events").repartitionByRange(4, col("event_id"))) { (state, batch, _) =>
      val bp = daily(batch)
      Some(state.fold(bp)(_.unionByName(bp).groupBy("day").agg(sum("x").as("x"))))
    }.get)
  }

  /** Streaming Kaplan–Meier maintenance — the MIN-fold state family
    * (the third idempotence class next to batch-keyed-additive and
    * plain-union-set): the maintained state is per-user (first day,
    * first purchase day), and MIN is idempotent and commutative, so
    * ANY batch split or redelivery folds to the same state with no
    * batch keying at all. The survival curve derives at read time
    * through [[graft.operators.Events.kmFromUserDays]] — exact batch
    * parity, one shared oracle. State is |users| rows. */
  def streamKaplanMeier(s: SparkSession, d: String): DataFrame = {
    def fold(df: DataFrame): DataFrame = df
      .select(col("user_id"), col("event_type"),
        graft.Core.epochUs(col("ts")).as("us"))
      .select(col("user_id"), col("event_type"),
        expr("us div 86400000000").as("day"))
      .groupBy("user_id")
      .agg(min("day").as("d0"),
        min(when(col("event_type") === "purchase", col("day"))).as("dp"))
    graft.operators.Events.kmFromUserDays(replayFold("streamKaplanMeier",
        graft.Tables(s, d, "events").repartitionByRange(4, col("event_id"))) { (state, batch, _) =>
      val bp = fold(batch)
      Some(state.fold(bp)(_.unionByName(bp)
        .groupBy("user_id").agg(min("d0").as("d0"), min("dp").as("dp"))))
    }.get)
  }

  /** Streaming weighted-median maintenance over a LINEITEM feed —
    * [[streamEquidepth]]'s grouped sibling, and the one streaming
    * query fed by the fact table rather than events/documents: the
    * maintained state is the additive (flag, cents, weight)
    * frequency table (batchId-keyed versions for redelivery), and
    * the per-group lower weighted median derives at read time
    * through [[graft.operators.Quality.weightedMedianFromFreq]] —
    * exact batch parity, one shared oracle. */
  def streamWeightedMedian(s: SparkSession, d: String): DataFrame = {
    def fold(df: DataFrame): DataFrame = df
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        round(col("l_quantity")).cast("long").as("w"))
      .groupBy("flag", "cents").agg(sum("w").as("w"))
    graft.operators.Quality.weightedMedianFromFreq(replayFold("streamWeightedMedian",
        graft.Tables(s, d, "lineitem")
          .repartitionByRange(4, col("l_orderkey"), col("l_linenumber"))) { (state, batch, _) =>
      val bp = fold(batch)
      Some(state.fold(bp)(_.unionByName(bp).groupBy("flag", "cents").agg(sum("w").as("w"))))
    }.get)
  }

  /** The transition-count state fold shared by
    * [[streamTransitionMatrix]] and [[streamMarkovStationary]] — the
    * order-SENSITIVE incremental state: per micro-batch the new
    * transitions are the consecutive pairs of (carried last event ∪
    * batch) per user, so each user's cross-boundary pair is generated
    * exactly once by the carried row's lead. The state is each user's
    * latest (ts, event_id, type) as one struct-max; each batch's
    * (from, to) pair counts go to a batchId-keyed log, summed at read
    * time (the counts are additive). The replay is range-partitioned
    * on ts, so batches arrive in ts order with equal timestamps in one
    * batch — with unordered batches "the previous event" is undefined
    * mid-stream. Returns the summed pair table; `tag` names the
    * calling query in the stream log. */
  private def transitionStateFold(s: SparkSession, d: String,
      tag: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairLog = new SideLog("graft-trans-pairs")
    replayFold(tag,
        graft.Tables(s, d, "events").repartitionByRange(4, col("ts"))) { (last, batch, batchId) =>
      val ev = batch.select(
        graft.Core.epochNs(col("ts")).as("ts"),
        col("event_id"), col("user_id"), col("event_type"))
      val combined = last.fold(ev)(_
        .select(col("g.ts").as("ts"), col("g.event_id").as("event_id"),
          col("user_id"), col("g.event_type").as("event_type"))
        .unionByName(ev))
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      pairLog.write(combined
        .withColumn("next_type", lead("event_type", 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("type_from"),
          col("next_type").as("type_to"))
        .agg(count(lit(1)).as("n")), batchId)
      Some(combined.groupBy("user_id")
        .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("g")))
    }
    pairLog.read(s)
      .groupBy("type_from", "type_to").agg(sum("n").as("n"))
  }

  /** Live transition matrix: [[transitionStateFold]]'s maintained
    * counts normalized through the SAME plan tail as the batch
    * operator at read time, so replay parity is exact integers. */
  def streamTransitionMatrix(s: SparkSession, d: String): DataFrame = {
    val pairs = transitionStateFold(s, d, "streamTransitionMatrix")
    val fromTot = pairs.groupBy("type_from").agg(sum("n").as("n_from"))
    pairs.join(broadcast(fromTot), "type_from")
      .select(col("type_from"), col("type_to"), col("n"), col("n_from"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
      .orderBy("type_from", "type_to")
  }

  /** Live STATIONARY distribution — the read-time metric derived from
    * [[transitionStateFold]]'s maintained state: the stream keeps
    * only the additive (from, to) pair counts (plus each user's last
    * event), and the [[graft.operators.Events.stationaryFromPairs]]
    * integer power iteration runs when the dashboard reads — the
    * same state-vs-metric split as `stream_ab_cuped`. Because the
    * folded pair table equals the batch pair table exactly (the
    * transition-matrix parity), the derived stationary vector is
    * bit-identical to the batch operator's, and both share one
    * oracle. */
  def streamMarkovStationary(s: SparkSession, d: String): DataFrame =
    graft.operators.Events.stationaryFromPairs(
      transitionStateFold(s, d, "streamMarkovStationary")
        .select(col("type_from").as("tf"), col("type_to").as("tt"), col("n")))

  val queries: Seq[Q] = Seq(
    // oracle: the batch transition oracle verbatim — ts-ordered slice
    // replay + carried last-event state count exactly the batch pairs
    Q("stream_transition_matrix", streamTransitionMatrix, Some(
      """WITH nx AS MATERIALIZED (
        |  SELECT event_type AS type_from,
        |    lead(event_type, 1) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS type_to
        |  FROM events),
        |pairs AS (SELECT type_from, type_to, COUNT(*) AS n FROM nx
        |          WHERE type_to IS NOT NULL GROUP BY 1, 2),
        |ft AS (SELECT type_from, CAST(SUM(n) AS BIGINT) AS n_from
        |       FROM pairs GROUP BY type_from)
        |SELECT pairs.type_from, type_to, n, n_from,
        |  CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
        |FROM pairs JOIN ft USING (type_from)
        |ORDER BY type_from, type_to""".stripMargin)),
    // oracle: the batch markov oracle verbatim — the folded pair
    // state derives the identical stationary vector at read time
    Q("stream_markov_stationary", streamMarkovStationary,
      Some(graft.operators.Events.oMarkovSql)),
    // oracle: the batch LTV oracle verbatim — the folded (user, day,
    // cents) state derives the identical triangle at read time
    Q("stream_cohort_ltv", streamCohortLtv,
      Some(graft.operators.Events.oCohortLtvSql)),
    // oracle: the batch CUPED oracle verbatim — the stream-maintained
    // additive state folds to the identical metric
    Q("stream_ab_cuped", streamAbCuped,
      Some(graft.operators.Quality.oCupedSql)),
    // oracle: the batch rolling oracle verbatim — set state folds to
    // the same pair table under any replay
    Q("stream_rolling_distinct", streamRollingDistinct,
      Some(graft.operators.Events.oRollingSql)),
    // oracle: the batch equi-depth oracle verbatim — frequency state
    // folds to the same multiset under any replay, and per-bucket
    // counts depend only on the multiset
    Q("stream_equidepth", streamEquidepth,
      Some(graft.operators.Quality.oEquidepthSql)),
    // oracle: the batch ACF oracle verbatim — the additive daily
    // state folds to the same series under any replay
    Q("stream_acf", streamAcf,
      Some(graft.operators.Events.oAcfSql)),
    // oracle: the batch KM oracle verbatim — per-user MIN state is
    // idempotent under any batch split or redelivery, no keying
    Q("stream_kaplan_meier", streamKaplanMeier,
      Some(graft.operators.Events.oKaplanMeierSql)),
    // oracle: the batch weighted-median oracle verbatim — the
    // (flag, cents, weight) frequency state folds to the same table
    Q("stream_weighted_median", streamWeightedMedian,
      Some(graft.operators.Quality.oWeightedMedianSql)),
    Q("stream_user_stats", streamUserStats, Some(
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(floor(value * CAST(100 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Q("stream_wordcount", streamWordCount, Some(
      s"""SELECT word, COUNT(*) AS count FROM ($cleanedSql)
         |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin)),
    Q("stream_token_drift", streamTokenDrift,
      Some(graft.operators.Pipeline.oTokenDriftSql)),
    Q("stream_heavy_hitters", streamHeavyHitters, Some(
      s"""SELECT row_number() OVER (ORDER BY count DESC, word) AS rn, word, count
         |FROM (SELECT word, COUNT(*) AS count FROM ($cleanedSql)
         |      WHERE word <> '' GROUP BY word)
         |ORDER BY count DESC, word LIMIT 10""".stripMargin)),
    Q("stream_binaryfile_ingest", streamBinaryIngest, Some(
      """SELECT doc_id, CAST(strlen(text) + 1 AS BIGINT) AS length,
        |  md5(text || chr(10)) AS content_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
      headline = false),
    Q("stream_dsv2_sink", streamDsv2Sink, Some(
      """SELECT doc_id, md5(text) AS rt_md5, TRUE AS multi_snapshots
        |FROM documents ORDER BY doc_id""".stripMargin),
      headline = false),
    Q("stream_kmv_users", streamKmvUsers, Some {
      val skc = graft.plans.Sketches
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    (${skc.seedA(40)} * user_id + ${skc.seedB(40)}) % ${skc.P} AS h
         |  FROM events),
         |sk AS (
         |  SELECT event_type, COALESCE(list_slice(list_sort(list(h)), 1, 64), []) AS l
         |  FROM h GROUP BY event_type)
         |SELECT event_type, CAST(len(l) AS INTEGER) AS n_sketch, l[64] AS kth_min,
         |  CASE WHEN len(l) < 64 THEN CAST(len(l) AS DOUBLE)
         |       ELSE CAST(${63L * skc.P} AS DOUBLE) / CAST(l[64] AS DOUBLE) END AS est_users
         |FROM sk ORDER BY event_type""".stripMargin
    }),
    Q("stream_tumbling", streamTumbling, Some(
      s"""SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS win_start,
         |  event_type, COUNT(*) AS n, ${oDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin)),
    // oracle: reuses the batch events_session_window oracle verbatim
    // (same sessions must emerge from the replay, by construction)
    Q("stream_session_window", streamSessionWindow,
      graft.operators.Events.queries
        .find(_.name == "events_session_window").get.oracle),
    Q("stream_sliding", streamSliding, Some(
      s"""WITH buckets AS (
         |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start, value FROM events
         |  UNION ALL
         |  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP), INTERVAL '30 minutes') AS win_start, value FROM events)
         |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start,
         |  COUNT(*) AS n, ${oDsum("value")} AS sum_value
         |FROM buckets GROUP BY 1 ORDER BY win_start""".stripMargin),
      headline = false),
    Q("stream_static_enrich", streamStaticEnrich, Some(
      s"""WITH dim AS (
         |  SELECT event_type,
         |    row_number() OVER (ORDER BY event_type) AS type_code
         |  FROM (SELECT DISTINCT event_type FROM events))
         |SELECT d.type_code, e.event_type, COUNT(*) AS n,
         |  ${oDsum("e.value")} AS sum_value
         |FROM events e JOIN dim d USING (event_type)
         |GROUP BY 1, 2 ORDER BY type_code""".stripMargin),
      headline = false),
    Q("stream_dedup_exact", streamDedupExact, Some(
      """SELECT DISTINCT md5(text) AS content_md5
        |FROM documents ORDER BY content_md5""".stripMargin),
      headline = false),
    Q("stream_dedup_watermarked", streamDedupWatermarked, Some(
      """SELECT DISTINCT user_id, event_type
        |FROM events ORDER BY user_id, event_type""".stripMargin)),
    // oracle replays the identical 12×2 banding from the seed
    // constants: admission is arrival-order-independent by design,
    // so the batch recomputation IS the streaming result
    Q("stream_dedup_neardup", streamDedupNeardup, Some(
      s"""WITH ${graft.operators.Dedup.oWordSets},
         |seeds(b, sa, oa, sz, oz) AS (VALUES ${graft.operators.Dedup.oBandSeedRows}),
         |bands AS (
         |  SELECT doc_id, b,
         |    list_min(list_transform(sh, x -> (sa * x + oa) % ${graft.Core.HashMod})) AS m1,
         |    list_min(list_transform(sh, x -> (sz * x + oz) % ${graft.Core.HashMod})) AS m2
         |  FROM s CROSS JOIN seeds),
         |mins AS (SELECT b, m1, m2, MIN(doc_id) AS min_doc FROM bands GROUP BY b, m1, m2),
         |adm AS (
         |  SELECT doc_id, MIN(CASE WHEN min_doc = doc_id THEN 1 ELSE 0 END) AS ok
         |  FROM bands JOIN mins USING (b, m1, m2) GROUP BY doc_id)
         |SELECT source, CAST(SUM(ok) AS BIGINT) AS n_admitted,
         |  CAST(SUM(1 - ok) AS BIGINT) AS n_rejected
         |FROM documents JOIN adm USING (doc_id)
         |GROUP BY source ORDER BY source""".stripMargin)),
    // the incremental labeling converges to the batch connected
    // components regardless of arrival order, so the oracle is the
    // same recursive closure dedup_clusters replays
    Q("stream_dedup_clusters", streamDupClusters, Some(
      s"""WITH RECURSIVE ${graft.operators.Dedup.oClusterChain},
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
         |SELECT cc.doc_id, cc.cluster_id, sz.cluster_size
         |FROM cc JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin)),
    // the incremental match-edge + CC maintenance converges to the
    // batch components from any arrival order, and the report runs
    // through the batch survivorship tail — er_golden_records' own
    // recursive-closure oracle serves both
    Q("stream_er_golden", streamErGolden, Some(
      graft.operators.Dedup.oGoldenRecordsSql)),
    // the maintained m/u statistics are additive over the
    // exactly-once pair log, so the stream converges to the batch
    // recomputation — er_fellegi_sunter's oracle serves both
    Q("stream_er_fellegi", streamErFellegi, Some(
      graft.operators.Dedup.oFellegiSunterSql)),
    // the union of the per-batch verified-edge logs is exactly the
    // batch edge set (each pair fires once, when its later member
    // arrives) and the report runs through the shared confidence
    // tail — er_cluster_confidence's oracle serves both
    Q("stream_er_confidence", streamErConfidence, Some(
      graft.operators.Dedup.oErClusterConfidenceSql)),
    // trigram counts are additive, so the maintained state equals
    // the batch count table and the shared scoring tail makes
    // lm_kn_perplexity's oracle serve both
    Q("stream_lm_perplexity", streamLmPerplexity, Some(
      graft.operators.TrainingFilters.oKnPerplexitySql)),
    // admission is a pure function of the final gram counts, so the
    // batch recomputation IS the streaming end state
    Q("stream_span_ingest", streamSpanIngest, Some(
      s"""WITH ${graft.operators.SpanDedup.oracleGrams},
         |rep AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) >= 2),
         |dirty AS (SELECT DISTINCT doc_id FROM grams JOIN rep USING (g))
         |SELECT d.source,
         |  CAST(SUM(CASE WHEN dy.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(SUM(CASE WHEN dy.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected
         |FROM docs d LEFT JOIN dirty dy ON d.doc_id = dy.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin)),
    Q("stream_phash_ingest", streamPhashIngest, Some(
      s"""WITH ${graft.operators.Multimodal.oPhashCte},
         |m AS (SELECT dhash, min(doc_id) AS md FROM hh GROUP BY dhash)
         |SELECT source,
         |  CAST(SUM(CASE WHEN m.md = documents.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
         |  CAST(SUM(CASE WHEN m.md = documents.doc_id THEN 0 ELSE 1 END) AS BIGINT) AS n_rejected
         |FROM documents JOIN hh ON hh.doc_id = documents.doc_id
         |  JOIN m ON m.dhash = hh.dhash
         |GROUP BY source ORDER BY source""".stripMargin)),
    Q("stream_upsert_latest", streamUpsertLatest, Some(
      """WITH ranked AS (
        |  SELECT user_id, ts, event_type, value, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events)
        |SELECT user_id, epoch_us(ts) AS last_ts, event_type AS last_type,
        |  value AS last_value, n_events
        |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin),
      headline = false),
    Q("stream_ann_upsert", streamAnnUpsert, Some(
      s"""WITH b AS (${graft.functions.Vectors.oBucketCte()})
         |SELECT vec_id, CAST(tbl AS BIGINT) AS tbl, bucket
         |FROM b ORDER BY vec_id, tbl""".stripMargin)),
    // the incrementally-maintained index equals the batch scan row for
    // row, so the batch pair-report oracle is the streaming truth too
    Q("stream_winnowing_pairs", streamWinnowingPairs,
      Some(graft.operators.TrainingFilters.oWinnowPairsSql)),
    // the order-independent interval-merge fold converges to the
    // batch sessionization, so the batch theta-join oracle is the
    // streaming truth too (time-scattered arrival included)
    Q("stream_interval_overlap", streamIntervalOverlap,
      Some(graft.operators.Events.oIntervalOverlapSql)),
    // same maintained interval state, second read-time report — the
    // batch peak-load oracle is the streaming truth too
    Q("stream_peak_load", streamPeakLoad,
      Some(graft.operators.Events.oPeakLoadSql)),
    Q("stream_hll_users", streamHllUsers, Some(
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),
    Q("stream_range_join", streamRangeJoin, Some(oRangeJoin), headline = false),
    Q("stream_range_join_files", streamRangeJoinFiles, Some(oRangeJoin),
      headline = false),
    // Finalized region only: purchases below the replay's final global
    // watermark (per-side max event-time ms − 1 h, min across sides,
    // − 1 ms guard), where outer-null emission is proven complete.
    Q("stream_leftouter_join", streamLeftOuterJoin, Some(
      """WITH wm AS (
        |  SELECT CASE WHEN COUNT(*) = 2
        |    THEN (min(max_ms) - 3600000 - 1) * 1000
        |    ELSE -9223372036854775808 END AS wm_us
        |  FROM (SELECT event_type, max(epoch_us(ts) // 1000) AS max_ms
        |        FROM events WHERE event_type IN ('purchase', 'click')
        |        GROUP BY 1))
        |SELECT p.user_id AS user_id, p.event_id AS purchase_id,
        |  COUNT(c.ts) AS n_clicks
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
        |CROSS JOIN wm
        |WHERE epoch_us(p.ts) < wm.wm_us
        |GROUP BY 1, 2 ORDER BY user_id, purchase_id""".stripMargin),
      headline = false),
    // Emitted = inline-closed sessions (all but each user's last)
    // ∪ last sessions whose event-time timeout fired before the final
    // watermark. Timestamps compare at Spark's watermark granularity:
    // milliseconds, floored from the event's µs timestamp.
    Q("stream_sessionize", streamSessionize, Some(
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked),
        |agg AS (
        |  SELECT user_id, sid, COUNT(*) AS n_events,
        |    min(ts) AS s_start, max(ts) AS s_end,
        |    max(sid) OVER (PARTITION BY user_id) AS max_sid
        |  FROM sessions GROUP BY user_id, sid),
        |wm AS (
        |  SELECT epoch_ms(CAST(max(ts) AS TIMESTAMP)) - 1800000 AS wm_ms FROM events)
        |SELECT user_id,
        |  strftime(CAST(s_start AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(CAST(s_end AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  n_events
        |FROM agg, wm
        |WHERE sid < max_sid
        |   OR epoch_ms(CAST(s_end AS TIMESTAMP)) + 1800000 < wm_ms
        |ORDER BY user_id, session_start""".stripMargin),
      headline = false),
    // Full replay parity with the batch whole-operator (emitted ∪
    // final state = the complete session set), so the oracle is the
    // SAME SQL as `events_sessionize_native` — unlike
    // `stream_sessionize`'s append-mode subset above.
    Q("stream_sessionize_native", streamSessionizeNative, Some(
      """WITH marked AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS is_new
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT user_id, ts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, COUNT(*) AS n_events,
        |  strftime(CAST(min(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(CAST(max(ts) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin),
      headline = false),
  )
}
