package graft

import graft.operators.{Events, WordCount}
import graft.streaming.Streams

/** Streaming semantics: replay parity with the batch operators, and
  * exact gap-sessionization behavior on a crafted corpus. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  /** Write a crafted events fixture. Rows carry `ts` as epoch
    * NANOSECONDS for readability; the stored column must be the naive
    * µs timestamp `Streams.eventsSchema` declares (`timestamp_ntz`),
    * so convert at write time. One part file → one replay micro-batch:
    * with several files the source replays them as separate batches
    * and events behind the advancing watermark are (correctly)
    * dropped as late. */
  private def writeEventsFixture(
      dir: String,
      rows: Seq[(Long, Long, Long, String, Double, String)]): Unit =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts",
        timestamp_micros((col("ts") / 1000).cast("long")).cast("timestamp_ntz"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

  test("streaming CUPED state folds to the exact batch metric") {
    val streamed = Streams.streamAbCuped(spark, sf)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    val batch = graft.operators.Quality.abCuped(spark, sf)
      .as[(Long, Long, Double, Double, Double)].collect().toSeq
    // additive (user, day, cents) state + read-time θ ⇒ bit-for-bit
    // parity under the 4-batch replay split
    assert(streamed == batch)
  }

  test("interval-merge fold is order-independent, including the bridging case") {
    // a later batch's event can FUSE two spans an earlier batch left
    // apart (0 min and 50 min are separate sessions until a 25-min
    // event bridges them); incremental re-fold of (state ∪ point)
    // must equal the all-at-once fold
    val M = 60L * 1000000000L // one minute in ns
    def pts(ts: Long*) = ts.map(t => (1L, t * M, t * M))
      .toDF("user_id", "s_ns", "e_ns")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val allAtOnce = rows(Streams.mergeIntervals(pts(0L, 50L, 25L)))
    assert(allAtOnce == Set((1L, 0L, 50L * M))) // one fused span
    val state1 = Streams.mergeIntervals(pts(0L, 50L))
    assert(rows(state1).size == 2) // apart until the bridge arrives
    val state2 = Streams.mergeIntervals(state1.unionByName(pts(25L)))
    assert(rows(state2) == allAtOnce)
    // strictness: a gap of EXACTLY 30 min stays one session (batch
    // rule is `> 30 min` starts a new one)…
    assert(rows(Streams.mergeIntervals(pts(0L, 30L))).size == 1)
    // …and 30 min + 1 ns splits
    assert(rows(Streams.mergeIntervals(
      Seq((1L, 0L, 0L), (1L, 30L * M + 1L, 30L * M + 1L))
        .toDF("user_id", "s_ns", "e_ns"))).size == 2)
  }

  test("interval-merge fold is idempotent under redelivery") {
    // the at-least-once contract the scaladoc claims: a micro-batch
    // delivered twice (or folded again over already-merged state)
    // must leave the state bit-identical — duplicate points fuse into
    // the spans they already belong to
    val M = 60L * 1000000000L
    val pts = Seq((1L, 0L, 0L), (1L, 25 * M, 25 * M), (2L, 99 * M, 99 * M))
      .toDF("user_id", "s_ns", "e_ns")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val once = rows(Streams.mergeIntervals(pts))
    assert(rows(Streams.mergeIntervals(pts.unionByName(pts))) == once)
    val state = Streams.mergeIntervals(pts)
    assert(rows(Streams.mergeIntervals(state.unionByName(pts))) == once)
  }

  test("streaming interval state converges to the batch concurrency histogram") {
    val streamed = Streams.streamIntervalOverlap(spark, sf)
      .as[(Long, Long)].collect().toSeq
    val batch = Events.intervalOverlap(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(streamed == batch)
    Core.releaseCaches()
  }

  test("streaming ER converges to the batch golden records from scattered arrival") {
    import org.apache.spark.sql.functions._
    val batchRows = graft.operators.Dedup.goldenRecords(spark, sf).collect().toSeq
    // the adversarial premise first: the stream scatters with
    // repartition(4, c_custkey), so a member lands in micro-batch
    // pmod(hash(key), 4). cluster_id (min member) and golden_custkey
    // are both MEMBERS of the cluster — a cluster whose two named
    // members hash to different buckets provably spans micro-batches,
    // forcing the incremental path to FUSE clusters formed in earlier
    // batches rather than only grow fresh ones.
    def bucket(k: Long): Int = {
      val b = Seq(k).toDF("k").select(pmod(hash(col("k")), lit(4)).as("b"))
        .head().getInt(0)
      b
    }
    val spanning = batchRows.filter { r =>
      val cid = r.getAs[Long]("cluster_id")
      val gk = r.getAs[Long]("golden_custkey")
      cid != gk && bucket(cid) != bucket(gk)
    }
    assert(spanning.nonEmpty,
      "no batch cluster spans two scatter buckets — the replay is not adversarial")
    val streamed = Streams.streamErGolden(spark, sf).collect().toSeq
    assert(streamed == batchRows)
    Core.releaseCaches()
  }

  test("label fold runs CC on the component-merge graph only") {
    def lbls(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toMap
    // batch 0 (no standing labels): plain CC over the batch edges
    val l0 = Streams.foldEdgesIntoLabels(
      None, Seq((1L, 2L), (5L, 6L)).toDF("a", "b")).get
    assert(lbls(l0) == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
    // a batch whose every edge lands inside an existing component
    // maps to self-loops only: no merge, no state rewrite (None)
    assert(Streams.foldEdgesIntoLabels(
      Some(l0), Seq((2L, 1L)).toDF("a", "b")).isEmpty)
    // a new-vertex chain (7–8) bridges the two standing components
    // through members (2, 5): everything fuses to the global min,
    // and the first-seen vertices are labeled too
    val l2 = Streams.foldEdgesIntoLabels(
      Some(l0), Seq((2L, 7L), (7L, 8L), (8L, 5L)).toDF("a", "b")).get
    assert(lbls(l2) ==
      Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 6L -> 1L, 7L -> 1L, 8L -> 1L))
    Core.releaseCaches()
  }

  test("streaming edge log derives cluster confidence at batch parity") {
    // the maintained verified-edge log must be EXACTLY the batch edge
    // set (every pair fires once, when its later member arrives), so
    // the report-time CC + confidence tail reproduces every cluster's
    // n_edges / min / mean — including the double mean, computed from
    // identical integer sums
    val streamed = Streams.streamErConfidence(spark, sf).collect().toSeq
    val batch = graft.operators.Dedup.erClusterConfidence(spark, sf)
      .collect().toSeq
    assert(streamed == batch)
    Core.releaseCaches()
  }

  test("streaming FS statistics fold to the batch review queue exactly") {
    // additive sufficient statistics + exactly-once pairing must
    // reproduce the batch m/u weights BIT-exactly (identical op
    // sequence over identical integer sums), not approximately
    val streamed = Streams.streamErFellegi(spark, sf).collect().toSeq
    val batch = graft.operators.Dedup.erFellegiSunter(spark, sf).collect().toSeq
    assert(streamed == batch)
    Core.releaseCaches()
  }

  test("streaming trigram-count state scores held-out perplexity at batch parity") {
    // the maintained state is the raw count table (additive under any
    // batch split), and the read-time report runs the identical model
    // build + Q20 fold — so every column, including the double
    // bits_per_token, must match the batch run bit-exactly
    val streamed = Streams.streamLmPerplexity(spark, sf).collect().toSeq
    val batch = graft.operators.TrainingFilters.knPerplexity(spark, sf)
      .collect().toSeq
    assert(streamed == batch)
    Core.releaseCaches()
  }

  test("streaming rolling distinct's set state folds to the batch report") {
    val streamed = Streams.streamRollingDistinct(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Events.rollingDistinct(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("streaming equi-depth frequency state folds to the batch histogram") {
    val streamed = Streams.streamEquidepth(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    val batch = graft.operators.Quality.equidepthHist(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // (cents, cnt) state folds to the same multiset under the
    // 4-batch split, and per-bucket counts depend only on the
    // multiset ⇒ exact parity between the interval-contribution
    // read and the batch rank spelling
    assert(streamed == batch)
  }

  test("streaming Kaplan-Meier min-fold state replays the batch curve") {
    val streamed = Streams.streamKaplanMeier(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    val batch = graft.operators.Events.kaplanMeier(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // MIN is idempotent and commutative, so the per-user state needs
    // no batch keying and any replay folds to the same table
    assert(batch.nonEmpty && streamed == batch)
  }

  test("streaming weighted median frequency state folds to the batch medians") {
    val streamed = Streams.streamWeightedMedian(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    val batch = graft.operators.Quality.weightedMedian(spark, sf)
      .as[(String, Long, Long)].collect().toSeq
    assert(batch.nonEmpty && streamed == batch)
  }

  test("streaming transition matrix carries last events across slice boundaries exactly") {
    val streamed = Streams.streamTransitionMatrix(spark, sf)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    val batch = graft.operators.Events.transitionMatrix(spark, sf)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    // cross-boundary pairs come only from the carried per-user last
    // event — equality proves each is generated exactly once
    assert(streamed == batch)
  }

  test("streaming word count equals batch word count on replay") {
    val streamed = Streams.streamWordCount(spark, sf)
      .as[(String, Long)].collect().toSeq
    val batch = WordCount.wordCount(
      spark.read.parquet(s"$sf/documents.parquet"))
      .as[(String, Long)].collect().toSeq
    assert(streamed == batch)
    // PIN the micro-batch anatomy: the driver table is ONE parquet
    // file and the query sets no maxFilesPerTrigger, so AvailableNow
    // must complete in exactly one data-carrying batch. If this pin
    // moves, bench timings of the whole memory-sink streaming family
    // move with it — adjudicate batch-count changes before calling a
    // timing drift a regression (r11 could not).
    assert(Streams.lastBatches._1 == 1, s"batches=${Streams.lastBatches}")
  }

  test("maxFilesPerTrigger replay runs one data batch per source file") {
    // streamUpsertLatest writes its own source repartitionByRange(4)
    // → 4 part files, replayed with maxFilesPerTrigger=1: the merge
    // logic must really execute 4 incremental folds (a single-batch
    // replay would never exercise the state-merge path).
    Streams.streamUpsertLatest(spark, sf).collect()
    assert(Streams.lastBatches._1 == 4, s"batches=${Streams.lastBatches}")
  }

  test("replayFold replays partition i as batch i on every run") {
    import scala.jdk.CollectionConverters._
    // hash-scattered: the 4 writer tasks finish in any order, so only
    // the replay source's mtime stamps can fix which rows form a batch
    val src = spark.range(0, 400).select(col("id")).repartition(4, col("id"))
    val parts = src.rdd
      .mapPartitionsWithIndex((i, rows) => rows.map(r => (i.toLong, r.getLong(0))))
      .collect().groupBy(_._1).map { case (i, rs) => i -> rs.map(_._2).toSet }
    def replay(): Map[Long, Set[Long]] = {
      val seen = new java.util.concurrent.ConcurrentHashMap[Long, Set[Long]]
      val end = Streams.replayFold("spec", src) { (_, batch, batchId) =>
        seen.put(batchId, batch.as[Long].collect().toSet)
        None
      }
      assert(end.isEmpty, "a step that always keeps None must leave no state")
      seen.asScala.toMap
    }
    val first = replay()
    assert(parts.size == 4)
    val misplaced = (parts.keySet ++ first.keySet).filterNot(i => first.get(i) == parts.get(i))
    assert(misplaced.isEmpty, s"batch i should be partition i; misplaced batches: ${misplaced.toSeq.sorted}")
    val rerunMatches = replay() == first
    assert(rerunMatches, "a second replay formed different batches")
  }

  test("a fold family's build starts no footer-inference job") {
    // warm the events schema memo: a cold Tables read infers once
    Streams.streamUpsertLatest(spark, sf).collect()
    val (df, executions) = executionsUnder(Streams.streamUpsertLatest(spark, sf))
    // every job is the source write, a batch's own action, or a
    // state write: all inside SQL actions, none an inference job
    assert(executions.nonEmpty && executions.forall(_.isDefined),
      s"upsert build jobs: $executions")
    assert(df.count() > 0)
  }

  test("side-log families read their logs back without a footer-inference job") {
    // stream_dedup_clusters reads its band and shingle logs every
    // batch, stream_er_golden its block log
    Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "stream_dedup_clusters" -> Streams.streamDupClusters,
      "stream_er_golden" -> Streams.streamErGolden).foreach { case (name, build) =>
      build(spark, sf).collect()
      val (df, executions) = executionsUnder(build(spark, sf))
      info(s"$name build: ${executions.size} jobs, ${executions.count(_.isEmpty)} outside a SQL action")
      assert(executions.nonEmpty && executions.forall(_.isDefined), s"$name build jobs: $executions")
      assert(df.count() > 0)
      Core.releaseCaches()
    }
  }

  test("streaming heavy hitters equal the batch sketch result on replay") {
    val streamed = Streams.streamHeavyHitters(spark, sf)
      .as[(Int, String, Long)].collect().toSeq
    val batch = graft.operators.Udaf.heavyHitters(spark, sf)
      .as[(Int, String, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("sketch state merges correctly across multiple micro-batches") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    // 3 part files + maxFilesPerTrigger=1 force AvailableNow to run 3
    // micro-batches, so the final result can only be right if each
    // batch's partial sketch MERGES into the serialized buffer the
    // state store carried over — the single-batch replay-parity test
    // above never exercises that path.
    val dir = java.nio.file.Files.createTempDirectory("graft-hh").toString
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.repartition(3).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val stream = spark.readStream.schema(Streams.documentsSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/documents.parquet")
    val agg = WordCount.cleanTokens(stream, "text")
      .agg(expr("misra_gries(word, 1, 64)").as("hh"))
    val q = agg.writeStream.format("memory").queryName("graft_hh_multi")
      .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3)
    val streamed = spark.table("graft_hh_multi")
      .select(posexplode(col("hh")).as(Seq("pos", "e")))
      .filter(col("pos") < 10)
      .select((col("pos") + 1).as("rn"), col("e.word"), col("e.count"))
      .as[(Int, String, Long)].collect().toSeq
    spark.catalog.dropTempView("graft_hh_multi")
    val batch = graft.operators.Udaf.heavyHitters(spark, sf)
      .as[(Int, String, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("streaming tumbling windows equal batch tumbling windows") {
    val streamed = Streams.streamTumbling(spark, sf)
      .as[(String, String, Long, Double)].collect().toSeq
    val batch = Events.tumblingHour(spark, sf)
      .as[(String, String, Long, Double)].collect().toSeq
    assert(streamed == batch)
  }

  test("transformWithState user stats equal the batch per-user aggregate") {
    import org.apache.spark.sql.functions._
    val streamed = Streams.streamUserStats(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    val batch = spark.read.parquet(s"$sf/events.parquet")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("floor(value * 100D + 0.5D)")).as("sum_cents"))
      .orderBy("user_id")
      .as[(Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
  }

  test("sessionizer closes sessions on gap and emits exact bounds") {
    val min = 60L * 1000000000L
    // offset from epoch: a row at exactly ts=0 equals the initial
    // watermark and is filtered as late before the sessionizer runs
    val day = 1440L * min
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    // user 1: two sessions (gap 2h between min 10 and min 130);
    // user 2: one session; a far-future user-3 event pushes the final
    // watermark so every earlier session times out and flushes.
    writeEventsFixture(dir, Seq(
      (1L, day + 0L * min, 1L, "a", 1.0, "{}"),
      (2L, day + 10L * min, 1L, "a", 1.0, "{}"),
      (3L, day + 130L * min, 1L, "a", 1.0, "{}"),
      (4L, day + 5L * min, 2L, "b", 1.0, "{}"),
      (5L, day + 10000L * min, 3L, "c", 1.0, "{}")))
    val rows = Streams.streamSessionize(spark, dir)
      .as[(Long, String, String, Long)].collect().toSet
    assert(rows.contains((1L, "1970-01-02 00:00:00", "1970-01-02 00:10:00", 2L)))
    assert(rows.contains((1L, "1970-01-02 02:10:00", "1970-01-02 02:10:00", 1L)))
    assert(rows.contains((2L, "1970-01-02 00:05:00", "1970-01-02 00:05:00", 1L)))
    // user 3's session is still open at the final watermark → withheld
    assert(!rows.exists(_._1 == 3L))
  }

  test("left-outer interval join emits unmatched purchases with zero clicks") {
    val min = 60L * 1000000000L
    val day = 1440L * min
    val dir = java.nio.file.Files.createTempDirectory("graft-lojoin").toString
    // user 1: purchase with 2 clicks in the 30-min window; user 2:
    // purchase with NO clicks (the outer-null case); user 3's
    // far-future pair advances BOTH sides' watermarks past the early
    // purchases (its own purchase sits above the final watermark and
    // is excluded from the finalized region).
    writeEventsFixture(dir, Seq(
      (1L, day + 10L * min, 1L, "purchase", 1.0, "{}"),
      (10L, day + 5L * min, 1L, "click", 1.0, "{}"),
      (11L, day + 8L * min, 1L, "click", 1.0, "{}"),
      (2L, day + 10L * min, 2L, "purchase", 1.0, "{}"),
      (3L, day + 10000L * min, 3L, "purchase", 1.0, "{}"),
      (30L, day + 10000L * min, 3L, "click", 1.0, "{}")))
    val rows = Streams.streamLeftOuterJoin(spark, dir)
      .as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((1L, 1L, 2L), (2L, 2L, 0L)))
  }

  test("left-outer finalized region is empty when one side has no events") {
    val min = 60L * 1000000000L
    val day = 1440L * min
    val dir = java.nio.file.Files.createTempDirectory("graft-lojoin1").toString
    // purchases only: the click-side watermark never advances, so the
    // engine finalizes nothing — the batch cutoff must mirror that
    // (not treat min-over-present-sides as the global watermark)
    writeEventsFixture(dir, Seq(
      (1L, day + 10L * min, 1L, "purchase", 1.0, "{}"),
      (3L, day + 10000L * min, 3L, "purchase", 1.0, "{}")))
    assert(Streams.streamLeftOuterJoin(spark, dir).count() == 0L)
  }

  test("streaming token drift converges to the batch monitor exactly") {
    val streamed = Streams.streamTokenDrift(spark, sf).collect().toSeq
    val batch = graft.operators.Pipeline.tokenDrift(spark, sf).collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("registered sessionize emits a deterministic subset of batch sessions") {
    val streamed = Streams.streamSessionize(spark, sf)
      .as[(Long, String, String, Long)].collect().toSet
    assert(streamed.nonEmpty)
    val batch = Events.sessionize(spark, sf)
      .select("user_id", "session_start", "session_end", "n_events")
      .as[(Long, String, String, Long)].collect().toSet
    assert(streamed.subsetOf(batch))
  }

  test("native micro-batch sessionizer replays to EXACT batch-operator parity") {
    // emitted ∪ final state must be the COMPLETE session set — full
    // parity with the whole-operator batch plan, not the append-mode
    // subset streamSessionize settles for — and the ts-range-sliced
    // replay must really run as 4 micro-batches
    val streamed = Streams.streamSessionizeNative(spark, sf)
      .as[(Long, Long, Long, String, String)].collect().toSeq
    assert(Streams.lastBatches._1 == 4, s"batches=${Streams.lastBatches}")
    val batch = Events.sessionizeNative(spark, sf)
      .as[(Long, Long, Long, String, String)].collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("built-in session_window merges split sessions across 4 micro-batches exactly") {
    // ts-range slices cut sessions mid-gap; the built-in session
    // window aggregation must merge the halves in state and land on
    // the batch built-in's exact session set
    val streamed = Streams.streamSessionWindow(spark, sf)
      .as[(Long, String, Long)].collect().toSeq
    assert(Streams.lastBatches._1 == 4, s"batches=${Streams.lastBatches}")
    val batch = Events.sessionWindow(spark, sf)
      .as[(Long, String, Long)].collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("incrementally maintained winnowing index yields the batch pair report") {
    val streamed = Streams.streamWinnowingPairs(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // the index really accretes over 4 micro-batches (one per source
    // file) — a single-batch replay would never exercise the merge
    assert(Streams.lastBatches._1 == 4, s"batches=${Streams.lastBatches}")
    val batch = graft.operators.TrainingFilters.winnowingPairs(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }
}
