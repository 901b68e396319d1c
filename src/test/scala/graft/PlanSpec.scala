package graft

import graft.operators._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan audits: the properties that make these queries
  * scale are asserted, not assumed — pushdown reaching the parquet
  * scan, dimension joins broadcasting, top-k avoiding global sorts,
  * aggregates running partial+final, and no cartesian products in
  * any LSH candidate path. */
class PlanSpec extends SparkSpec {

  private def executed(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }
  private def formatted(df: DataFrame): String = {
    // AQE hides the final plan until execution; format the initial one
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("filter pushdown reaches the parquet scan") {
    val s = formatted(Relational.filterPushdown(spark, sf))
    assert(s.contains("PushedFilters"))
    assert(s.matches("(?s).*PushedFilters: \\[.*GreaterThan\\(l_quantity.*"))
    // projection pruned to the 3 selected + filter columns
    assert(s.contains("ReadSchema"))
    assert(!s.contains("l_shipdate"))
  }

  test("dimension joins broadcast; no shuffle of the fact side") {
    assert(formatted(Relational.joinBroadcast(spark, sf))
      .contains("BroadcastHashJoin"))
    assert(formatted(Relational.joinMktsegment(spark, sf))
      .contains("BroadcastHashJoin"))
  }

  test("SF-proportional joins are stats-driven, not hint-forced") {
    // customer/part carry NO broadcast hint (they grow with SF; a
    // forced hint OOMs at cluster scale). At test stats the planner
    // still picks broadcast on its own...
    for (df <- Seq(
        Relational.joinMktsegment(spark, sf),
        Relational.joinMultiway(spark, sf),
        Relational.promoRevenue(spark, sf),
        Relational.shippingPriority(spark, sf)))
      assert(formatted(df).contains("BroadcastHashJoin"))
    // ...and with large stats (simulated by disabling the threshold)
    // the same plan degrades gracefully to a shuffled join instead of
    // a forced broadcast — the behavior a hint would destroy.
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = formatted(Relational.joinMktsegment(spark, sf))
      assert(!s.contains("BroadcastHashJoin"), s.take(800))
      assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"), s.take(800))
    } finally saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val s = formatted(Relational.topkOrders(spark, sf))
    assert(s.contains("TakeOrderedAndProject"))
  }

  test("native per-group top-k plans heap-exec with no sort and one exchange") {
    val s = executed(Windows.topnPerCustomerNative(spark, sf))
    // the custom strategy planned the custom node...
    assert(s.contains("TopKPerGroup"), s.take(900))
    // ...EnsureRequirements inserted exactly the group-key exchange...
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1, s.take(900))
    // ...and no Window/per-partition Sort exists below the operator
    // (the final orderBy sorts 3·|custs| result rows, above it)
    assert(!s.contains("Window"), s.take(900))
    val beforeTopK = s.substring(s.indexOf("TopKPerGroup"))
    assert(!beforeTopK.contains("+- Sort"), beforeTopK.take(900))
  }

  test("kNN re-rank heap keeps the q_id clustering — rank window adds no exchange") {
    val s = executed(Similarity.knnPerLabel(spark, sf))
    assert(s.contains("TopKPerGroup"), s.take(900))
    // exchanges: label-block join (+the heap's q_id clustering); the
    // rank window over the reduced ≤3-row groups rides the heap's
    // outputPartitioning instead of re-shuffling — so no exchange
    // appears between TopKPerGroup and Window
    val betweenOps = s.substring(s.indexOf("Window"), s.indexOf("TopKPerGroup"))
    assert(!betweenOps.contains("Exchange"), betweenOps)
  }

  test("native per-group top-k handles short groups, ties, and k-boundaries") {
    import spark.implicits._
    val df = Seq(
      (1, 10.0, 100L), (1, 10.0, 101L), (1, 9.0, 102L), (1, 11.0, 103L),
      (2, 5.0, 200L), // group smaller than k
      (3, 7.0, 300L), (3, 7.0, 301L), (3, 7.0, 302L), (3, 7.0, 303L))
      .toDF("g", "score", "id")
    val got = graft.plans.TopKPerGroup(
        df, Seq("g"), Seq("score" -> false, "id" -> true), 3)
      .orderBy("g", "id")
      .as[(Int, Double, Long)].collect().toSeq
    assert(got == Seq(
      (1, 10.0, 100L), (1, 10.0, 101L), (1, 11.0, 103L), // 9.0 dropped
      (2, 5.0, 200L),                                    // short group kept whole
      (3, 7.0, 300L), (3, 7.0, 301L), (3, 7.0, 302L)))   // tie broken by id
  }

  test("opt-in rule rewrites the row_number idiom into the heap operator") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    def idiom() = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("rn", row_number().over(
        W.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice") // rank dropped → eligible
    val baseline = idiom().orderBy("o_custkey", "o_orderkey").collect().toSeq
    assert(executed(idiom()).contains("Window")) // off by default
    spark.conf.set("spark.graft.topk.rewrite", "true")
    try {
      val s = executed(idiom())
      assert(s.contains("TopKPerGroup"), s.take(900))
      assert(!s.contains("Window"), s.take(900))
      // same rows as the window spelling (total order → identical set)
      assert(idiom().orderBy("o_custkey", "o_orderkey").collect().toSeq == baseline)
      // a query that KEEPS the rank column must not rewrite
      val keepsRn = spark.read.parquet(s"$sf/orders.parquet")
        .withColumn("rn", row_number().over(
          W.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
      assert(executed(keepsRn).contains("Window"), executed(keepsRn).take(600))
    } finally spark.conf.unset("spark.graft.topk.rewrite")
  }

  test("q19 disjunction pushes per-side predicates into both scans") {
    // the OR of (brand, size, quantity) clauses references both join
    // sides; Catalyst must still extract each side's disjunction and
    // sink it into the parquet scan, or 100 TB of non-qualifying rows
    // would be materialized just to die at the join
    val s = formatted(Relational.brandQuantity(spark, sf))
    assert(s.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity[^\\]]*\\].*"), s.take(1200))
    assert(s.matches("(?s).*PushedFilters: \\[[^\\]]*p_brand[^\\]]*\\].*"), s.take(1200))
  }

  test("q5 prunes facts through broadcast nation keys; no cartesian") {
    // the ASIA restriction must reach the fact rows as a broadcast
    // hash join on the tiny nation-key set, and the residual
    // c_nationkey = s_nationkey condition must ride the customer
    // equi-join (no extra exchange, no cartesian)
    val s = formatted(Relational.localSupplierVolume(spark, sf))
    assert(s.contains("BroadcastHashJoin"), s.take(900))
    assert(!s.contains("CartesianProduct"), s.take(900))
    // the order-date range predicate pushes into the orders scan
    assert(s.matches("(?s).*PushedFilters: \\[[^\\]]*o_orderdate[^\\]]*\\].*"), s.take(1200))
  }

  test("q7 nation pair filter pushes into the dimension scans") {
    // filtering n_name BEFORE the broadcast means each fact join is
    // also a prune — only the two nations' suppliers/customers ship
    val s = formatted(Relational.nationVolume(spark, sf))
    assert(s.matches("(?s).*PushedFilters: \\[[^\\]]*n_name[^\\]]*\\].*"), s.take(1200))
    assert(s.contains("BroadcastHashJoin"), s.take(900))
  }

  test("q15 scans lineitem once for both max and join consumers") {
    // the cached revenue rollup feeds the global max AND the supplier
    // join; both consumers must read the InMemoryRelation, not
    // re-scan lineitem. (Each InMemoryTableScan also PRINTS the
    // cached relation's original FileScan — so assert one cache hit
    // per lineitem-scan printout, not zero lineitem mentions.)
    val s = executed(Relational.topSupplier(spark, sf))
    val cacheHits = "InMemoryTableScan".r.findAllIn(s).size
    val liScans = "lineitem\\.parquet".r.findAllIn(s).size
    assert(cacheHits >= 2, s.take(900))
    assert(liScans <= cacheHits, s.take(900))
  }

  test("PQ pipeline broadcasts codebook and LUT; scoring never shuffles vectors") {
    // training + encoding join the tiny (M·k)-row codebook broadcast;
    // ADC scoring joins the (queries·M·k)-row LUT broadcast, so the
    // scoring-side shuffles carry codes and integer partial sums.
    // (Training's argmin exchange does carry subvectors — at scale
    // codebooks train on a sample.) A SortMergeJoin on vec_id would
    // mean raw vectors shuffled for scoring.
    val s = executed(Similarity.pqAdc(spark, sf))
    assert(s.contains("BroadcastHashJoin"), s.take(900))
    assert(!s.contains("CartesianProduct"), s.take(900))
    assert(!s.contains("SortMergeJoin [vec_id"), s.take(900))
  }

  test("wordcount aggregates partially before the exchange") {
    val s = formatted(WordCount.wordCount(
      spark.read.parquet(s"$sf/documents.parquet")))
    // two HashAggregates around one Exchange = partial+final
    assert("HashAggregate".r.findAllIn(s).size >= 2)
    assert(s.contains("Exchange"))
  }

  test("LSH candidate paths contain no cartesian product") {
    for (df <- Seq(
        Dedup.minhashLsh(spark, sf),
        Dedup.ngramJaccard(spark, sf),
        Dedup.simhashPairs(spark, sf),
        Dedup.embeddingLsh(spark, sf),
        Dedup.containmentAsym(spark, sf),
        Similarity.topkLsh(spark, sf))) {
      val s = executed(df)
      assert(!s.contains("CartesianProduct"), s.take(400))
    }
  }

  test("dedup_clusters runs the LSH pipeline once, in its CC edge-leaf write") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    object aqe extends AdaptiveSparkPlanHelper
    // every write the build runs into CC's edge-leaf dir; a sentinel
    // job drains the shared listener queue, which delivers in order
    val edgeWrites = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val sentinel = s"planspec-edges-${System.nanoTime}"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val writes = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        aqe.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }.foreach { w =>
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand
                if i.outputPath.toString.contains("graft-cc-edges") => edgeWrites.add(w.child)
            case _ =>
          }
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val drain = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == sentinel))
          drained.countDown()
    }
    spark.listenerManager.register(writes)
    spark.sparkContext.addSparkListener(drain)
    val clusters = try {
      val out = Dedup.dupClusters(spark, sf)
      spark.sparkContext.setJobGroup(sentinel, "drain")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      out
    } finally {
      spark.listenerManager.unregister(writes)
      spark.sparkContext.removeSparkListener(drain)
    }
    assert(edgeWrites.size == 1, s"edge-leaf writes: ${edgeWrites.size}")
    val writePlan = edgeWrites.peek()
    // the band equi-join, under any join strategy AQE settles on
    val bandJoins = aqe.collect(writePlan) {
      case j: BaseJoinExec
          if j.leftKeys.collect { case a: Attribute => a.name } == Seq("band_idx", "band_val") => j
    }
    assert(bandJoins.size == 1, writePlan.toString.take(2000))
    val rangeSorts = aqe.collect(writePlan) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }
    assert(rangeSorts.isEmpty, writePlan.toString.take(2000))
    // the clusters read that leaf and nothing upstream of it
    assert(clusters.inputFiles.nonEmpty && clusters.inputFiles.forall(_.contains("graft-cc-edges")),
      clusters.inputFiles.take(3).mkString(", "))
    // the registered pair outputs still sort at the query boundary
    for (df <- Seq(Dedup.minhashLsh(spark, sf), Dedup.ngramJaccard(spark, sf))) {
      aqe.stripAQEPlan(df.queryExecution.executedPlan) match {
        case sort: org.apache.spark.sql.execution.SortExec =>
          assert(sort.global, sort.toString)
          assert(sort.sortOrder.map(_.child).collect { case a: Attribute => a.name } ==
            Seq("doc_a", "doc_b"), sort.toString)
        case p => fail(s"pair output does not end in its global sort:\n${p.toString.take(600)}")
      }
    }
    Core.releaseCaches()
  }

  test("full k-means broadcasts centroids every round; corpus never shuffles whole") {
    val s = executed(Similarity.kmeansFull(spark, sf))
    // every assignment round scores against a broadcast of the tiny
    // k·Dim centroid frame (nested-loop on a broadcast side); a merge
    // join keyed on vec_id would mean the corpus itself shuffled.
    // (The final k-row stats⋈checksum join may plan as SMJ pre-AQE —
    // that joins 10 rows, not the corpus, and is fine.)
    assert(s.contains("BroadcastNestedLoopJoin"), s.take(800))
    assert(!s.contains("SortMergeJoin [vec_id"), s.take(800))
  }

  test("bucketed fact join runs with zero exchanges") {
    Bucketing.bucketedJoin(spark, sf).collect() // creates the tables
    val s = formatted(Bucketing.joinBucketed(spark, sf))
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"))
    assert(!s.contains("Exchange"), s.take(600))
  }

  test("bucketed aggregation runs with zero exchanges") {
    Bucketing.bucketedAgg(spark, sf).collect() // ensures the table
    val s = formatted(Bucketing.aggBucketed(spark, sf))
    assert(s.contains("HashAggregate"), s.take(600))
    assert(!s.contains("Exchange"), s.take(600))
  }

  test("partitioned layout prunes at file listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    spark.read.parquet(s"$sf/events.parquet")
      .write.mode("overwrite").partitionBy("event_type").parquet(s"$dir/events_part")
    val s = formatted(Connectors.partitionedRead(spark, dir))
    assert(s.contains("PartitionFilters"), s.take(600))
    assert(s.matches("(?s).*PartitionFilters: \\[.*event_type.*"))
  }

  test("brute-force ANN broadcasts the query side") {
    val s = executed(Similarity.topkBrute(spark, sf))
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"))
    assert(!s.contains("CartesianProduct"))
  }

  test("join strategy hints are honored (shuffle_hash beats sort-merge)") {
    import org.apache.spark.sql.functions._
    // At 100 TB, a hash join against the smaller (but not
    // broadcastable) side avoids both sort passes of SMJ; the hint is
    // how a pipeline pins that choice when stats can't prove it.
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
      val hinted = li.join(ord.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      assert(executed(hinted).contains("ShuffledHashJoin"), executed(hinted).take(500))
      val plain = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      assert(executed(plain).contains("SortMergeJoin"), executed(plain).take(500))
    } finally saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
  }

  test("NOT IN subquery plans as a null-aware anti join") {
    val s = executed(Relational.joinNullAwareAnti(spark, sf))
    // the trailing `true` is BroadcastHashJoinExec.isNullAwareAntiJoin
    assert(s.matches("(?s).*BroadcastHashJoin.*LeftAnti, BuildRight, true.*"), s.take(800))
  }

  test("runtime bloom filter semi-join-reduces a selective shuffle join") {
    import org.apache.spark.sql.functions._
    // The 100 TB pattern: a selective dimension filter should prune
    // the fact scan BEFORE the shuffle, not after the join. Spark's
    // InjectRuntimeFilter builds a bloom filter from the filtered
    // dimension keys and applies might_contain() on the fact side.
    // The application-side size gate (10 GB default) is sized for
    // production scans; drop it so the sf-scale fact table qualifies.
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val part = spark.read.parquet(s"$sf/part.parquet").filter(col("p_size") === 1)
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val joined = li.join(part, col("l_partkey") === col("p_partkey"))
      val s = joined.queryExecution.optimizedPlan.toString
      assert(s.contains("might_contain"), s.take(800))
      assert(s.contains("bloom_filter_agg"), s.take(800))
      // the filter lands on the FACT side, keyed by the join key
      assert(s.matches("(?s).*might_contain.*xxhash64\\(l_partkey.*"), s.take(800))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("AQE splits skewed partitions in a shuffled join") {
    import org.apache.spark.sql.functions._
    // Skew thresholds are sized for production partitions; lower them
    // so a deliberately skewed toy join (one hot key carrying ~90% of
    // the bytes) trips the same OptimizeSkewedJoin path a skewed
    // 100 TB key would. Broadcast is disabled so the join shuffles.
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1MB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2")
    val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // payload must be incompressible — shuffle partition sizes are
      // measured AFTER compression, and a repetitive payload would
      // deflate the hot partition below the skew threshold
      val left = spark.range(0, 120000).select(
        when(col("id") < 100000, lit(0L)).otherwise(col("id") % 32 + 1).as("k"),
        concat(md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string")),
          md5((col("id") + 2).cast("string")),
          md5((col("id") + 3).cast("string"))).as("payload"))
      val right = spark.range(0, 33).select(col("id").as("k"), (col("id") * 2).as("v"))
      val joined = left.join(right, "k")
      joined.collect() // AQE finalizes (and re-plans) only at execution
      val s = executed(joined)
      assert(s.contains("skew=true") || s.contains("skewed"), s.take(800))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("native signature expressions are live in the dedup/ANN plans") {
    assert(executed(Dedup.ngramJaccard(spark, sf)).contains("char_gram_hashes"))
    assert(executed(Dedup.simhashPairs(spark, sf)).contains("simhash48"))
    assert(executed(Dedup.embeddingLsh(spark, sf)).contains("hyperplane_buckets"))
    assert(executed(Similarity.topkLsh(spark, sf)).contains("hyperplane_buckets"))
    assert(executed(Dedup.fuzzyNames(spark, sf)).contains("deletion_hashes"))
    assert(executed(Dedup.fuzzyNames2(spark, sf)).contains("deletion_hashes2"))
  }

  test("incremental dedup anti-joins on the hash, never shipping text") {
    val s = formatted(Dedup.incrementalDedup(spark, sf))
    assert(s.contains("LeftAnti"), s.take(800))
    // both exchanges are keyed by the md5, and the document body is
    // pruned before any of them: no Exchange output carries `text`
    assert(!s.matches("(?s).*Exchange[^\\n]*text.*"), s.take(800))
  }

  test("native sessionize plans one exchange, a sort, and no window/hash-agg") {
    val s = executed(Events.sessionizeNative(spark, sf))
    assert(s.contains("SessionAgg"), s.take(800))
    // one hash exchange (user clustering) — the final orderBy's range
    // exchange is separate; the session fold itself adds none
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1, s.take(800))
    // the window spelling's machinery must be absent: sessions come
    // from the single fold, not lag/sum windows + a (user, session)
    // hash aggregate
    assert(!s.contains("Window"), s.take(800))
    assert(!s.contains("HashAggregate"), s.take(800))
  }

  test("repeated-span dedup: gram shuffle + array folds, no Window, no cartesian") {
    for (df <- Seq(SpanDedup.spanClean(spark, sf),
                   SpanDedup.spanKeepFirst(spark, sf))) {
      val s = executed(df)
      // span reconstruction is per-document array math riding the
      // collect_list aggregate — a Window over token positions (the
      // naive spelling) would shuffle the full token stream per doc
      assert(!s.contains("Window"), s.take(500))
      assert(!s.contains("CartesianProduct"))
      // the gram explode must exist and aggregation must run partial
      assert(s.contains("Generate"))
      assert(s.contains("HashAggregate"))
    }
    // the DETECTOR materializes the gram projection once (r19 disk
    // shard): its report plan must read the shard leaf for BOTH gram
    // consumers instead of re-running the tokenize + explode — so no
    // Generate may remain, and the no-Window/no-cartesian discipline
    // still holds
    val det = SpanDedup.repeatedSpans(spark, sf)
    val sDet = executed(det)
    assert(!sDet.contains("Window"), sDet.take(500))
    assert(!sDet.contains("CartesianProduct"))
    assert(!sDet.contains("Generate"), sDet.take(800))
    assert(sDet.contains("HashAggregate"))
    assert(det.inputFiles.exists(_.contains("graft-gram-shard")),
      det.inputFiles.take(3).mkString(", "))
  }

  test("incremental fuzzy match explodes only the batch side") {
    val s = executed(Dedup.fuzzyIncremental(spark, sf))
    // exactly one Generate: the batch's deletion-neighborhood explode.
    // The corpus side is a parquet scan of the STORED index — its
    // expansion was paid once at index build, not per ingest.
    assert("Generate".r.findAllIn(s).size == 1, s.take(800))
    assert(s.contains("deletion_hashes"), s.take(800))
    assert(s.contains("fuzzy_index"), s.take(800))
    Core.releaseCaches()
  }

  test("cross-doc shingle coverage shuffles hashes, never text") {
    val s = formatted(TrainingFilters.crossdocNgrams(spark, sf))
    // shingle arrays are computed before any exchange; no Exchange
    // output carries the document body
    assert(!s.matches("(?s).*Exchange[^\\n]*text.*"), s.take(800))
    // the per-hash doc count aggregates partially before its shuffle
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(800))
  }

  test("token chunking explodes map-side; only the accounting shuffles") {
    val s = executed(Pipeline.tokenChunks(spark, sf))
    assert(s.contains("Generate"), s.take(600)) // the explode
    // one Exchange pair at most: partial agg → shuffle → final agg
    // (plus AQE readers); the explode itself must not repartition
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1, s.take(800))
  }

  test("column profiler is one scan with partial aggregation") {
    val s = executed(Pipeline.profileColumns(spark, sf))
    // exact multi-column count(DISTINCT) plans via a single Expand
    assert(s.contains("Expand"), s.take(600))
    assert("FileScan parquet".r.findAllIn(s).size == 1, s.take(800))
  }

  test("binaryFile metadata projection never reads file content") {
    import org.apache.spark.sql.functions.col
    val dir = graft.Core.tempDir("graft-binf-plan")
    spark.read.parquet(s"$sf/documents.parquet").limit(5)
      .select(col("doc_id"), col("text"))
      .write.partitionBy("doc_id").mode("overwrite").text(s"$dir/raw")
    // listing-level stats (count, total bytes) must come from file
    // metadata alone — the scan schema may not include `content`
    val s = formatted(
      spark.read.format("binaryFile").load(s"$dir/raw")
        .select("path", "length"))
    assert(s.contains("ReadSchema"), s.take(600))
    assert(!s.matches("(?s).*ReadSchema:[^\\n]*content.*"), s.take(800))
  }

  test("compaction collapses the file count and sorts within files") {
    import org.apache.spark.sql.functions.col
    val (agg, frag, compact) = Connectors.compactionWithDirs(spark, sf)
    agg.collect()
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(frag) == 64)
    assert(parquetFiles(compact) <= 4, s"compact dir has ${parquetFiles(compact)} files")
    // key-range scans on the compacted copy can skip whole files:
    // each file's o_orderkey footer stats are disjoint (range layout)
    val s = formatted(spark.read.parquet(compact).filter(col("o_orderkey") < 100))
    assert(s.matches("(?s).*PushedFilters: \\[.*LessThan\\(o_orderkey.*"), s.take(600))
  }

  test("kmeans assignment broadcasts centroids and folds the argmin map-side") {
    val s = executed(Similarity.kmeansAssign(spark, sf))
    assert(s.contains("BroadcastNestedLoopJoin"), s.take(600))
    // the per-vector argmin is a partial+final aggregate (k-to-1
    // collapse happens before the exchange), not a window sort
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(800))
    assert(!s.contains("Window"), s.take(600))
  }

  test("full outer join shuffles both sides (no broadcast)") {
    val s = executed(Relational.joinFullOuter(spark, sf))
    assert(s.contains("FullOuter"), s.take(600))
    assert(!s.contains("BroadcastHashJoin"), s.take(600))
  }

  test("lateral join decorrelates — no cartesian product") {
    val s = executed(Relational.joinLateral(spark, sf))
    assert(!s.contains("CartesianProduct"), s.take(600))
  }

  test("full pipeline reuses the cached gate stage and anti-joins victims") {
    val s = executed(Pipeline.fullPrep(spark, sf))
    assert(s.contains("LeftAnti"), s.take(600))
    assert(s.contains("InMemoryTableScan"), s.take(600))
  }

  test("AQE converts a runtime-small shuffle join to broadcast") {
    import org.apache.spark.sql.functions._
    // Static planning can't see through the selective filter (stats
    // are file sizes), so the initial plan is SMJ; AQE measures the
    // actual shuffle output and re-plans the join as broadcast — the
    // 100 TB win when a dimension filter is far more selective than
    // its table size suggests.
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "10MB")
    val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 400000) // runtime-tiny side
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      joined.collect()
      assert(executed(joined).contains("BroadcastHashJoin"), executed(joined).take(800))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("dynamic partition pruning injects the dim filter into the fact scan") {
    import org.apache.spark.sql.functions._
    val dir = graft.Core.tempDir("graft-dpp-test")
    spark.read.parquet(s"$sf/events.parquet")
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(s"$dir/events_part")
    val s = executed(Connectors.dynamicPrunedJoin(spark, dir))
    // the fact scan's partition filter is the RUNTIME output of the
    // dim-side category filter, not a literal
    assert(s.contains("dynamicpruning"), s.take(1200))
    assert(s.contains("PartitionFilters"), s.take(1200))
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions._
    // At 100 TB a selective dimension filter should reach the FACT
    // side before the shuffle: Spark's runtime-filter rule builds a
    // bloom filter from the filtered creation side and injects a
    // might_contain predicate above the fact scan, shrinking shuffle
    // bytes by the filter's selectivity. The rule only fires when the
    // application side is big (default threshold 10 GB) — invisible at
    // test SF — so this pins ELIGIBILITY by lowering the threshold:
    // our plain equi-join shapes qualify with no code change, i.e. the
    // pruning arrives for free exactly when the data gets big enough
    // to need it.
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val ord = spark.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_totalprice") > 400000) // selective creation side
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val opt = j.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"), opt.take(800))
      assert(opt.contains("bloom_filter_agg"), opt.take(800))
      // the injected filter sits on the lineitem (application) side
      assert(opt.indexOf("might_contain") < opt.indexOf("l_partkey"), opt.take(1500))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("whole-stage codegen covers the wordcount pipeline") {
    // AQE finalizes the plan only at execution; run, then inspect
    val df = WordCount.wordCount(spark.read.parquet(s"$sf/documents.parquet"))
    df.collect()
    // codegen stages print as "*(n) Op" in the executed-plan string
    assert(executed(df).contains("*("), executed(df).take(500))
    // the optimizer rewrite is live in this session's physical plan
    assert(executed(df).contains("clean_word"))
  }

  test("BM25 broadcasts its stats frames and filters terms before the agg") {
    val s = formatted(TextAnalysis.bm25(spark, sf))
    // dfc + corpus totals are 1-to-3-row frames → broadcast, never SMJ
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"))
    assert(!s.contains("SortMergeJoin"), s.take(800))
    // the query-term predicate lives INSIDE the explode's array
    // argument (r18: explode(filter(t, ...))), so non-matching tokens
    // never even become rows — strictly stronger than the previous
    // standalone Filter-below-the-aggregate shape this test pinned
    val aggIdx = s.indexOf("HashAggregate")
    assert(aggIdx >= 0, s.take(800))
    assert(s.contains("explode(filter("), s.take(1500))
  }

  test("int8 quantization is map-side — no exchange except the result sort") {
    val s = formatted(Similarity.quantizeInt8(spark, sf))
    // one range exchange for orderBy; no hash exchange (no shuffle work)
    assert(!s.contains("hashpartitioning"), s.take(800))
  }

  test("merge as-of join plans as CoGroup over one sorted exchange per side") {
    val s = executed(Temporal.asofMergeJoin(spark, sf))
    assert(s.contains("CoGroup"), s.take(800))
    // exactly one hash exchange per input (plus the result-sort range
    // exchange); never a join explosion
    assert("hashpartitioning".r.findAllIn(s).size >= 2, s.take(800))
    assert(!s.contains("CartesianProduct") && !s.contains("SortMergeJoin"), s.take(800))
  }

  test("q18 reuses the quantity-rollup exchange for the orders join") {
    // At sf scale the planner simply broadcasts orders (fine); disable
    // broadcast to expose the 100 TB shuffle shape and pin the reuse:
    // the per-order aggregate partitions lineitem on l_orderkey — the
    // key the orders join needs — so the agg side joins WITHOUT a
    // second exchange: four hash exchanges total (lineitem
    // partial-agg + orders + the orderkey-join output re-keyed to
    // o_custkey + customer, all hint-free — each base table moves
    // once). A fifth hash exchange would mean lineitem shuffled
    // twice. Upper bound, not ==, per plan-string brittleness across
    // Spark versions.
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val s = executed(Relational.largeOrders(spark, sf))
      assert("Exchange hashpartitioning".r.findAllIn(s).size <= 4, s.take(1200))
      assert(s.contains("TakeOrderedAndProject"), s.take(600))
    } finally saved.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
  }

  test("recursive month spine executes as a UnionLoop; rollup stays distributed") {
    val df = Relational.monthSpine(spark, sf)
    val s = executed(df)
    assert(s.contains("UnionLoop"), s.take(800))
    // the per-month rollup is still a partial+final aggregate over the
    // parquet scan — recursion never absorbs the distributed side
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(900))
  }

  test("sequence packing shuffles once: window and rollup share the shard key") {
    val s = executed(Pipeline.packSequences(spark, sf))
    // the cumsum window partitions by shard; the accounting groupBy
    // uses the same key, so EnsureRequirements plans no second hash
    // exchange — one shuffle end to end
    assert(s.contains("Window"), s.take(600))
    assert("Exchange hashpartitioning".r.findAllIn(s).size == 1, s.take(900))
  }

  test("repetition computes per-doc stats map-side — no aggregation exchange") {
    // r18: top_bigram_n folds over the doc's sorted bigram array, so
    // the ONLY exchange is the ordered output's range partition — a
    // hash exchange here means the (doc_id, bigram) shuffle regressed
    val s = formatted(TrainingFilters.repetition(spark, sf))
    assert(!s.contains("hashpartitioning"), s.take(800))
    assert(!s.contains("HashAggregate"), s.take(800))
    assert(s.contains("rangepartitioning"), s.take(800))
  }

  test("unigram scoring aggregates partially before shuffling") {
    val s = formatted(TrainingFilters.unigramScore(spark, sf))
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(800))
  }

  test("source cap plans the bounded heap, never a per-source window sort") {
    val s = executed(Pipeline.sourceCap(spark, sf))
    assert(s.contains("TopKPerGroup"), s.take(900))
    assert(!s.contains("Window"), s.take(900))
  }

  test("semantic dedup broadcasts seeds; argmin folds before the exchange") {
    val s = executed(Similarity.semanticDedup(spark, sf))
    // the corpus-vs-seeds scoring is a broadcast nested loop (k rows)
    assert(s.contains("BroadcastNestedLoopJoin"), s.take(800))
    // the per-vector argmin is partial+final (k-to-1 collapse happens
    // map-side), and the pair stage is an equi-join on the cluster id
    // — no cartesian anywhere
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(900))
    assert(!s.contains("CartesianProduct"), s.take(800))
    Core.releaseCaches()
  }

  test("hybrid RRF legs are top-k shortlists, not global sorts") {
    val s = executed(Similarity.hybridRrf(spark, sf))
    // the semantic leg (and the final fusion cut) plan as
    // TakeOrderedAndProject — per-partition heaps + merge
    assert(s.contains("TakeOrderedAndProject"), s.take(900))
    // rank assignment windows run over the ≤20-row shortlists only:
    // below the deepest Window there must still be a
    // TakeOrderedAndProject (the leg's own top-k cut) — a regression
    // to sort+window over the raw corpus would leave the plan with no
    // top-k below its windows (only the root's final cut above them)
    val lastWindow = s.lastIndexOf("Window")
    assert(lastWindow >= 0, s.take(900))
    assert(s.lastIndexOf("TakeOrderedAndProject") > lastWindow, s.take(900))
    Core.releaseCaches()
  }

  test("salted join runs shuffled on the composite key with a replicated build side") {
    val s = executed(Relational.joinSkewSalted(spark, sf))
    // the merge hint pins the shuffle-join path (a broadcast would
    // hide the very skew the salt spreads)
    assert(s.contains("SortMergeJoin") || s.contains("ShuffledHashJoin"), s.take(900))
    assert(!s.contains("BroadcastHashJoin"), s.take(900))
    // the dimension side replicates via explode(sequence(…)) — a
    // Generate, never a cartesian product
    assert(s.contains("Generate"), s.take(900))
    assert(!s.contains("CartesianProduct"), s.take(900))
  }

  test("gap-fill builds its spine distributed and joins on the rollup") {
    val s = executed(Events.gapfill(spark, sf))
    // the dense hour spine comes from explode(sequence(min,max)) —
    // generated on executors, not a driver-side range
    assert(s.contains("Generate"), s.take(900))
    // hourly rollup aggregates partially before its exchange
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(900))
  }

  test("integrity audit scans lineitem once for both of its FK checks") {
    val s = executed(graft.operators.Quality.integrity(spark, sf))
    // both lineitem FKs ride ONE scan (left joins + null-count agg);
    // the old per-constraint spelling read the fact table 4×
    val lineitemScans = s.linesIterator.count(l =>
      l.contains("lineitem.parquet") && l.contains("Scan"))
    assert(lineitemScans == 1, s.take(1200))
    assert(!s.contains("CartesianProduct"), s.take(900))
  }

  test("global ids rank within range partitions, not one global window") {
    val s = executed(Pipeline.globalIds(spark, sf))
    // the per-row ranking window is partitioned by pid — the
    // full-parallelism phase. (The offsets cumsum IS a deliberate
    // single-partition window over |partitions| rows.)
    assert(s.matches("(?s).*row_number\\(\\) windowspecdefinition\\(pid#.*"), s.take(1200))
    // offsets come back as a broadcast join, not a shuffle
    assert(s.contains("BroadcastHashJoin"), s.take(900))
    Core.releaseCaches()
  }

  test("decile bucketing broadcasts boundaries; the fact table never window-sorts") {
    val s = executed(Events.valueDeciles(spark, sf))
    assert(s.contains("BroadcastHashJoin"), s.take(900))
    // the whole point: no Window operator anywhere — the ntile
    // spelling would sort every row through |types| partitions
    assert(!s.contains("Window"), s.take(900))
  }

  test("systematic sampling cumsums per (source, shard), not per source") {
    val s = executed(Pipeline.systematicSample(spark, sf))
    assert(s.matches("(?s).*windowspecdefinition\\(source#\\d+, shard#.*"), s.take(1200))
  }

  test("table diff digests rows at scan time and joins full-outer on the key") {
    val s = executed(Connectors.tableDiff(spark, sf))
    // both sides reduce to (key, md5) BEFORE the reconciliation join
    assert(s.contains("md5"), s.take(900))
    assert(s.contains("FullOuter"), s.take(900))
    // a full-outer reconciliation cannot broadcast either side
    assert(!s.contains("BroadcastHashJoin"), s.take(900))
  }

  test("top paths end in a bounded top-k, not a global sort") {
    val s = executed(Events.topPaths(spark, sf))
    assert(s.contains("TakeOrderedAndProject"), s.take(900))
  }

  test("dynamic partition overwrite leaves untouched partitions' files in place") {
    val (report, dir) =
      graft.operators.Connectors.dynamicOverwriteWithDir(spark, sf)
    report.collect() // drive both writes + the read-back
    def newestMtime(part: String): Long = {
      val files = new java.io.File(s"$dir/event_type=$part")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.nonEmpty, s"no files for $part")
      files.map(_.lastModified()).max
    }
    // the backfill (second, later write) must have rewritten ONLY the
    // click partition: every other partition's newest file predates it
    val clickT = newestMtime("click")
    Seq("view", "purchase", "signup", "error").foreach { p =>
      assert(newestMtime(p) < clickT,
        s"partition $p was rewritten by the click backfill")
    }
  }

  test("KS drift cumsums within range partitions, not one global window") {
    val s = executed(graft.operators.Quality.ksDrift(spark, sf))
    // the per-value CDF window is partitioned by pid (full
    // parallelism); the only ORDER-BY-without-PARTITION window is
    // the |partitions|-row offsets cumsum
    assert(s.matches("(?s).*windowspecdefinition\\(pid#.*"), s.take(1200))
    assert(!s.contains("CartesianProduct"), s.take(900))
  }

  test("skyline cummaxes within range partitions, not one global window") {
    val s = executed(graft.operators.Relational.skylineParts(spark, sf))
    // the running max is partitioned by pid (full parallelism); the
    // only ORDER-BY-without-PARTITION window is the |partitions|-row
    // prefix-max frame
    assert(s.matches("(?s).*windowspecdefinition\\(pid#.*"), s.take(1200))
    assert(s.contains("rangepartitioning"), s.take(1200))
    assert(!s.contains("CartesianProduct"), s.take(900))
    // dominance property on the real data: returned points are
    // mutually non-dominated and all distinct points are covered
    val pts = graft.operators.Relational.skylineParts(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)))
    assert(pts.nonEmpty)
    for (p <- pts; q <- pts if p != q)
      assert(!(q._1 <= p._1 && q._2 >= p._2),
        s"frontier point $p dominated by $q")
    // frontier sorted by price has strictly increasing size
    assert(pts.sliding(2).forall(w => w.length < 2 || w(0)._2 < w(1)._2))
  }

  test("phrase search gates both posting lists by broadcast before the positional join") {
    val s = executed(graft.operators.TextAnalysis.phraseSearch(spark, sf))
    assert(!s.contains("CartesianProduct"), s.take(900))
    // each posting side probes the 1-row phrase frame map-side, so
    // the (doc, position) equi-join shuffles only probe-word postings
    assert(s.linesIterator.count(_.contains("BroadcastHashJoin")) >= 2,
      s.take(1500))
  }

  test("rolling 7-day distinct rides the deduplicated pair table") {
    val rows = graft.operators.Events.rollingDistinct(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2),
        s"day ${r.getLong(0)}: 1d distinct above 7d distinct")
    }
    // trailing-7 union can never exceed the sum of its 7 days
    val daily = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val cap = (r.getLong(0) - 6 to r.getLong(0)).map(daily.getOrElse(_, 0L)).sum
      assert(r.getLong(2) <= cap, s"day ${r.getLong(0)}: 7d above window sum")
    }
  }

  test("CUPED adjustment preserves the pooled mean and uses a broadcast moment frame") {
    val s = executed(graft.operators.Quality.abCuped(spark, sf))
    // the 1-row pooled-moment frame joins by broadcast, never shuffle
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s.take(1200))
    val rows = graft.operators.Quality.abCuped(spark, sf).collect()
    assert(rows.length == 2)
    val theta = rows.head.getAs[Double]("theta")
    assert(!theta.isNaN && !theta.isInfinite)
    assert(rows.forall(_.getAs[Double]("theta") == theta))
    // CUPED is mean-preserving: Σ nₐ(adj − raw) = −θ·Σ nₐ(X̄ₐ − X̄) = 0
    val drift = rows.map(r => r.getAs[Long]("n_users") *
      (r.getAs[Double]("mean_y_adj_cents") - r.getAs[Double]("mean_y_cents"))).sum
    val scale = rows.map(r =>
      r.getAs[Long]("n_users") * math.abs(r.getAs[Double]("mean_y_cents"))).sum
    assert(math.abs(drift) <= 1e-9 * scale, s"pooled-mean drift $drift")
  }

  test("conversion z-test arms partition the users and the A/A z is finite") {
    val r = graft.operators.Quality.abConversionZtest(spark, sf).collect().head
    val users = spark.read.parquet(s"$sf/events.parquet")
      .select("user_id").distinct().count()
    assert(r.getAs[Long]("n0") + r.getAs[Long]("n1") == users)
    assert(r.getAs[Long]("c0") <= r.getAs[Long]("n0"))
    assert(r.getAs[Long]("c1") <= r.getAs[Long]("n1"))
    // conversion must not saturate — the threshold exists so the
    // pooled variance is nonzero and z is a real number
    val c = r.getAs[Long]("c0") + r.getAs[Long]("c1")
    assert(c > 0 && c < users, s"conversion saturated: $c of $users")
    val z = r.getAs[Double]("z")
    assert(!z.isNaN && !z.isInfinite)
  }

  test("transition matrix rows are a probability distribution per source type") {
    val rows = graft.operators.Events.transitionMatrix(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[String]("type_from")).foreach { case (tf, g) =>
      val mass = g.map(_.getAs[Double]("p")).sum
      assert(math.abs(mass - 1.0) < 1e-9, s"$tf transition mass $mass")
      val nsum = g.map(_.getAs[Long]("n")).sum
      assert(g.forall(_.getAs[Long]("n_from") == nsum), s"$tf normalizer")
    }
  }

  test("benford audit: full digit coverage, shares sum to 1, deviation is |share - expected|") {
    val rows = graft.operators.Quality.benfordDigits(spark, sf).collect()
    assert(rows.map(_.getAs[Int]("digit")).toSeq == (1 to 9))
    val mass = rows.map(_.getAs[Double]("share")).sum
    assert(math.abs(mass - 1.0) < 1e-9)
    val bmass = rows.map(_.getAs[Double]("benford_share")).sum
    assert(math.abs(bmass - 1.0) < 1e-12) // the embedded literals telescope
    rows.foreach { r =>
      assert(r.getAs[Double]("dev") ==
        math.abs(r.getAs[Double]("share") - r.getAs[Double]("benford_share")))
    }
    // the driver's log-spread amounts read near-Benford (measured max
    // dev ≈ 0.019 at sf0.01); a generous cap still catches a screen
    // that silently broke (uniform data would push digit-1 dev > 0.07)
    assert(rows.map(_.getAs[Double]("dev")).max < 0.06,
      rows.map(r => (r.getAs[Int]("digit"), r.getAs[Double]("dev"))).toSeq.toString)
  }

  test("collocations rank by the exact PMI lift core with min support") {
    val rows = graft.operators.TextAnalysis.collocations(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_ab") >= 5)
      assert(r.getAs[Double]("pmi_lift") > 0.0)
    }
    val lifts = rows.map(_.getAs[Double]("pmi_lift")).toSeq
    assert(lifts == lifts.sorted.reverse, "not ranked by lift desc")
  }

  test("bin packing shuffles once (the shard exchange) and never cartesians") {
    val s = executed(graft.operators.Pipeline.binPack(spark, sf))
    assert(!s.contains("CartesianProduct"), s.take(900))
    // one hash exchange for the shard partitioning feeds the fold; the
    // report side adds only the B-row aggregate exchanges
    val hashEx = s.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(shard"))
    assert(hashEx >= 1, s.take(1200))
    // the fold rides a per-partition sort, not a global one
    assert(s.contains("Sort") && !s.matches("(?s).*Sort \\[shard.*global=true.*"),
      s.take(1200))
  }

  test("source overlap joins distinct token sets — no cartesian, no array all-pairs") {
    val s = executed(graft.operators.Pipeline.sourceOverlap(spark, sf))
    assert(!s.contains("CartesianProduct"), s.take(900))
    // pairs form only through the token equi-join
    assert(s.matches("(?s).*SortMergeJoin.*tok.*|(?s).*ShuffledHashJoin.*tok.*|(?s).*BroadcastHashJoin.*tok.*"),
      s.take(1200))
  }

  test("equi-depth histogram ranks through the partitioned two-phase window") {
    val s = executed(graft.operators.Quality.equidepthHist(spark, sf))
    // the per-row rank window is partitioned by pid (full
    // parallelism); only the |partitions|-row offsets cumsum is an
    // ORDER-BY-without-PARTITION window
    assert(s.matches("(?s).*windowspecdefinition\\(pid#.*"), s.take(1200))
    assert(!s.contains("CartesianProduct"), s.take(900))
  }

  test("correlation matrix scans lineitem once; moments aggregate map-side") {
    val s = executed(graft.operators.Quality.corrMatrix(spark, sf))
    // all 15 decimal moments ride ONE scan + one partial/final agg
    val scans = s.linesIterator.count(l =>
      l.contains("lineitem.parquet") && l.contains("Scan"))
    assert(scans == 1, s.take(1200))
    assert(s.contains("partial"), s.take(900)) // map-side combine
  }

  test("basket pair mining joins within order keys — no cartesian anywhere") {
    val s = executed(graft.operators.Relational.basketLift(spark, sf))
    assert(!s.contains("CartesianProduct"), s.take(900))
    // the 1-row order total is the only nested-loop (broadcast) join
    val bnl = s.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl <= 1, s.take(1200))
  }

  test("jaro-winkler matcher equi-joins on the block key inside codegen") {
    val s = executed(graft.operators.Dedup.jwBlocked(spark, sf))
    assert(!s.contains("CartesianProduct"), s.take(900))
    // a HASH join keyed on (nation, block) — candidates never
    // all-pair; the similarity expression evaluates inside the join
    assert(s.contains("HashJoin [nat"), s.take(1200))
    assert(s.contains("jaro_winkler_similarity"), s.take(900))
  }

  test("chi2 cells: totals telescope and contributions carry the integer identity") {
    val rows = graft.operators.Quality.chi2Cells(spark, sf).collect()
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n_obs")).sum
    // expected masses telescope to n (Σ r·c/n over all cells = n)
    val emass = rows.map(_.getAs[Double]("expected")).sum
    assert(math.abs(emass - n) < 1e-6 * n, s"expected mass $emass vs $n")
    rows.foreach { r =>
      val obs = r.getAs[Long]("n_obs").toDouble
      val e = r.getAs[Double]("expected")
      // the (obs·n − rc)²/(n·rc) identity equals the textbook
      // (obs−E)²/E up to double rounding
      val direct = (obs - e) * (obs - e) / e
      assert(math.abs(r.getAs[Double]("chi2_contrib") - direct) <=
        1e-9 * (direct + 1), s"$r")
    }
  }

  test("gini concentration: HHI bounds, inverse-Simpson ≤ key count") {
    val rows = graft.operators.Quality.giniConcentration(spark, sf).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      val hhi = r.getAs[Double]("hhi")
      val keys = r.getAs[Long]("n_keys").toDouble
      assert(hhi >= 1.0 / keys - 1e-12 && hhi <= 1.0, s"$r")
      assert(math.abs(r.getAs[Double]("gini") - (1.0 - hhi)) < 1e-15)
      val eff = r.getAs[Double]("effective_keys")
      assert(eff <= keys + 1e-9 && eff >= 1.0 - 1e-12, s"$r")
    }
    // event_type (a handful of hot values) must read as much more
    // concentrated than user_id (many uniform users)
    val byName = rows.map(r => r.getAs[String]("key_name") -> r.getAs[Double]("hhi")).toMap
    assert(byName("events.event_type") > byName("events.user_id"))
  }

  test("link prediction: proposals are non-edges with ≥2 shared neighbors, no cartesian") {
    val df = graft.operators.Dedup.linkPredict(spark, sf)
    val s = executed(df)
    assert(!s.contains("CartesianProduct"), s.take(900))
    val rows = df.collect()
    rows.foreach { r =>
      val cn = r.getAs[Long]("cn")
      assert(cn >= 2 && r.getAs[Long]("da") >= cn && r.getAs[Long]("db") >= cn, s"$r")
      val j = r.getAs[Double]("jaccard")
      assert(j > 0.0 && j <= 1.0, s"$r")
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"), s"$r")
    }
    Core.releaseCaches()
  }

  test("rake keywords: exact milli-scores sum per word, ranked, long phrases on top") {
    val rows = graft.operators.TextAnalysis.rakeKeywords(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val scores = rows.map(_.getAs[Long]("rake_score_milli")).toSeq
    assert(scores == scores.sorted.reverse, "not ranked by score desc")
    rows.foreach { r =>
      val words = r.getAs[String]("phrase").split(" ")
      assert(words.length == r.getAs[Long]("n_words").toInt, s"$r")
      // degree ≥ frequency per word ⇒ each word contributes ≥ 1000
      assert(r.getAs[Long]("rake_score_milli") >=
        1000L * r.getAs[Long]("n_words"), s"$r")
      assert(r.getAs[Long]("phrase_freq") >= 1L)
    }
    // multi-word phrases outrank single hot words at the top — the
    // property RAKE exists for (strict whenever ANY phrase has ≥2
    // words: the max-length phrase's L words each score ≥ 1000, and
    // a solo word's average phrase length is < max by its own solo
    // occurrence)
    assert(rows.head.getAs[Long]("n_words") >= 2,
      rows.take(3).mkString("; "))
    Core.releaseCaches()
  }

  test("linear attribution conserves every attributed purchase's cents exactly") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Temporal.attributionLinear(spark, sf).collect()
    assert(rows.nonEmpty)
    val attributed = rows.map(_.getAs[Long]("attributed_cents")).sum
    // ground truth: total cents of purchases with ≥1 click in the
    // 30-minute window (computed independently via the plain join)
    val e = spark.read.parquet(s"$sf/events.parquet")
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts").as("pts"),
        round(col("value") * 100).cast("long").as("cents"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("cts"))
    val touched = p.join(c, p("user_id") === c("user_id") &&
        col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES") &&
        col("cts") <= col("pts"))
      .select(p("event_id"), col("cents")).distinct()
      .agg(sum("cents")).collect().head.getLong(0)
    assert(attributed == touched,
      s"mass leak: attributed $attributed vs touched $touched")
  }

  test("join-delta decomposition reproduces the full join, every term populated") {
    val rows = graft.operators.Connectors.joinDelta(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_full") == r.getAs[Long]("n_incr"), s"$r")
      assert(r.getAs[Long]("qty_full_cents") == r.getAs[Long]("qty_incr_cents"), s"$r")
    }
  }

  test("zipf bins partition the vocabulary: type and token masses telescope") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.TextAnalysis.zipfBins(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val b = r.getAs[Int]("freq_bin")
      // bin b holds exactly frequencies in [2^(b-1), 2^b)
      assert(r.getAs[Long]("min_freq") >= (1L << (b - 1)), s"$r")
      assert(r.getAs[Long]("max_freq") < (1L << b), s"$r")
    }
    val vocab = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
    assert(rows.map(_.getAs[Long]("n_types")).sum ==
      vocab.select("t").distinct().count())
    assert(rows.map(_.getAs[Long]("n_tokens")).sum == vocab.count())
  }

  test("vocab growth deciles cover every type once and all token mass") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.TextAnalysis.vocabGrowth(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getAs[Long]("decile")).toSeq == (0L until 10L))
    val vocab = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.operators.TextAnalysis.tokens(col("text"))).as("t"))
    assert(rows.map(_.getAs[Long]("n_new_types")).sum ==
      vocab.select("t").distinct().count())
    assert(rows.map(_.getAs[Long]("token_mass")).sum == vocab.count())
    rows.foreach { r =>
      assert(r.getAs[Long]("n_types_seen") >= r.getAs[Long]("n_new_types"), s"$r")
      assert(r.getAs[Long]("token_mass") >= r.getAs[Long]("n_types_seen"), s"$r")
    }
    // growth concentrates early: nothing can out-mint the decile
    // that saw the corpus first
    assert(rows.head.getAs[Long]("n_new_types") ==
      rows.map(_.getAs[Long]("n_new_types")).max)
    Core.releaseCaches()
  }

  test("markov stationary mass stays within integer floor loss of one unit") {
    val rows = graft.operators.Events.markovStationary(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("pi_micro") >= 0L, s"$r"))
    val mass = rows.map(_.getAs[Long]("pi_micro")).sum
    // each round floors once per populated transition cell, so the
    // leak is bounded by rounds · k² micro-units on a k-state chain
    val k = rows.length.toLong
    assert(mass <= 1000000000L, s"mass $mass")
    assert(mass >= 1000000000L - 4 * k * k - k, s"mass $mass leaked too much")
    Core.releaseCaches()
  }

  test("MMR rerank: greedy scores never increase and picks are distinct") {
    val rows = graft.operators.Similarity.mmrRerank(spark, sf).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == 8)
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to 8))
    val scores = rows.map(_.getAs[Double]("mmr_score")).toSeq
    // every candidate's score is non-increasing in the selected set
    // (maxsim only grows), so the greedy maxima are non-increasing;
    // rank 1 carries raw relevance, an upper bound on all of them
    assert(scores == scores.sorted.reverse, scores.toString)
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("rel")) <= 1.0 + 1e-12, s"$r")
    }
    Core.releaseCaches()
  }

  test("cohort LTV triangle conserves purchase cents and telescopes per cohort") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Events.cohortLtv(spark, sf).collect()
    assert(rows.nonEmpty)
    val totalPurchase = spark.read.parquet(s"$sf/events.parquet")
      .filter(col("event_type") === "purchase")
      .agg(sum(round(col("value") * 100).cast("long"))).collect().head.getLong(0)
    assert(rows.map(_.getAs[Long]("rev_cents")).sum == totalPurchase)
    rows.groupBy(_.getAs[Long]("cohort")).foreach { case (_, g) =>
      val sorted = g.sortBy(_.getAs[Long]("age"))
      assert(sorted.head.getAs[Long]("age") == 0L) // cohort day itself
      var cum = 0L
      sorted.foreach { r =>
        cum += r.getAs[Long]("rev_cents")
        assert(r.getAs[Long]("cum_rev_cents") == cum, s"$r")
        assert(r.getAs[Long]("active_users") <= r.getAs[Long]("n_users"), s"$r")
      }
    }
  }

  test("suffix array: ranks are a permutation prefix and prefixes sort ascending") {
    val rows = graft.operators.TextAnalysis.suffixArray(spark, sf).collect()
    assert(rows.length == 100)
    assert(rows.map(_.getAs[Long]("sa_rank")).toSeq == (1L to 100L))
    assert(rows.map(_.getAs[Long]("pos")).distinct.length == 100)
    val prefixes = rows.map(_.getAs[String]("prefix")).toSeq
    // suffix order implies prefix order (ties allowed where prefixes
    // agree for 24 chars and the full suffixes differ later)
    assert(prefixes == prefixes.sorted, prefixes.take(5).toString)
    Core.releaseCaches()
  }

  test("suffix array: no one-row corpus frame feeds the plan") {
    // The r14 soft spot: the corpus was a collect_list-concatenated
    // single-row string, broadcast to every char-access site — a
    // shape that cannot survive a corpus-sized input. Char access is
    // now a distributed (pos, ch) table, so the output plan must
    // contain NO global (groupless) aggregate anywhere: a one-row
    // frame can only enter via one.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    Seq(graft.operators.TextAnalysis.suffixArray(spark, sf),
        graft.operators.TextAnalysis.longestRepeatedSubstrings(spark, sf))
      .foreach { df =>
        val global = df.queryExecution.optimizedPlan.collect {
          case a: Aggregate if a.groupingExpressions.isEmpty => a
        }
        assert(global.isEmpty,
          s"one-row frames in SA plan: ${global.map(_.simpleString(60))}")
      }
    Core.releaseCaches()
  }

  test("longest repeated substrings: claimed repeats verify char-by-char") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.TextAnalysis.longestRepeatedSubstrings(spark, sf)
      .collect()
    assert(rows.length == 10)
    val lcps = rows.map(_.getAs[Long]("lcp")).toSeq
    assert(lcps == lcps.sorted.reverse)
    // rebuild the fixture string independently and check every claim
    val sstr = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 20).orderBy("doc_id")
      .collect().map(_.getAs[String]("text")).mkString("~")
    rows.foreach { r =>
      val a = r.getAs[Long]("pos_a").toInt
      val b = r.getAs[Long]("pos_b").toInt
      val lcp = r.getAs[Long]("lcp").toInt
      assert(sstr.substring(a, a + lcp) == sstr.substring(b, b + lcp), s"$r")
      // maximality: the repeat cannot extend (unless capped)
      if (lcp < 200) {
        val ca = if (a + lcp < sstr.length) Some(sstr(a + lcp)) else None
        val cb = if (b + lcp < sstr.length) Some(sstr(b + lcp)) else None
        assert(!(ca.isDefined && cb.isDefined && ca == cb), s"extendable: $r")
      }
      assert(r.getAs[String]("snippet") ==
        sstr.substring(a, a + math.min(lcp, 40)), s"$r")
    }
    Core.releaseCaches()
  }

  test("ACF: lag-k pair counts telescope and coefficients are bounded") {
    val rows = graft.operators.Events.acf(spark, sf).collect()
      .sortBy(_.getAs[Long]("lag"))
    assert(rows.map(_.getAs[Long]("lag")).toSeq == (1L to 7L))
    val n0 = rows.head.getAs[Long]("n_pairs") + 1 // n_pairs(1) = n - 1
    rows.foreach { r =>
      assert(r.getAs[Long]("n_pairs") == n0 - r.getAs[Long]("lag"))
      // Cauchy-Schwarz on the truncated sum still bounds |r_k| by ~1;
      // allow the truncation slack
      assert(math.abs(r.getAs[Double]("acf")) <= 1.0 + 1e-9, s"$r")
    }
    Core.releaseCaches()
  }

  test("interval overlap candidates ride the bin equi-join — no nested-loop join") {
    // the scale claim as a plan property: the candidate join must be
    // a hash/sort-merge EQUI-join on the hour bin; a theta spelling
    // would surface as CartesianProduct or BroadcastNestedLoopJoin
    val plan = executed(graft.operators.Events.intervalOverlap(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan.take(400))
    // the ONLY nested-loop nodes allowed are Cross attaches of the
    // 1-row data-derived stride broadcast (the scalar-statistic
    // idiom; the cached interval subtree prints once per consumer) —
    // a theta candidate join would surface as an INNER nested loop.
    // The candidate join itself must be a hash-partitioned equi-join
    // on the hour bin.
    val bnl = plan.split("\n").filter(_.contains("BroadcastNestedLoopJoin"))
    assert(bnl.forall(_.contains("Cross")), bnl.mkString("\n"))
    // any hash-join flavor qualifies (broadcast at test SF, shuffled
    // at scale) — what matters is the key IS the hour bin
    assert(plan.contains("HashJoin [bin#") || plan.contains("SortMergeJoin [bin#"),
      plan.take(600))
    Core.releaseCaches()
  }

  test("peak load equals a brute-force hour-bin recount of the sessions") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val out = graft.operators.Events.peakLoad(spark, sf).collect()
      .map(r => r.getAs[Long]("hour_bin") -> r.getAs[Long]("n_active"))
    assert(out.nonEmpty)
    val counts = out.map(_._2).toSeq
    assert(counts == counts.sorted.reverse)
    // rebuild sessions at µs precision and recount hour membership
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iv = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(byUser))
      .withColumn("is_new",
        when(col("gap").isNull || col("gap") > 30L * 60 * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("is_new").over(run))
      .groupBy("user_id", "sid")
      .agg(min("us").as("s"), max("us").as("e"))
      .collect()
      .map(r => (r.getAs[Long]("s"), r.getAs[Long]("e")))
    val H = 3600L * 1000000L // hour in µs (ns bins ≡ µs bins here)
    val brute = iv.flatMap { case (a, b) => (a / H) to (b / H) }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val top = brute.toSeq.sortBy(p => (-p._2, p._1)).take(out.length)
    assert(out.toSeq == top)
    Core.releaseCaches()
  }

  test("interval overlap histogram matches a brute-force recount of the sessions") {
    import org.apache.spark.sql.functions._
    val hist = graft.operators.Events.intervalOverlap(spark, sf).collect()
      .map(r => r.getAs[Long]("concurrency") -> r.getAs[Long]("n_sessions"))
      .toMap
    // rebuild intervals independently at µs precision (the formatted
    // sessionize output truncates to seconds, which would move
    // sub-second boundaries) and count overlaps pairwise
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("us", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iv = spark.read.parquet(s"$sf/events.parquet")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast("timestamp")).as("us"))
      .withColumn("gap", col("us") - lag("us", 1).over(byUser))
      .withColumn("is_new",
        when(col("gap").isNull || col("gap") > 30L * 60 * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("sid", sum("is_new").over(run))
      .groupBy("user_id", "sid")
      .agg(min("us").as("s"), max("us").as("e"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("s"), r.getAs[Long]("e")))
    val deg = Array.fill(iv.length)(0L)
    for (i <- iv.indices; j <- (i + 1) until iv.length) {
      if (iv(i)._2 <= iv(j)._3 && iv(j)._2 <= iv(i)._3) { deg(i) += 1; deg(j) += 1 }
    }
    val expect = deg.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    assert(hist == expect)
    Core.releaseCaches()
  }

  test("q2 shape: the offering rollup is computed once — exchange reuse fires") {
    // Q2's decorrelated min-cost subquery and the detail branch read
    // the identical regional subtree; materializing it twice would
    // double the fact shuffle. The pin: the executed plan carries a
    // ReusedExchange (and no second lineitem scan pair beyond it).
    val df = Relational.q2MinCostSupplier(spark, sf)
    // collect() drives THIS QueryExecution (a noop write would plan a
    // fresh one), so the AQE final plan with reuse nodes is visible
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), plan.take(1200))
    Core.releaseCaches()
  }

  test("q20 shape: one lineitem scan feeds the semi-join chain") {
    val df = Relational.q20ExcessShippers(spark, sf)
    val s = formatted(df)
    // the conditional aggregate derives all-time AND in-1998 sums off
    // a single fact pass — a second Scan of lineitem means the
    // correlated threshold regressed to its own subquery scan
    // each scan node's Location line names its parquet once
    val liScans = s.split("\n").count(_.contains("lineitem.parquet"))
    assert(liScans == 1, s"lineitem scanned $liScans times:\n${s.take(800)}")
    // both semi-join levels survive planning
    assert("LeftSemi".r.findAllIn(s).size >= 2, s.take(800))
    Core.releaseCaches()
  }

  test("DS8 cube: one orders scan feeds all eight grouping sets via Expand") {
    val df = Relational.groupingSetsDs8(spark, sf)
    val s = formatted(df)
    // the whole point of the lattice spelling: eight aggregation
    // levels, ONE fact pass — a second orders scan means the cube
    // regressed to per-set subqueries
    val oScans = s.split("\n").count(_.contains("orders.parquet"))
    assert(oScans == 1, s"orders scanned $oScans times:\n${s.take(800)}")
    assert(s.contains("Expand"), s.take(800))
    // partial+final aggregate around the exchange
    assert("HashAggregate".r.findAllIn(s).size >= 2, s.take(800))
    Core.releaseCaches()
  }

  test("bloom point probes push the In filter to the parquet scan") {
    val (df, _) = graft.operators.Connectors.bloomSkipWithDir(spark, sf)
    val s = formatted(df)
    // the probe set must reach the reader as a pushed In — that is
    // the predicate the parquet row-group filter evaluates against
    // the bloom bitset (SourceSpec pins the bitset's physical
    // presence and its definite-reject on absent keys)
    assert(s.matches("(?s).*PushedFilters: \\[[^\\]]*In\\(o_custkey[^\\]]*\\].*"),
      s.take(1200))
    Core.releaseCaches()
  }

  test("DS8 top cells: the Window ranks the LATTICE, never the fact table") {
    val df = Relational.ds8TopCells(spark, sf)
    val s = formatted(df)
    // the reporting consumer must keep the single-fact-pass property
    // of the lattice it consumes...
    val oScans = s.split("\n").count(_.contains("orders.parquet"))
    assert(oScans == 1, s"orders scanned $oScans times:\n${s.take(800)}")
    assert(s.contains("Expand"), s.take(800))
    // ...and rank over the aggregate output: exactly one Window node,
    // sitting ABOVE the final HashAggregate in the operator listing
    // (formatted plans list children below parents), so the windowed
    // frame is the few-hundred-row lattice, not the fact scan
    val lines = s.split("\n")
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggIdx = lines.indexWhere(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggIdx >= 0 && winIdx < aggIdx,
      s"Window not above the aggregate:\n${s.take(800)}")
    Core.releaseCaches()
  }

  test("interval identity is collision-free at ANY session ordinal (struct key)") {
    // the r15 advice trap: a user_id*1e6+session_id key aliases
    // (u=1, sid=2_000_000) with (u=3, sid=0) — and an oracle sharing
    // the encoding agrees on the wrong histogram. The struct key must
    // keep them distinct: both intervals overlap each other and
    // nothing else, so the correct histogram is {1 → 2, 0 → 1}.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val iv = Seq(
      (1L, 2000000L, 0L, 100L), // aliases (3, 0) under the old stride
      (3L, 0L, 50L, 200L), //     overlaps ONLY the row above
      (9L, 7L, 10000L, 10001L)) // overlaps nothing
      .toDF("user_id", "session_id", "s_ns", "e_ns")
      .select(struct(col("user_id"), col("session_id")).as("iid"),
        col("s_ns"), col("e_ns"))
    val hist = graft.operators.Events.overlapHistogram(iv).collect()
      .map(r => r.getAs[Long]("concurrency") -> r.getAs[Long]("n_sessions"))
      .toMap
    assert(hist == Map(1L -> 2L, 0L -> 1L))
    Core.releaseCaches()
  }

  test("interval-key overflow guard RAISES instead of aliasing") {
    // the guard at Events.sessionIntervals is a raise_error branch
    // that had never been fired by a test (r16 verdict): drive it
    // with a user_id at Long.MaxValue — stride here is 2 (one
    // session, max(session_id)+1), so the bound
    // (Long.Max − 1) div 2 is far below the id and the key
    // user·stride + session WOULD overflow. The raise must surface,
    // not a silently wrapped negative key.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = Core.tempDir("graft-overflow-events")
    Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        Long.MaxValue, "view", 1.0, "{}"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"),
        Long.MaxValue, "click", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val ex = intercept[Exception] {
      graft.operators.Events.intervalOverlap(spark, dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("interval key would overflow")),
      s"expected the overflow raise, got: ${messages(ex).mkString(" | ")}")
    Core.releaseCaches()
  }

  test("Kneser-Ney probabilities are discounted below MLE yet stay in (0, 1)") {
    val rows = graft.operators.TrainingFilters.kneserNey(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val p = r.getAs[Double]("p_kn")
      val mle = r.getAs[Long]("c12").toDouble / r.getAs[Long]("c1").toDouble
      assert(p > 0.0 && p < 1.0, s"$r")
      // the discount removes D/c1 and the continuation term adds back
      // at most D·N1+(w1)/c1 of it — net never exceeds the MLE + the
      // redistributed share
      assert(p <= mle + 0.75 * r.getAs[Long]("n_follow").toDouble /
        r.getAs[Long]("c1").toDouble + 1e-12, s"$r")
    }
    Core.releaseCaches()
  }

  test("weighted median: cumulative weight reaches half exactly at the reported value") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Quality.weightedMedian(spark, sf).collect()
    assert(rows.nonEmpty)
    val raw = Tables(spark, sf, "lineitem")
      .select(col("l_returnflag").as("f"),
        round(col("l_extendedprice") * 100).cast("long").as("v"),
        round(col("l_quantity")).cast("long").as("w"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { r =>
      val f = r.getAs[String]("l_returnflag")
      val med = r.getAs[Long]("median_cents")
      val grp = raw.filter(_._1 == f)
      val w = grp.map(_._3).sum
      assert(w == r.getAs[Long]("total_weight"))
      val below = grp.filter(_._2 < med).map(_._3).sum
      val upto = grp.filter(_._2 <= med).map(_._3).sum
      val target = (w + 1) / 2
      assert(below < target && upto >= target, s"$r")
    }
    Core.releaseCaches()
  }

  test("curriculum deciles are size-balanced and difficulty is monotone across deciles") {
    val rows = graft.operators.Pipeline.curriculum(spark, sf).collect()
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    val perDecile = rows.groupBy(_.getAs[Long]("decile"))
      .map { case (d, rs) => d -> rs.map(_.getAs[Long]("n_docs")).sum }
    assert(perDecile.keySet == (0L to 9L).toSet)
    perDecile.values.foreach(c => assert(math.abs(c - n / 10) <= 1, s"$perDecile"))
    Core.releaseCaches()
  }

  test("epoch shuffle: every epoch permutes, epochs differ, doc counts agree") {
    val rows = graft.operators.Pipeline.epochShuffle(spark, sf).collect()
      .sortBy(_.getAs[Long]("epoch"))
    assert(rows.map(_.getAs[Long]("epoch")).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getAs[Long]("n_docs")).distinct.length == 1)
    rows.foreach { r =>
      // a uniform permutation displaces ~n/3 on average; an unsalted
      // epoch hash (every epoch identical to ingest order) reports 0
      assert(r.getAs[Long]("sum_displacement") > 0, s"$r")
    }
    // distinct displacement sums prove the per-epoch salt takes effect
    assert(rows.map(_.getAs[Long]("sum_displacement")).distinct.length >= 2)
    Core.releaseCaches()
  }

  test("audio frames: frame features telescope to the clip decode exactly") {
    val frames = graft.operators.Multimodal.audioFrames(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    val clips = graft.operators.Multimodal.wavDecode(spark, sf).collect()
    assert(clips.nonEmpty)
    clips.foreach { c =>
      val id = c.getAs[Long]("doc_id")
      val fs = frames(id)
      assert(fs.length == 4) // 64 samples / 16 per frame
      assert(fs.map(_.getAs[Long]("energy")).sum == c.getAs[Long]("sq_sum"))
      assert(fs.map(_.getAs[Long]("abs_sum")).sum == c.getAs[Long]("abs_sum"))
      assert(fs.map(_.getAs[Long]("peak")).max == c.getAs[Long]("peak"))
      // frame ZCRs drop only the (frames−1) boundary crossings
      val z = fs.map(_.getAs[Long]("zero_crossings")).sum
      val zc = c.getAs[Long]("zero_crossings")
      assert(z <= zc && z >= zc - 3, s"doc $id: $z vs $zc")
    }
    Core.releaseCaches()
  }

  test("difference-in-differences is the arm-trend difference, shared by both rows") {
    val rows = graft.operators.Quality.abDiffInDiff(spark, sf).collect()
      .sortBy(_.getAs[Long]("arm"))
    assert(rows.length == 2)
    val t0 = rows(0).getAs[Double]("trend_cents")
    val t1 = rows(1).getAs[Double]("trend_cents")
    rows.foreach { r =>
      assert(r.getAs[Double]("did_cents") == t1 - t0, s"$r")
      assert(r.getAs[Double]("trend_cents") ==
        r.getAs[Double]("mean_post_cents") - r.getAs[Double]("mean_pre_cents"))
    }
    Core.releaseCaches()
  }

  test("Fellegi-Sunter queue matches a brute-force m/u recount") {
    import org.apache.spark.sql.functions._
    val out = graft.operators.Dedup.erFellegiSunter(spark, sf).collect()
    assert(out.nonEmpty)
    // independent recount over the same nation-blocked pairs
    val cust = Tables(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_mktsegment"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").as("balb"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getString(3), r.getLong(4)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val pairs = for {
      i <- cust.indices; j <- (i + 1) until cust.length
      if cust(i)._3 == cust(j)._3
    } yield {
      val (x, y) = if (cust(i)._1 < cust(j)._1) (cust(i), cust(j)) else (cust(j), cust(i))
      (x._1, y._1, lev(x._2, y._2) <= 1,
        x._4 == y._4, x._5 == y._5, x._2.last == y._2.last)
    }
    val nm = pairs.count(_._3).toDouble
    val nu = pairs.length - nm
    def m(sel: ((Long, Long, Boolean, Boolean, Boolean, Boolean)) => Boolean) =
      (pairs.count(p => p._3 && sel(p)) + 1.0) / (nm + 2.0)
    def u(sel: ((Long, Long, Boolean, Boolean, Boolean, Boolean)) => Boolean) =
      (pairs.count(p => !p._3 && sel(p)) + 1.0) / (nu + 2.0)
    val (m1, u1) = (m(_._4), u(_._4)); val (m2, u2) = (m(_._5), u(_._5))
    val (m3, u3) = (m(_._6), u(_._6))
    def w(p: (Long, Long, Boolean, Boolean, Boolean, Boolean)): Double =
      (if (p._4) m1 / u1 else (1.0 - m1) / (1.0 - u1)) *
        (if (p._5) m2 / u2 else (1.0 - m2) / (1.0 - u2)) *
        (if (p._6) m3 / u3 else (1.0 - m3) / (1.0 - u3))
    val expect = pairs.filterNot(_._3)
      .map(p => (p._1, p._2, w(p)))
      .sortBy(p => (-p._3, p._1, p._2)).take(out.length)
    out.zip(expect).foreach { case (r, (ka, kb, wt)) =>
      assert(r.getAs[Long]("ka") == ka && r.getAs[Long]("kb") == kb, s"$r vs ($ka,$kb)")
      assert(math.abs(r.getAs[Double]("weight") - wt) < 1e-9, s"$r vs $wt")
    }
    Core.releaseCaches()
  }

  test("KMV set algebra: exact identities hold and estimates track the union") {
    val r = graft.operators.Udaf.kmvSetAlgebra(spark, sf).collect().head
    val eu = r.getAs[Long]("exact_union")
    assert(eu > 0)
    val est = r.getAs[Double]("est_union")
    assert(math.abs(est - eu) / eu.toDouble < 0.5, s"$r")
    // inclusion-exclusion identities between the reported estimates
    assert(r.getAs[Double]("est_only_1995") <= est &&
      r.getAs[Double]("est_only_1996") <= est)
    Core.releaseCaches()
  }

  test("Mann-Whitney U matches a brute-force midrank recount") {
    import org.apache.spark.sql.functions._
    val row = graft.operators.Quality.abMannWhitney(spark, sf).collect().head
    // independent recount: collect per-user spends + arms, assign
    // doubled midranks by sorting, sum over arm 1
    val users = Tables(spark, sf, "events")
      .select(col("user_id"), round(col("value") * 100).cast("long").as("c"))
      .groupBy("user_id").agg(sum("c").as("y"))
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("y")))
    val armOf = (u: Long) =>
      (((u * 2654435761L) % Core.HashMod) + Core.HashMod) % Core.HashMod % 2
    val sorted = users.sortBy(_._2)
    // doubled midrank per distinct value: 2*cb + t + 1
    val mr2 = sorted.groupBy(_._2).map { case (y, g) =>
      val cb = sorted.count(_._2 < y).toLong
      y -> (2 * cb + g.length + 1)
    }
    val n1 = users.count(u => armOf(u._1) == 1).toLong
    val n0 = users.length - n1
    val r1_2 = users.filter(u => armOf(u._1) == 1).map(u => mr2(u._2)).sum
    val u1_2 = r1_2 - n1 * (n1 + 1)
    assert(row.getAs[Long]("n0") == n0 && row.getAs[Long]("n1") == n1)
    assert(row.getAs[Long]("u1_2") == u1_2, s"$row")
    // hash A/A split: z should be sane and finite
    val z = row.getAs[Double]("z")
    assert(!z.isNaN && math.abs(z) < 5.0, s"z=$z")
    Core.releaseCaches()
  }

  test("Kaplan-Meier survival replays the product-limit recursion and decreases") {
    val rows = graft.operators.Events.kaplanMeier(spark, sf).collect()
      .sortBy(_.getAs[Long]("t"))
    assert(rows.nonEmpty)
    var acc = 1.0
    var last = Double.MaxValue
    rows.foreach { r =>
      val d = r.getAs[Long]("d"); val n = r.getAs[Long]("n_risk")
      assert(d > 0 && n >= d, s"$r")
      acc = acc * (1.0 - d.toDouble / n.toDouble)
      val s = r.getAs[Double]("survival")
      assert(s == acc, s"replay mismatch at $r: $acc")
      assert(s < last && s >= 0.0)
      last = s
    }
    // at-risk counts are non-increasing in t
    val ns = rows.map(_.getAs[Long]("n_risk")).toSeq
    assert(ns == ns.sorted.reverse)
    Core.releaseCaches()
  }

  test("CUSUM equals the textbook recursion replayed day by day") {
    val rows = graft.operators.Events.cusumChangepoint(spark, sf).collect()
      .sortBy(_.getAs[Long]("day"))
    assert(rows.nonEmpty)
    val n = rows.map(_.getAs[Long]("n_events"))
    val days = n.length.toLong
    val total = n.sum
    // replay S_t = max(0, S_{t-1} + (n_days*x_t - total)) both ways
    var up = 0L; var down = 0L
    rows.zipWithIndex.foreach { case (r, i) =>
      up = math.max(0L, up + n(i) * days - total)
      down = math.max(0L, down + total - n(i) * days)
      assert(r.getAs[Long]("cusum_up") == up, s"$r")
      assert(r.getAs[Long]("cusum_down") == down, s"$r")
    }
  }

  test("holt trend equals the coupled recursion replayed day by day") {
    import org.apache.spark.sql.functions._
    val r = graft.operators.Events.holtLinear(spark, sf).collect().head
    val xs = spark.read.parquet(s"$sf/events.parquet")
      .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"))
      .groupBy("day").agg(count(lit(1)).as("n")).orderBy("day")
      .collect().map(_.getAs[Long]("n").toDouble)
    var l = xs(0); var b = xs(1) - xs(0)
    xs.drop(1).foreach { x =>
      val nl = x * 0.25 + (l + b) * 0.75
      b = (nl - l) * 0.125 + b * 0.875
      l = nl
    }
    assert(r.getAs[Long]("n_days") == xs.length.toLong)
    assert(r.getAs[Double]("level") == l, s"$r vs $l")
    assert(r.getAs[Double]("trend") == b, s"$r vs $b")
    assert(r.getAs[Double]("forecast_1") == l + b)
    assert(r.getAs[Double]("forecast_7") == l + b * 7.0)
  }

  test("BPE merge table is driver-local; the corpus rewrite chain is join-free") {
    // the round winners are collected (1 row per round, loop
    // control), so the merge table plans as a LocalTableScan — no
    // join of any kind ever touches the corpus. (The former 1-row
    // BroadcastNestedLoopJoin spelling referenced the corpus plan
    // twice per round — exponential logical tree; see bpeRounds.)
    // Both pins read the distributed loop, which a small corpus skips.
    val (state, merges) = TextAnalysis.iterativeBpe(spark, sf, 5)
    val t = executed(TextAnalysis.bpeMergeTable(merges))
    assert(t.contains("LocalTableScan"), t.take(900))
    assert(!t.contains("Join") && !t.contains("CartesianProduct"), t.take(900))
    // the apply path (the corpus chain itself): literal-replace
    // projections over the corpus leaf — join-free, and the ONLY
    // exchange is the final presentation orderBy, so the corpus
    // never shuffles through any merge round
    val a = executed(TextAnalysis.bpeSavings(state))
    assert(!a.contains("Join") && !a.contains("CartesianProduct"), a.take(900))
    assert("Exchange".r.findAllIn(a).size <= 1, a.take(900))
    Core.releaseCaches()
  }
}
