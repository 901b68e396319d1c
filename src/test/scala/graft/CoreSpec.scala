package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Pins for [[Core.CkptEvery]]/[[Core.ckptRound]]: iterative loops
  * must keep a BOUNDED logical plan as rounds grow — caching
  * truncates recompute, not lineage, so without the parquet-leaf cut
  * an N-round loop re-analyzes an O(N)-deep tree every round (O(N²)
  * planning; see the connected-components scaladoc for the measured
  * exponential variant). The pin: a loop run 20 rounds (crossing the
  * every-8 threshold twice, 3–4 live rounds after the last cut) has
  * EXACTLY the depth of a 12-round run (one cut, same live tail),
  * and strictly less than an uncut 7-round run. */
class CoreSpec extends SparkSpec {

  private def depth(p: LogicalPlan): Int =
    1 + (if (p.children.isEmpty) 0 else p.children.map(depth).max)
  private def depth(df: DataFrame): Int = depth(df.queryExecution.analyzed)

  test("20-round k-means keeps a bounded plan via parquet-leaf checkpoints") {
    val d20 = graft.operators.Similarity.kmeansRounds(spark, sf, 20)
    val d12 = graft.operators.Similarity.kmeansRounds(spark, sf, 12)
    val d7 = graft.operators.Similarity.kmeansRounds(spark, sf, 7)
    assert(depth(d20) == depth(d12),
      s"post-checkpoint tail should be identical: ${depth(d20)} vs ${depth(d12)}")
    assert(depth(d20) < depth(d7),
      s"two cuts must beat an uncut 7-round chain: ${depth(d20)} vs ${depth(d7)}")
    // the checkpointed plan still executes end to end
    assert(d20.count() > 0)
    Core.releaseCaches()
  }

  test("20-round BPE train keeps a bounded plan and a complete merge table") {
    val (c20, m20) = graft.operators.TextAnalysis.iterativeBpe(spark, sf, 20)
    val (c12, _) = graft.operators.TextAnalysis.iterativeBpe(spark, sf, 12)
    val (c7, _) = graft.operators.TextAnalysis.iterativeBpe(spark, sf, 7)
    assert(depth(c20) == depth(c12),
      s"post-checkpoint tail should be identical: ${depth(c20)} vs ${depth(c12)}")
    assert(depth(c20) < depth(c7),
      s"two cuts must beat an uncut 7-round chain: ${depth(c20)} vs ${depth(c7)}")
    // merge table survives the leaf cuts intact: one winner per round
    assert(m20.count() == 20)
    Core.releaseCaches()
  }

  test("the registered 12-round BPE train executes through a checkpoint leaf") {
    // text_bpe_train12 runs DeepBpeRounds = 12 > CkptEvery = 8, so the
    // production deep-loop path (checkpoint-then-continue) is exercised
    // by a CORRECTNESS-gated query, not only by this suite's structural
    // pins: rounds 9–12 must scan the round-8 parquet leaf, which
    // makes the leaf the state's ONLY input
    val (c12, m12) = graft.operators.TextAnalysis.iterativeBpe(spark, sf, 12)
    assert(m12.count() == 12)
    // the loop caches every round's rewrite, and inputFiles reads the
    // OPTIMIZED plan — with the caches live, withCachedData swaps an
    // InMemoryRelation in for the whole chain and no file leaf shows.
    // Release them first so the plan's real leaves are visible.
    Core.releaseCaches()
    assert(c12.inputFiles.nonEmpty &&
      c12.inputFiles.forall(_.contains("graft-bpe-ckpt")),
      s"state should read ONLY the checkpoint leaf, got: ${c12.inputFiles.take(3).mkString(", ")}")
  }

  private def dirOf(leaf: DataFrame): String =
    new org.apache.hadoop.fs.Path(leaf.inputFiles.head).getParent.toString

  test("parquet read-back of a checkpoint, a CC round and a stream spool starts no schema job") {
    import spark.implicits._
    // the detector sees the job the read-backs avoid
    val probe = Core.ckptRound(spark.range(10).toDF("id"), "graft-corespec")
    val (_, inferred) = jobsUnder(spark.read.parquet(dirOf(probe)))
    assert(inferred == Seq(false), s"schema inference should be one non-SQL job: $inferred")
    // id is non-nullable as written; every read-back reports the
    // schema a plain read.parquet infers, nullability included
    def sameAsInferred(leaf: DataFrame): Unit = {
      val want = spark.read.parquet(dirOf(leaf)).schema
      assert(leaf.schema == want, s"${leaf.schema.treeString} vs ${want.treeString}")
    }
    val (ckpt, ckptJobs) = jobsUnder(Core.ckptRound(spark.range(10).toDF("id"), "graft-corespec"))
    assert(ckptJobs.nonEmpty && ckptJobs.forall(identity), s"checkpoint jobs: $ckptJobs")
    sameAsInferred(ckpt)
    assert(!spark.range(1).schema("id").nullable && ckpt.schema("id").nullable)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val ((labels, _), ccJobs) = jobsUnder(graft.operators.Dedup.iterativeComponents(pairs))
    assert(ccJobs.nonEmpty && ccJobs.forall(identity), s"CC jobs: $ccJobs")
    sameAsInferred(labels)
    // under the local-finish bound the build runs the edge-leaf write
    // and nothing else: one SQL execution, no loop action; the
    // union-find labels keep the round leaf's schema
    val ((local, rounds), localExecutions) =
      executionsUnder(graft.operators.Dedup.connectedComponents(pairs))
    assert(rounds == 0 && localExecutions.nonEmpty && localExecutions.forall(_.isDefined) &&
      localExecutions.distinct.size == 1, s"local CC executions: $localExecutions")
    assert(local.schema == labels.schema, s"${local.schema.treeString} vs ${labels.schema.treeString}")
    val (spool, streamJobs) = jobsUnder(graft.streaming.Streams.streamWordCount(spark, sf))
    assert(streamJobs.nonEmpty && streamJobs.forall(identity), s"stream jobs: $streamJobs")
    sameAsInferred(spool)
    Core.releaseCaches()
  }

  /** A table dir `<root>/<name>.parquet` of `n` Spark-written rows:
    * a non-nullable `id` and a string column carrying field metadata,
    * both of which the read must report as inference does. */
  private def writeTable(root: String, name: String, n: Int, mode: String = "overwrite"): String = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.MetadataBuilder
    val path = s"$root/$name.parquet"
    spark.range(n).select(col("id"),
      col("id").cast("string").as("s", new MetadataBuilder().putString("k", "v").build()))
      .write.mode(mode).parquet(path)
    path
  }

  test("a second Tables read of an unchanged table starts no job and keeps the inferred schema") {
    val root = Core.tempDir("graft-corespec-tables")
    val path = writeTable(root, "t", 20)
    Tables(spark, root, "t")
    val (again, jobs) = jobsUnder(Tables(spark, root, "t"))
    assert(jobs.isEmpty, s"a warm Tables read started jobs: $jobs")
    val want = spark.read.parquet(path).schema
    assert(again.schema == want, s"${again.schema.treeString} vs ${want.treeString}")
    assert(again.schema("id").nullable && again.schema("s").metadata.getString("k") == "v")
    assert(again.count() == 20)
  }

  test("a table rewritten in place or grown by a file is read with its fresh schema") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = Core.tempDir("graft-corespec-tables")
    val path = writeTable(root, "t", 20)
    assert(Tables(spark, root, "t").schema("id").dataType == LongType)
    spark.range(30).select(col("id").cast("int").as("id"), col("id").cast("string").as("s"))
      .write.mode("overwrite").parquet(path)
    val retyped = Tables(spark, root, "t")
    assert(retyped.schema == spark.read.parquet(path).schema)
    assert(retyped.schema("id").dataType == IntegerType)
    assert(retyped.count() == 30)
    writeTable(root, "t", 20)
    Tables(spark, root, "t")
    writeTable(root, "t", 5, mode = "append")
    val grown = Tables(spark, root, "t")
    assert(grown.schema == spark.read.parquet(path).schema)
    assert(grown.count() == 25)
  }

  test("a Tables read under a flipped parquet conf returns that conf's inferred schema") {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.types.{BinaryType, StringType}
    // a raw (unannotated) binary column, written without Spark's
    // schema footer, is the one binaryAsString reinterprets
    val root = Core.tempDir("graft-corespec-tables")
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int64 id; required binary payload; }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$root/raw.parquet/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 5).foreach(i => w.write(rows.newGroup().append("id", i.toLong).append("payload", s"p$i")))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Tables(spark, root, "raw").schema("payload").dataType == BinaryType)
      spark.conf.set(key, "true")
      val flipped = Tables(spark, root, "raw")
      assert(flipped.schema == spark.read.parquet(s"$root/raw.parquet").schema)
      assert(flipped.schema("payload").dataType == StringType)
      assert(flipped.orderBy("id").collect().map(_.getString(1)).toSeq == (0 until 5).map(i => s"p$i"))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(Tables(spark, root, "raw").schema("payload").dataType == BinaryType)
  }

  test("two Tables reads of one table are distinct relations that join on a key") {
    val root = Core.tempDir("graft-corespec-tables")
    writeTable(root, "t", 20)
    val a = Tables(spark, root, "t")
    val b = Tables(spark, root, "t")
    assert(a.queryExecution.analyzed.outputSet.intersect(b.queryExecution.analyzed.outputSet).isEmpty)
    val joined = a.join(b, a("id") === b("id") + 1)
    assert(joined.count() == 19)
  }

  test("k-core, BFS and LPA builds start no schema job once their tables are warm") {
    import graft.operators.Dedup
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "kcore" -> (() => Dedup.kcore(spark, sf)),
      "bfs" -> (() => Dedup.bfsLevels(spark, sf)),
      "lpa" -> (() => Dedup.labelProp(spark, sf))).foreach { case (name, build) =>
      val warm = build().collect()
      Core.releaseCaches()
      val (df, jobs) = jobsUnder(build())
      assert(jobs.nonEmpty && jobs.forall(identity), s"$name build jobs: $jobs")
      assert(df.collect().toSeq == warm.toSeq, s"$name result changed between builds")
      Core.releaseCaches()
    }
  }

  test("a second pass over the single_action queries recompiles no generated class") {
    // Spark keeps compiled generated classes in one JVM-wide cache of
    // `spark.sql.codegen.cache.maxEntries` entries, keyed by (class
    // loader, source) and sized once, on the first compile. build.sbt
    // raises it from 100, which one pass over these queries overflows:
    // each pass then evicted classes the next one needed, and every
    // evicted class compiled again and lost its JIT'd code. It also
    // turns off artifact isolation, which gave every session its own
    // executor class loader: stream_wordcount clones the session on
    // every run, so its tasks recompiled all their classes each pass.
    // And it drops the codegen stage id from whole-stage class names,
    // so a stage's source no longer depends on the number adaptive
    // planning gave it. Once the first pass has compiled them, later
    // passes compile nothing. Adaptive planning can still choose
    // another plan on a later run (q2's self-join broadcast its left
    // side on its first run in a session and its right side on later
    // runs), and a new plan brings stages whose code no earlier pass
    // produced, so for q2 and dedup_minhash_lsh the pin counts
    // compiles against keys new to the cache.
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    import org.sparkproject.guava.cache.Cache
    import scala.jdk.CollectionConverters._
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
    // CodeGenerator.cache is private: a NonFateSharingLoadingCache over a Guava cache
    val field = CodeGenerator.getClass.getDeclaredField("cache")
    field.setAccessible(true)
    val wrapper = field.get(CodeGenerator)
    val cache = wrapper.getClass.getMethod("loadingCache").invoke(wrapper).asInstanceOf[Cache[AnyRef, AnyRef]]
    def keys = cache.asMap.keySet.asScala.toSet
    val adaptive = Seq("dedup_minhash_lsh", "q2_shape_min_cost")
    val names = Seq("wordcount", "q9_shape_profit", "stream_wordcount") ++ adaptive
    // per query: (compiles, keys new to the cache)
    def pass(): Map[String, (Long, Int)] = names.map { n =>
      val (k0, c0) = (keys, CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
      SparkEntry.queries(n)(spark, sf).write.format("noop").mode("overwrite").save()
      Core.releaseCaches()
      n -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, (keys -- k0).size)
    }.toMap
    val start = keys
    pass()
    // the cache may already hold other suites' classes, which LRU may evict
    val compiled = keys -- start
    for (i <- 2 to 3) {
      val counts = pass()
      val evicted = (compiled -- keys).size
      assert(evicted == 0, s"pass $i evicted $evicted of the ${compiled.size} classes the first compiled")
      names.filterNot(adaptive.contains).foreach { n =>
        assert(counts(n)._1 == 0, s"pass $i compiled ${counts(n)._1} classes for $n")
      }
      adaptive.foreach { n =>
        val (compiles, added) = counts(n)
        assert(compiles == added, s"pass $i compiled $compiles classes for $n, $added of them new")
      }
    }
  }

  test("every .collect() in src/main is a 1-row limit(1) loop-control read") {
    // The SCALE.md invariant, pinned grep-ably: no DATA-bearing
    // collect may land in the engine. The four legal sites today are
    // iterative loop-control reads. Three (MMR round winner ×2, BPE
    // argmax) collect a TakeOrdered/limit(1) single row to inline as
    // a literal in the next round's plan. The fourth is BPE's
    // one-task merge table, admitted below by its call: at most one
    // row per round, the same rows the argmax collects one at a time.
    // Any new `.collect()` must either sit within 2 lines of its
    // `limit(1)` or be consciously admitted here by raising the
    // pinned count WITH a justification.
    val admitted = Seq("localRounds(rows, n)._1.iterator")
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"no sources under $root — cwd moved?")
    val sites = files.flatMap { p =>
      val lines = java.nio.file.Files.readAllLines(p).asScala.toVector
      lines.zipWithIndex.collect {
        case (l, i)
            if l.contains(".collect()") &&
              !l.trim.startsWith("//") && !l.trim.startsWith("*") =>
          val window = lines.slice(math.max(0, i - 2), i + 1)
          (s"$p:${i + 1}",
            window.exists(w => w.contains("limit(1)") || admitted.exists(w.contains)))
      }
    }
    val illegal = sites.filterNot(_._2).map(_._1)
    assert(illegal.isEmpty,
      s"data-bearing .collect() without a limit(1) within 2 lines: ${illegal.mkString(", ")}")
    assert(sites.size == 4,
      s"loop-control collect census changed (expected 4): ${sites.map(_._1).mkString(", ")}")
  }
}
