package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One closed-loop client running graft queries in one long-lived
  * `local[cores]` session, the way a library user embeds graft.
  *
  * Usage: Harness --queries a,b --data DIR --out DIR --seconds S --trace 0|1
  *
  * Setup is the JVM, the session and one untimed warm lap whose
  * results are written as parquet under `out/results` for the oracle
  * check. Timed laps then run until `seconds` have passed, four at least. A lap
  * builds each query (`Q.spark`, the graft.operators layer) and
  * materializes it with a noop write (Spark execution), calling
  * `Core.releaseCaches()` before each query. Between laps the harness
  * probes scratch disk, shutdown hooks, cached blocks and session conf.
  * With `--trace 1` the warm lap and half of the timed laps run with
  * the listeners of [[Tracer]] attached; the other half are the
  * untraced reference for the tracing overhead.
  * Everything lands in `out/run.json`; perfbench/report.py turns it
  * into metrics.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = opt("data")
    val out = Paths.get(opt("out"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    require(new File(dataDir).isDirectory, s"no input directory $dataDir")
    val catalog = graft.SparkEntry.all.map(q => q.name -> q).toMap
    val queries = opt("queries").split(",").toSeq.map(n =>
      catalog.getOrElse(n, sys.error(s"unknown query $n")))

    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      // the session graft.Bench builds, with scratch kept in the run dir
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    var tracing = false
    def span[T](layer: String, name: String, parent: Long)(body: Long => T): T =
      tracer.filter(_ => tracing).fold(body(0))(_.span(layer, name, parent)(body))

    val scratchRoots = Seq(System.getProperty("java.io.tmpdir"), opt("local")).map(Paths.get(_))
    def probe(): Map[String, Any] = {
      graft.Core.releaseCaches()
      val sc = spark.sparkContext
      Map(
        "scratch_bytes" -> scratchRoots.map(dirBytes).sum,
        "shutdown_hooks" -> shutdownHooks,
        "cached_blocks" -> sc.getRDDStorageInfo.map(_.numCachedPartitions.toLong).sum,
        "conf" -> spark.conf.getAll)
    }

    val execs = mutable.ArrayBuffer[Map[String, Any]]()
    val laps = mutable.ArrayBuffer[Map[String, Any]]()
    /** One lap; lap 0 is the warm lap, which writes the results. */
    def lap(n: Int): Unit = {
      val before = if (n == 0) Map.empty[String, Any] else laps.last
      val codegen0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      span("lap", s"lap $n", 0) { lapId =>
        queries.foreach { q =>
          graft.Core.releaseCaches()
          val q0 = System.nanoTime()
          var built = q0
          val error = span("query", q.name, lapId) { qId =>
            try {
              val df = span("operators.build", q.name, qId)(_ => q.spark(spark, dataDir))
              built = System.nanoTime()
              span("spark.action", q.name, qId) { _ =>
                if (n == 0) df.write.mode("overwrite").parquet(out.resolve(s"results/${q.name}").toString)
                else df.write.format("noop").mode("overwrite").save()
              }
              None
            } catch { case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}") }
          }
          val q1 = System.nanoTime()
          if (built == q0) built = q1
          execs += Map("lap" -> n, "query" -> q.name, "ok" -> error.isEmpty,
            "error" -> error.getOrElse(""), "build_s" -> (built - q0) / 1e9,
            "action_s" -> (q1 - built) / 1e9, "wall_s" -> (q1 - q0) / 1e9)
          error.foreach(e => System.err.println(s"[perfbench] lap $n ${q.name} failed: $e"))
        }
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val codegenMs = (CodeGenerator.compileTime - codegen0) / 1e6
      if (tracing) tracer.get.detach()
      val p = probe()
      val drift = before.get("conf").map { c =>
        val a = c.asInstanceOf[Map[String, String]]; val b = p("conf").asInstanceOf[Map[String, String]]
        (a.keySet ++ b.keySet).count(k => a.get(k) != b.get(k))
      }.getOrElse(0)
      laps += p ++ Map("lap" -> n, "traced" -> tracing, "wall_s" -> wall,
        "codegen_ms" -> codegenMs, "conf_drift" -> drift)
    }

    val sessionReady = Clock.nowMs
    tracing = trace
    tracer.filter(_ => tracing).foreach(_.attach())
    lap(0)
    val firstLap = Clock.nowMs
    val codegenSetupMs = CodeGenerator.compileTime / 1e6
    // At least four timed laps: JIT warm-up still slows the first
    // timed laps, and the median of four leaves the first out. Traced
    // runs leave lap 1 untraced, then interleave untraced and traced
    // laps as U T T U from lap 2 on, which cancels a linear warm-up
    // drift out of the tracing overhead; they run at least five laps.
    var n = 0
    while (n < (if (trace) 5 else 4) || (Clock.nowMs - firstLap) / 1e3 < seconds) {
      n += 1
      tracing = trace && n >= 2 && Set(1, 2)((n - 2) % 4)
      tracer.filter(_ => tracing).foreach(_.attach())
      lap(n)
    }
    val measuredS = (Clock.nowMs - firstLap) / 1e3
    tracing = false

    val oracle = graft.SparkEntry.oracleSql
    // live heap: what the heap pools hold right after a full collection
    // (their collection usage), which later allocations do not inflate.
    // The first collection lets Spark's ContextCleaner drop the blocks
    // of unreachable broadcasts and shuffles; the second counts the rest.
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapLive = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    val result = Map(
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "session_ready_ms" -> sessionReady,
      "first_lap_ms" -> firstLap,
      "measured_s" -> measuredS,
      "codegen_setup_ms" -> codegenSetupMs,
      "heap_live_mb" -> heapLive,
      "oracle_sql" -> queries.flatMap(q => oracle.get(q.name).map(q.name -> _)).toMap,
      "execs" -> execs.toList,
      "laps" -> laps.toList.map(_ - "conf"),
      "spans" -> tracer.fold(List.empty[Span])(_.spans.toList))
    spark.stop()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    mapper.writeValue(out.resolve("run.json").toFile, result)
  }

  /** Bytes of the regular files under `root`; files that Spark's
    * cleaner deletes during the walk are skipped. */
  private def dirBytes(root: Path): Long = {
    var total = 0L
    Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) total += a.size
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    total
  }

  /** JVM shutdown hooks registered through Runtime.addShutdownHook. */
  private def shutdownHooks: Int = {
    val f = Class.forName("java.lang.ApplicationShutdownHooks").getDeclaredField("hooks")
    f.setAccessible(true)
    f.get(null).asInstanceOf[java.util.Map[_, _]].size
  }
}
