package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One registered engine query: the Spark plan plus (optionally) the
  * equivalent DuckDB SQL the driver uses as a correctness oracle.
  *
  * Column names MUST match between `spark` and `oracle` — the driver
  * sorts columns by name before hashing values.
  */
final case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** benchmarked at sf0.1 by [[Bench]]; keep false for quadratic
      * correctness-only demos that exist for oracle parity. */
    headline: Boolean = true)

/** Reads the driver's tables, all parquet: `<sfDir>/<name>.parquet`.
  *
  * A schema-less `spark.read.parquet` plans with a one-task job that
  * reads the files' footers to infer the schema, so every read of a
  * table would start one job even when the same files were read
  * moments before. `Tables` runs Spark's inference at most once per
  * (path, file set, session conf) and afterwards reads with the
  * memoized schema, the way [[Core.parquetLeaf]] reads back a frame
  * it just wrote.
  *
  *  - Memo: key → (file fingerprint, inferred schema), an LRU of
  *    [[MemoSize]] entries. It holds no DataFrame or plan: every call
  *    builds a fresh relation, so two reads of one table still get
  *    distinct attribute ids and self-joins resolve as before.
  *  - Key: the path plus every explicitly set session conf. A conf
  *    that changes inference (`spark.sql.parquet.binaryAsString`,
  *    `spark.sql.caseSensitive`, …) can only cause a miss, never a
  *    wrong schema.
  *  - Invalidation: the fingerprint is the sorted (path, length,
  *    modification time) of the new relation's own file index, the
  *    listing every read does anyway. A table rewritten in place, or
  *    one that gained or lost a file, fails the check; it is then read
  *    with a plain `read.parquet`, whose schema replaces the entry.
  *    Inference reads only these files' footers under this conf, so a
  *    hit returns exactly the schema inference would.
  */
object Tables {
  private type Fingerprint = Seq[(String, Long, Long)]
  private type Key = (String, Map[String, String])

  /** LRU bound: every table of a few scale-factor dirs under a few
    * session confs. An entry is a schema and a short file list. */
  private val MemoSize = 64

  private val memo =
    new java.util.LinkedHashMap[Key, (Fingerprint, StructType)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Key, (Fingerprint, StructType)]): Boolean =
        size > MemoSize
    }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = (path, spark.conf.getAll)
    memo.synchronized(Option(memo.get(key)))
      .map { case (fp, schema) => (spark.read.schema(schema).parquet(path), fp) }
      .collect { case (df, fp) if fingerprint(df).contains(fp) => df }
      .getOrElse {
        val df = spark.read.parquet(path)
        fingerprint(df).foreach(fp => memo.synchronized(memo.put(key, (fp, df.schema))))
        df
      }
  }

  /** Sorted (path, length, modification time) of the files `df`'s
    * parquet relation lists; None for any other plan shape, which is
    * then never memoized. */
  private def fingerprint(df: DataFrame): Option[Fingerprint] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
      .collect { case index: PartitioningAwareFileIndex =>
        index.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).sorted
      }
}

/** Helpers shared by operator modules. */
object Core {
  /** The session configuration every graft entry point runs under
    * (Bench, Verify, PlanDump and the test suites), apart from the
    * core count [[session]] takes. */
  val SessionConf: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // AQE coalescing targets shuffle BYTES and serializes the
    // compute-heavy small-data stages (LSH candidate verification
    // folds run per-row; a 10 MB pair list coalesced to 1 partition
    // pins one core for minutes). Keep AQE for skew/plan adaptation
    // but hold every shuffle at full parallelism.
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    // Spark keeps compiled generated classes in one JVM-wide cache of
    // 100 entries by default, split into 4 LRU segments of 25. The four
    // single_action perfbench queries need about 100 distinct classes a
    // lap, so every lap evicted and recompiled ~30 of them (about 0.5 s
    // a lap, and the JIT relearned each recompiled class). A whole
    // sf0.01 Verify run with the two options below and an unbounded cap
    // compiles 3,681 distinct (class loader, source) pairs: 2,336
    // distinct sources, most of them compiled once under a driver
    // thread's loader and once under the executor's. 8192 holds them
    // all with room for uneven segments, at about 27 KB of live heap
    // per held class (measured on an earlier whole-catalog run).
    // Spark reads it once, on the first compile.
    "spark.sql.codegen.cache.maxEntries" -> "8192",
    // Spark 4.1's artifact isolation gives every session, each streaming
    // query's clone included, its own executor class loader, and the
    // codegen cache key holds the loader: stream_wordcount's clone
    // recompiled its 13 classes on every run (driver_loops: about 135 ms
    // of compiles a lap). graft adds no artifacts (no addArtifact, no
    // Spark Connect), so the isolation scoped nothing; off, every
    // session's tasks share the executor's one loader.
    "spark.sql.artifact.isolation.enabled" -> "false",
    // Whole-stage class names carry the codegen stage id, which adaptive
    // planning assigns in the order it plans query stages, so the same
    // iterator came back as GeneratedIteratorForCodegenStage10 or …11 and
    // missed the cache (q2_shape_min_cost: 9 new classes in a later
    // pass). Without the id the cache key is the stage's code alone.
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** The local session on `cpus` cores, one shuffle partition per
    * core, under [[SessionConf]], logging at WARN. */
  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config(SessionConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Temp directory removed recursively at JVM exit — used by the
    * connector round-trips, bucketed tables, and stream-replay
    * symlink dirs so repeated runs don't accumulate table copies. */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    exitDirs.add(dir.toFile)
    dir.toString
  }

  /** The dirs [[tempDir]] made, all removed by ONE shutdown hook,
    * installed on first use: a hook per dir would grow the JVM's hook
    * table by one per checkpoint, spool and replay in a long-lived
    * session. */
  private lazy val exitDirs = {
    val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
    def rm(f: java.io.File): Unit = {
      val cs = f.listFiles
      if (cs != null) cs.foreach(rm)
      f.delete(): Unit
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(rm(_))))
    dirs
  }

  /** Exact-decimal sum rendered as double.
    *
    * Doubles summed in different orders differ in the last ulps, so a
    * straight `sum(double)` can never hash-match a DuckDB oracle. Both
    * engines instead cast the (2-decimal) inputs to exact DECIMAL,
    * sum exactly, and cast the single exact result to double — a
    * deterministic, order-independent value identical on both sides.
    */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))
  def dsum(c: Column): Column = sum(dec(c)).cast(DoubleType)
  /** Oracle-side spelling of [[dsum]]. */
  def oDsum(x: String): String = s"CAST(SUM(CAST($x AS DECIMAL(12,2))) AS DOUBLE)"
  /** avg as exact-sum / count — deterministic double on both sides. */
  def davg(c: Column): Column = dsum(c) / count(lit(1))
  def oDavg(x: String): String = s"(${oDsum(x)} / COUNT(*))"

  /** Cache registry. Operators persist small intermediate tables
    * (MinHash signatures, embedding norms) that are consumed more
    * than once within one query plan; [[cached]] persists AND tracks
    * them so [[releaseCaches]] can unpersist exactly those frames
    * later. A library user embedding graft queries in a long-lived
    * session calls `releaseCaches()` after consuming each result —
    * unlike the blunt session-wide `spark.catalog.clearCache()`, it
    * cannot evict the application's own cached data. */
  private val liveCaches = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]

  /** `df.persist()` tracked for later [[releaseCaches]]. */
  def cached(df: DataFrame): DataFrame = {
    df.persist()
    liveCaches.add(df)
    df
  }

  /** Unpersist every frame handed to [[cached]] since the last call. */
  def releaseCaches(): Unit = {
    var df = liveCaches.poll()
    while (df != null) { df.unpersist(blocking = false); df = liveCaches.poll() }
  }

  /** Run `body` with AQE partition coalescing enabled, restoring the
    * session's setting after. The session default is OFF because
    * byte-targeted coalescing serializes compute-heavy small-byte
    * stages (per-row LSH verification folds); loops and micro-batch
    * bodies whose stages are all uniform narrow-row joins/aggregates
    * (connected components, label maintenance) opt back in here —
    * their kilobyte shuffles collapse to few tasks locally while the
    * identical plan keeps full width at scale (the coalescing target
    * is BYTES, not a tuned partition count). */
  def withPartitionCoalescing[T](s: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = s.conf.getOption(key)
    s.conf.set(key, "true")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  /** Iterative loops (k-means, BPE, connected components) checkpoint
    * their state to a parquet LEAF every this-many rounds: caching
    * truncates per-round recompute but NOT the logical plan, so an
    * N-round loop otherwise re-analyzes an N-round-deep tree every
    * round — O(N²) planning overall. Production round counts (2–5)
    * sit below the threshold, so headline queries never pay a write;
    * long-running loops stay flat (CoreSpec pins a 20-round loop's
    * plan depth). Connected components checkpoints EVERY round
    * instead — its convergence probe needs the materialization
    * anyway. */
  val CkptEvery = 8

  /** Materialize `df` to a temp parquet dir and return the read-back
    * LEAF — the lineage cut [[CkptEvery]] describes. (RDD
    * `localCheckpoint` pins executor blocks until RDD GC; a parquet
    * round-trip is released by the tempDir shutdown hook and, unlike
    * `checkpoint()`, needs no cluster-wide checkpoint dir.) */
  def ckptRound(df: DataFrame, prefix: String): DataFrame =
    parquetLeaf(df, tempDir(prefix))

  /** Write `df` as parquet to `dir` and return the read-back LEAF.
    * The read passes the schema just written, so it plans without
    * the footer-inference job every schema-less `read.parquet` runs
    * (one extra job per checkpoint, CC round and stream spool). The
    * file source reads every column as nullable, exactly as the
    * inferred schema would. */
  def parquetLeaf(df: DataFrame, dir: String): DataFrame = {
    df.write.mode("overwrite").parquet(dir)
    df.sparkSession.read.schema(df.schema).parquet(dir)
  }

  /** Epoch MICROSECONDS of the events `ts` column. The driver stores
    * `ts` as a naive (no-timezone) microsecond parquet timestamp;
    * every session pins `spark.sql.session.timeZone=UTC`, so the
    * NTZ→timestamp cast reads the stored value as the same UTC
    * instant DuckDB's `epoch_us(ts)` reports — the two engines agree
    * on the integer bit-for-bit. */
  def epochUs(c: Column): Column =
    unix_micros(c.cast(TimestampType))

  /** Epoch NANOSECONDS (µs-precision data ⇒ exact ×1000) — the
    * integer time unit the temporal operators compute in. */
  def epochNs(c: Column): Column = epochUs(c) * 1000

  val HashMod = 1000000007L
  /** Deterministic 31-base polynomial rolling hash of a string, mod
    * 1e9+7. Expressible identically in Spark and DuckDB SQL (integer
    * arithmetic stays < 2^63 on both sides: acc < 1e9+7, so
    * acc*31+255 < 3.3e10). Used as the shared hash primitive for
    * fingerprinting / MinHash / SimHash so the DuckDB oracle can
    * recompute the exact same signatures.
    */
  def polyHash(c: Column): Column = graft.plans.TextHashes.polyHash(c)
  /** The INTERPRETED spelling of [[polyHash]] (per-code-point
    * `split`+`aggregate` fold) — kept as the parity baseline the
    * native expression is tested against ([[graft.TextHashesSpec]]). */
  def polyHashFold(c: Column): Column =
    aggregate(
      split(c, ""),
      lit(0L),
      (acc, ch) => (acc * 31 + ascii(ch)) % HashMod)
  /** Oracle-side spelling of [[polyHash]] (DuckDB `list_reduce`). */
  def oPolyHash(x: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(string_split($x, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(a, b) -> (a * 31 + b) % ${HashMod})"
}
