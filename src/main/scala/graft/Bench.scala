package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Clear the previous run's summary artifact up front: a crashed
    // or killed run must leave NO file (read as "run failed"), never
    // a stale summary that parses as this run's numbers.
    val summaryPath = java.nio.file.Paths.get("target", "bench_summary.json")
    val detailPath = java.nio.file.Paths.get("target", "bench_detail.json")
    java.nio.file.Files.deleteIfExists(summaryPath)
    java.nio.file.Files.deleteIfExists(detailPath)
    // Optional comma-separated name filter for profiling a subset
    // (e.g. SPARK_GRAFT_BENCH_ONLY=scalar_dates,pipeline_corpus_prep),
    // over the full catalog so a non-headline query can be profiled too.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val picked = SparkEntry.pick(only, SparkEntry.benchQueries)
    // Parsed up front so a malformed value fails before the timed passes.
    val round = sys.env.get("SPARK_GRAFT_ROUND").map(_.trim.toInt)
    val spark = Core.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // A failing query must surface in the output, never read as a ~0 s
    // "speedup": names land in the "errors" array and get no timing.
    val errors = scala.collection.mutable.LinkedHashSet[String]()
    def runOne(q: Q, dir: String, tag: String): Option[Double] = {
      val t0 = System.nanoTime()
      // noop write materializes every row/column (count() would let
      // Spark prune the plan down to row counting).
      try {
        q.spark(spark, dir).write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // per-query progress to stderr: if the driver kills a run
        // mid-pass, the log still carries partial per-query evidence
        System.err.println(f"[bench] $tag ${q.name} ${sec}%.3f s")
        Some(sec)
      } catch {
        case e: Throwable =>
          errors += q.name
          System.err.println(s"[bench] $tag ${q.name} failed: ${e.getMessage}")
          None
      }
    }
    // Untimed warmup at the smallest SF for EVERY benched query (an
    // r12 allowlist of name prefixes silently missed new families —
    // er_/graph_/maint_ paid their JIT inside timed pass 1). Sole
    // exclusion, chosen so new families warm BY DEFAULT: streaming,
    // where fixed micro-batch overhead dwarfs JIT and a warm lap
    // would cost real wall-clock (r7's bench timed out before
    // output); its pass 1 is its own warmup and min-of-passes
    // absorbs the difference.
    val warmDir = {
      val sibling = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
      if (sibling.isDirectory && sibling.toString != sfDir) sibling.toString else sfDir
    }
    picked.filterNot(_.name.startsWith("stream_")).foreach { q =>
      Core.releaseCaches()
      runOne(q, warmDir, "warm")
    }
    errors.clear() // warmup failures don't count; timed passes re-report
    def onePass(tag: String, qs: Seq[Q]): Map[String, Double] = qs.flatMap { q =>
      // release the previous query's internal persists before timing
      Core.releaseCaches()
      runOne(q, sfDir, tag).map(q.name -> _)
    }.toMap
    // Two full passes, per-query MIN: the host shows ~1-minute
    // interference waves (10–20× slowdowns at low loadavg); whole-suite
    // passes are minutes apart, so a wave poisons at most one sample
    // of any query. The min is the plan's cost, not the host's.
    // Pass 2 runs ROTATED BY HALF, not reversed: interference waves
    // are position-correlated (r10: text_stats/text_bpe_tokens
    // inflated 3–4× in BOTH passes while isolated runs matched r9),
    // so identical ordering can park the same query in the same wave
    // twice. Reversal (r11) had its own failure mode: pass 1's TAIL
    // and pass 2's HEAD become wall-clock-ADJACENT, so one wave
    // spanning the pass boundary poisons BOTH samples of exactly the
    // last-scheduled family (r11: every streaming query "regressed"
    // 3–7× in-suite while isolated re-runs matched r10). A half
    // rotation keeps every query's two samples maximally separated
    // in time AND in neighborhood.
    val p1 = onePass("p1", picked)
    val half = picked.size / 2
    val p2 = onePass("p2", picked.drop(half) ++ picked.take(half))
    // Adaptive third sample: two samples of the same constant-cost
    // plan disagreeing >3× PROVES at least one met an interference
    // wave — and during a long wave the "better" sample may itself be
    // poisoned (observed: a pass-total-424 s lap left min-of-2 values
    // 3–5× above quiet-window anchors). Re-time the worst such
    // queries once, minutes after both passes, and take the overall
    // min. Bounded at 10 queries so the extra lap can't blow the
    // wall-clock budget; sub-second disagreements are scheduling
    // jitter, not waves, and are skipped.
    val suspects = picked.filter { q =>
      (p1.get(q.name), p2.get(q.name)) match {
        case (Some(a), Some(b)) =>
          math.max(a, b) / math.min(a, b) > 3.0 && math.min(a, b) > 1.0
        case _ => false
      }
    }.sortBy(q => -math.min(p1(q.name), p2(q.name))).take(10)
    val p3 = onePass("p3", suspects)
    val results = picked.flatMap { q =>
      val samples = Seq(p1.get(q.name), p2.get(q.name), p3.get(q.name)).flatten
      if (samples.isEmpty) None else Some(q.name -> samples.min)
    }.toMap
    def f(v: Double) = math.round(v * 1000) / 1000.0
    def qjson(m: Map[String, Double]) =
      m.map { case (k, v) => s"\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) f(results.values.sum) else 0.0
    // "total" is the sum of per-query minima — a methodology marker plus
    // both raw per-pass totals keep cross-round comparisons honest (no
    // single pass achieved `value`; pass1/pass2 did happen end-to-end).
    // Both raw per-pass maps ship too, so the artifact itself separates
    // host interference waves (one wild sample) from real regressions
    // (both samples slow).
    val passTotals = s"[${f(p1.values.sum)},${f(p2.values.sum)}]"
    // The driver keeps only a ~2 KB TAIL of stdout, so the LAST line
    // must be a short self-contained summary it can parse whole. The
    // full per-query maps (145+ entries, ~10 KB) go on an earlier line
    // for humans and logs; the summary's "queries" carries just the 10
    // slowest by min-of-passes — the entries a regression hunt reads
    // first — and stays well under the tail window.
    val detail = s"""{"metric":"total_detail","value":$total,"unit":"sec","queries":${qjson(results)},"queries_p1":${qjson(p1)},"queries_p2":${qjson(p2)},"queries_p3":${qjson(p3)},"errors":$errJson,"sf":"$sfDir"}"""
    println(detail)
    // The stdout copy of the detail line routinely falls off the
    // driver's ~2 KB stdout tail (r13 kept ~62 of ~75 entries);
    // cross-round per-query comparison needs the WHOLE map durably,
    // so the detail ships as its own artifact file alongside the
    // summary.
    java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath,
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // SPARK_GRAFT_ROUND=N also commits the detail as
    // BENCH_DETAIL_rNN.json next to the round's BENCH_rNN.json, so
    // per-query comparisons across rounds need no stdout tail. Only
    // the full bench set is committed: a SPARK_GRAFT_BENCH_ONLY subset
    // can't masquerade as the round's numbers.
    round.filter(_ => only.isEmpty).foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(f"BENCH_DETAIL_r$r%02d.json"),
        (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val slowest = results.toSeq.sortBy(-_._2).take(10).toMap
    val summary = s"""{"metric":"total","value":$total,"unit":"sec","method":"min-of-2+adaptive-3rd-warmed","pass_totals":$passTotals,"errors":$errJson,"queries":${qjson(slowest)},"sf":"$sfDir"}"""
    println(summary)
    // The stdout copy rides inside sbt's log framing, whose
    // `[success] Total time` epilogue has defeated the driver's
    // last-line parse for ten rounds. A fixed artifact file carries
    // the same JSON with no framing at all; written before
    // spark.stop() so a slow shutdown can't truncate it.
    val out = summaryPath
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      (summary + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
