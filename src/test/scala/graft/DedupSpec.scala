package graft

import graft.operators.{Dedup, Similarity}
import graft.functions.Vectors
import org.apache.spark.sql.functions._

/** Semantics tests for the dedup + similarity operators against a
  * tiny controlled corpus written as parquet (the operators read
  * `<dir>/documents.parquet` / `<dir>/embeddings.parquet` like the
  * driver tables).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Corpus: doc 0 == doc 3 exactly; doc 1 is a near-dup of doc 0
    * (one word changed out of 12); doc 2 is unrelated. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    Seq(
      (0L, base, "en", "src0", base.length.toLong),
      (1L, base.replace("epsilon", "omega"), "en", "src0", base.length.toLong),
      (2L, "one two three four five six seven eight nine ten eleven twelve", "en", "src1", 62L),
      (3L, base, "en", "src2", base.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    // vectors: 0 and 1 nearly parallel, 2 orthogonal-ish, 3 == 0
    def vec(seed: Int): Seq[Float] =
      (0 until 64).map(i => (((seed * 31 + i) * 2654435761L % 1999) - 999) / 999.0f)
    val v0 = vec(1)
    val v1 = v0.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x }
    Seq(
      (0L, v0, 0), (1L, v1, 0), (2L, vec(7), 1), (3L, v0, 2))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("exact dedup groups identical texts under the min doc_id") {
    val rows = Dedup.exactDedup(spark, dir)
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().toSeq
    assert(rows == Seq((0L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("minhash LSH finds the near-dup and exact pairs, not the unrelated doc") {
    val pairs = Dedup.minhashLsh(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // identical
    assert(!pairs.exists { case (a, b) => a == 2L || b == 2L })
    val jac = Dedup.minhashLsh(spark, dir)
      .filter($"doc_a" === 0 && $"doc_b" === 3)
      .select("jaccard").as[Double].collect()
    assert(jac.sameElements(Array(1.0)))
  }

  test("char-ngram jaccard flags identical pair with jaccard 1.0") {
    val rows = Dedup.ngramJaccard(spark, dir)
      .filter($"doc_a" === 0 && $"doc_b" === 3)
      .select("jaccard").as[Double].collect()
    assert(rows.sameElements(Array(1.0)))
  }

  test("simhash: identical docs get identical fingerprints; pairs hamming 0") {
    val fp = Dedup.simhash(spark, dir).as[(Long, Long)].collect().toMap
    assert(fp(0L) == fp(3L))
    assert(fp.values.forall(v => v >= 0 && v < (1L << graft.plans.SimHash48Util.Bits)))
    val pairs = Dedup.simhashPairs(spark, dir)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Long)].collect()
    assert(pairs.exists { case (a, b, h) => a == 0L && b == 3L && h == 0L })
  }

  test("embedding near-dup: exact baseline finds (0,1) and (0,3); LSH ⊆ exact") {
    val exact = Dedup.embeddingExact(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(exact.contains((0L, 1L)) && exact.contains((0L, 3L)) && exact.contains((1L, 3L)))
    assert(!exact.exists { case (a, b) => a == 2L || b == 2L })
    val lsh = Dedup.embeddingLsh(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((0L, 3L))) // identical vectors always share buckets
  }

  test("embedding recall accounts exactly: hits = |LSH| pairs, recall = hits/|exact|") {
    val nExact = Dedup.embeddingExact(spark, dir).count()
    val nLsh = Dedup.embeddingLsh(spark, dir).count()
    val Array((n, hits, recall)) = Dedup.embeddingRecall(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(n == nExact)
    // LSH candidates verify with the same exact cosine ⇒ LSH ⊆ exact,
    // so the measured hit count must equal the LSH pair count
    assert(hits == nLsh)
    assert(recall == hits.toDouble / n && recall > 0.0 && recall <= 1.0)
  }

  test("fuzzy-name blocking finds exactly the all-pairs edit-distance result") {
    import org.apache.spark.sql.functions._
    val blocked = Dedup.fuzzyNames(spark, sf)
      .as[(Long, Long)].collect().toMap
    // exact all-pairs ground truth, computed independently in Spark:
    // FastSS deletion-neighborhood candidates must have 100% recall
    // for distance <= 1 (the pigeonhole guarantee), and verification
    // makes precision exact — so the maps must be equal, not similar
    val n = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val exact = n.toDF("a", "name_a").crossJoin(n.toDF("b", "name_b"))
      .filter(col("a") < col("b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
    val counts = exact.select(col("a").as("k"))
      .union(exact.select(col("b").as("k")))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(blocked.filter(_._2 > 0L) == counts)
    assert(blocked.size == n.count())
  }

  test("distance-2 fuzzy blocking equals the all-pairs result too") {
    import org.apache.spark.sql.functions._
    val blocked = Dedup.fuzzyNames2(spark, sf)
      .as[(Long, Long)].collect().toMap
    val n = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val exact = n.toDF("a", "name_a").crossJoin(n.toDF("b", "name_b"))
      .filter(col("a") < col("b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= 2)
    val counts = exact.select(col("a").as("k"))
      .union(exact.select(col("b").as("k")))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .as[(Long, Long)].collect().toMap
    assert(blocked.filter(_._2 > 0L) == counts)
  }

  test("affix strip: same candidate set, far smaller deletion index") {
    import org.apache.spark.sql.functions._
    val nh: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      graft.plans.TextHashes.deletionHashes2
    val names = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"))
    val stripped = Dedup.fuzzyCandidates(names, nh,
      Dedup.stripBoundsForTest(names, col("c_name")))
      .as[(Long, Long)].collect().toSet
    // unstripped baseline: identical join shape over full-name variants
    val v = names.repartition(col("c_custkey")).select(col("c_custkey"),
      explode(array_distinct(nh(col("c_name")))).as("h"))
    val unstripped = v.toDF("a", "h").join(v.toDF("b", "h"), "h")
      .filter(col("a") < col("b")).select("a", "b").distinct()
      .as[(Long, Long)].collect().toSet
    // The strip is a pure cost optimization on this corpus: candidate
    // PAIRS are identical (collisions live in the variable region
    // either way — measured ratio 1.0 at sf0.001/0.01/0.1), while the
    // exploded (id, hash) index shrinks ~12× (O(L²) variants per name
    // → O(core²); 2.58M → 210k rows at sf0.1) and the raw h-join
    // output 65M → 22.7M. Equality (not ⊆) doubles as a completeness
    // pin: ed(c·u, c·v) = ed(u, v) says stripping loses no pair.
    assert(stripped == unstripped)
    val nStripped = names.select(col("c_custkey"),
      explode(array_distinct(nh(Dedup.strippedCoreForTest(names, col("c_name"))))).as("h"))
      .count()
    val nFull = v.count()
    info(s"deletion-index rows: full=$nFull stripped=$nStripped " +
      f"(${nFull.toDouble / nStripped}%.1fx)")
    assert(nStripped * 5 <= nFull)
  }

  test("entity resolution: fuzzy clusters collapse, golden record by balance") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.goldenRecords(spark, sf)
      .as[(Long, Long, Long, Double)].collect().toSeq
    // independent ground truth: all-pairs D<=1 union-find + max-by
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey"))
      .as[(Long, String, Double, Int)].collect().toSeq
    val parent = scala.collection.mutable.Map(cust.map(c => c._1 -> c._1): _*)
    def find(x: Long): Long = { val p = parent(x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j => if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    for (Seq(x, y) <- cust.combinations(2) if x._4 == y._4 && lev(x._2, y._2) <= 1) {
      val (rx, ry) = (find(x._1), find(y._1))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    val expected = cust.groupBy(c => find(c._1)).toSeq.map { case (cid, ms) =>
      val g = ms.maxBy(m => (m._3, -m._1))
      (cid, ms.size.toLong, g._1, g._3)
    }.sortBy(_._1)
    assert(rows == expected)
    // the corpus must actually exercise merging (non-singleton clusters)
    assert(expected.exists(_._2 > 1))
  }

  test("triangle counts match the brute-force triple enumeration") {
    import org.apache.spark.sql.functions._
    val rows = Dedup.triangles(spark, sf)
      .as[(Int, Long)].collect().toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .as[(Long, String, Int)].collect().toSeq
    def lev1(a: String, b: String): Boolean = {
      // distance ≤ 1 check: equal, one sub (equal length), or one indel
      if (a == b) true
      else if (a.length == b.length) a.zip(b).count { case (x, y) => x != y } == 1
      else {
        val (s, l) = if (a.length < b.length) (a, b) else (b, a)
        if (l.length - s.length != 1) false
        else {
          var i = 0
          while (i < s.length && s(i) == l(i)) i += 1
          s.substring(i) == l.substring(i + 1)
        }
      }
    }
    val adj = cust.map(c =>
      c._1 -> cust.filter(o => o._1 > c._1 && o._3 == c._3 && lev1(c._2, o._2))
        .map(_._1).toSet).toMap
    val expected = scala.collection.mutable.Map[Int, Long]()
    for (x <- cust; y <- adj(x._1); z <- adj(x._1) if z > y && adj(y)(z))
      expected(x._3) = expected.getOrElse(x._3, 0L) + 1L
    assert(rows == expected.toMap)
    assert(rows.values.sum > 0) // the corpus actually has triangles
  }

  test("3-core matches the brute-force peel and converges within the round budget") {
    import org.apache.spark.sql.functions._
    // sf0.01, not the usual sf0.001: the tiny graph's 3-core is EMPTY
    // (every vertex peels away), which would pass vacuously
    val sf01 = "/root/testdata/sf0.01"
    val rows = Dedup.kcore(spark, sf01)
      .as[(Int, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val cust = spark.read.parquet(s"$sf01/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .as[(Long, String, Int)].collect().toSeq
    def lev1(a: String, b: String): Boolean =
      if (a == b) true
      else if (a.length == b.length) a.zip(b).count { case (x, y) => x != y } == 1
      else {
        val (s, l) = if (a.length < b.length) (a, b) else (b, a)
        if (l.length - s.length != 1) false
        else {
          var i = 0
          while (i < s.length && s(i) == l(i)) i += 1
          s.substring(i) == l.substring(i + 1)
        }
      }
    val nationOf = cust.map(c => c._1 -> c._3).toMap
    var edges = (for {
      a <- cust; b <- cust
      if a._1 < b._1 && a._3 == b._3 && lev1(a._2, b._2)
    } yield (a._1, b._1)).toSet
    // local peel to fixpoint, counting rounds that removed something
    var peels = 0
    var changed = true
    while (changed) {
      val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
        .groupBy(identity).map { case (v, vs) => v -> vs.size }
      val next = edges.filter(e => deg(e._1) >= 3 && deg(e._2) >= 3)
      changed = next != edges
      if (changed) peels += 1
      edges = next
    }
    // the oracle's fixed unroll must cover the peel depth PLUS the
    // engine's fixpoint-proving no-op round, else the replayed state
    // is a prefix of the peeling, not the core
    assert(peels + 1 <= Dedup.KcoreRounds,
      s"peel depth $peels outgrew the KcoreRounds=${Dedup.KcoreRounds} budget")
    val expected = edges.groupBy(e => nationOf(e._1)).map { case (n, es) =>
      n -> ((es.flatMap(e => Seq(e._1, e._2)).size.toLong, es.size.toLong))
    }
    assert(rows == expected)
    assert(rows.nonEmpty) // the corpus actually has a 3-core
  }

  test("duplicate clusters: pairs collapse transitively, label = min member") {
    val pairs = Dedup.minhashLsh(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    assert(pairs.nonEmpty)
    val clusters = Dedup.dupClusters(spark, dir)
      .select("doc_id", "cluster_id", "cluster_size")
      .as[(Long, Long, Long)].collect().toSeq
    val label = clusters.map(c => c._1 -> c._2).toMap
    // every verified pair ends up in one cluster
    pairs.foreach { case (a, b) => assert(label(a) === label(b)) }
    // the label is the minimum member id, and sizes count the members
    clusters.groupBy(_._2).foreach { case (lbl, members) =>
      assert(members.map(_._1).min === lbl)
      members.foreach(m => assert(m._3 === members.size.toLong))
    }
  }

  test("one-pass symmetric edges equal the two-copy union as a multiset") {
    // a duplicate pair, a pair given in both orientations, a self-loop
    val pairs = Seq((1L, 2L), (1L, 2L), (3L, 4L), (4L, 3L), (5L, 5L)).toDF("a", "b")
    val p2 = pairs.toDF("src", "dst")
    val union = p2.union(p2.select(col("dst"), col("src")))
    val edges = Dedup.symmetricEdges(pairs)
    assert(edges.columns.toSeq == Seq("src", "dst"))
    def multiset(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long)].collect().toSeq.sorted
    assert(multiset(edges) == multiset(union))
  }

  test("connected components converge in O(log d) rounds on a long chain") {
    // planted path 0–1–2–…–40 (diameter 40) plus a disjoint triangle:
    // plain min-label propagation needs ~diameter rounds; the
    // pointer-doubling shortcut (engaged from round 3) roughly
    // doubles the collapsed distance per round — deficits run
    // 2, 3, 6, 12, 24, 48 → fixpoint at round 6, +1 detection = 7 —
    // assert well under the linear count. Round 1 runs one step and
    // later rounds two, so the loop stops after 5 materialized
    // rounds; the edge multiset alone decides that count, so it is
    // pinned against edge-construction changes.
    val chain = (0L until 40L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (chain ++ tri).toDF("a", "b")
    val (labels, rounds) = Dedup.connectedComponents(pairs)
    val lbl = labels.as[(Long, Long)].collect().toMap
    (0L to 40L).foreach(v => assert(lbl(v) === 0L))
    Seq(100L, 101L, 102L).foreach(v => assert(lbl(v) === 100L))
    assert(rounds <= 8, s"expected O(log 40) rounds, got $rounds")
    assert(rounds == 5, s"planted chain converged in $rounds rounds, expected 5")
    Core.releaseCaches()
  }

  test("brute-force topk ranks the identical vector first for query 0") {
    val rows = Similarity.topkBrute(spark, dir)
      .filter($"q_id" === 0).select("vec_id", "rn").as[(Long, Int)].collect().toSeq
    assert(rows.head == ((3L, 1))) // cosine(v0, v0) = 1 tops the list
  }

  test("LSH topk scores match brute-force on shared results") {
    val brute = Similarity.topkBrute(spark, dir)
      .select("q_id", "vec_id", "score").as[(Long, Long, Double)].collect()
      .map { case (q, v, s) => (q, v) -> s }.toMap
    val lsh = Similarity.topkLsh(spark, dir)
      .select("q_id", "vec_id", "score").as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (q, v, s) => assert(brute.get((q, v)).forall(_ == s)) }
  }

  test("asymmetric containment recovers every planted quote at 1.0") {
    // every 10th doc with >= 60 tokens plants a verbatim 31-token
    // quote (id + 1e6); the prefix-filter candidates are pigeonhole-
    // exact, so each plant MUST surface against its source with
    // containment exactly 1.0 (its shingles are a strict subset)
    val rows = Dedup.containmentAsym(spark, sf)
      .select("contained_id", "container_id", "containment")
      .as[(Long, Long, Double)].collect()
    val planted = rows.filter(_._1 >= 1000000L)
    assert(planted.nonEmpty)
    // each planted quote finds its own source doc at containment 1.0
    val bySource = planted.filter { case (q, c, _) => q - 1000000L == c }
    assert(bySource.map(_._1).distinct.length == bySource.length)
    bySource.foreach { case (_, _, ct) => assert(ct == 1.0) }
    // and the source pairing is present for every plantable doc
    val expected = spark.read.parquet(s"$sf/documents.parquet")
      .where("doc_id % 10 = 0")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .filter(_._2.trim.split("\\s+").length >= 60).map(_._1).toSet
    assert(bySource.map(_._2).toSet == expected)
  }

  test("Lloyd's rounds monotonically reduce k-means inertia") {
    // the invariant that proves the loop OPTIMIZES (each assignment
    // picks nearer centroids; each update is the within-cluster
    // mean): total inertia is non-increasing in the round count.
    // Quantization (1e-7 grid) can't flip it at this data scale.
    def inertia(rounds: Int): Double = {
      val v = Similarity.kmeansRounds(spark, sf, rounds)
        .agg(org.apache.spark.sql.functions.sum("inertia")).as[Double].head()
      Core.releaseCaches()
      v
    }
    val i1 = inertia(1)
    val i2 = inertia(2)
    val i3 = inertia(3)
    assert(i1 > 0.0)
    assert(i2 <= i1, s"round 2 raised inertia: $i1 -> $i2")
    assert(i3 <= i2, s"round 3 raised inertia: $i2 -> $i3")
  }

  test("jw block width steps with the corpus decade and caps expected block size") {
    // the smallest w with n ≤ 16000·10^(w−1): expected block
    // n/(25·10^w) ≤ 64 whenever the width is not at its cap
    assert(Dedup.jwBlockWidth(500) == 1)
    assert(Dedup.jwBlockWidth(16000) == 1)
    assert(Dedup.jwBlockWidth(16001) == 2)
    assert(Dedup.jwBlockWidth(160000) == 2)
    assert(Dedup.jwBlockWidth(5000000) == 4)
    assert(Dedup.jwBlockWidth(Long.MaxValue) == 8)
    for (n <- Seq(1L, 999L, 20000L, 123456789L, 16000000000L)) {
      val w = Dedup.jwBlockWidth(n)
      assert(w >= 1 && w <= 8)
      if (w < 8)
        assert(n <= 64L * 25 * math.pow(10, w).toLong,
          s"n=$n w=$w violates the expected-block cap")
      if (w > 1) // one decade narrower would blow the cap — width is minimal
        assert(n > 16000L * math.pow(10, w - 2).toLong)
    }
  }

  test("jw block accounting: candidates stay O(N·max_block), widths agree") {
    val sf001 = "/root/testdata/sf0.001"
    val stats = Dedup.jwBlockStats(spark, sf001).collect()
    assert(stats.nonEmpty)
    val n = spark.read.parquet(s"$sf001/customer.parquet").count()
    val maxBlock = stats.map(_.getAs[Long]("block_size")).max
    val totalCand = stats.map(_.getAs[Long]("n_candidate_pairs")).sum
    val width = stats.map(_.getAs[Int]("blk_width")).distinct
    assert(width.sameElements(Array(Dedup.jwBlockWidth(n))))
    // the within-block quadratic mass is bounded by N·max_block —
    // the histogram makes the declared granularity promise checkable
    assert(totalCand <= n * maxBlock,
      s"candidates $totalCand exceed N·maxblock = ${n * maxBlock}")
    // histogram masses cover the whole keyed corpus
    assert(stats.map(r => r.getAs[Long]("block_size") * r.getAs[Long]("n_blocks")).sum == n)
  }

  test("multi-pass sorted neighborhood: reversed-core pass only adds recall") {
    val row = Dedup.erSnMultipass(spark, sf).collect().head
    val r1 = row.getAs[Double]("recall_pass1")
    val rc = row.getAs[Double]("recall_combined")
    val nc = row.getAs[Long]("n_combined")
    assert(rc >= r1, s"combined $rc below single-pass $r1")
    assert(rc <= 1.0 + 1e-12)
    // union is a real union: no bigger than the passes' sum, no
    // smaller than the larger pass
    assert(nc <= row.getAs[Long]("n_pass1") + row.getAs[Long]("n_pass2"))
    assert(nc >= math.max(row.getAs[Long]("n_pass1"), row.getAs[Long]("n_pass2")))
  }

  test("bfs landmark distances match a driver-side BFS within the round budget") {
    val sf001 = "/root/testdata/sf0.001"
    val rows = Dedup.bfsLevels(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // ground-truth edges straight from the match definition
    val cust = spark.read.parquet(s"$sf001/customer.parquet")
      .select($"c_custkey", $"c_name", $"c_nationkey")
    val edges = cust.toDF("a", "na", "nata")
      .crossJoin(cust.toDF("b", "nb", "natb"))
      .filter($"a" < $"b" && $"nata" === $"natb" &&
        levenshtein($"na", $"nb") <= 1)
      .select($"a".as[Long], $"b".as[Long]).collect()
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).toSet }
    val verts = adj.keySet
    var dist = verts.filter(_ % 100 == 0).map(_ -> 0L).toMap
    for (r <- 1 to 4) {
      val frontier = dist.collect { case (v, dd) if dd == r - 1 => v }
      val next = frontier.flatMap(adj(_)).toSet -- dist.keySet
      dist = dist ++ next.map(_ -> r.toLong)
    }
    val expect = verts.groupBy(v => dist.getOrElse(v, -1L))
      .map { case (dd, vs) => (dd, vs.size.toLong, vs.sum) }
      .toSeq.sortBy(_._1)
    assert(rows.toSeq == expect, s"got ${rows.toSeq} expected $expect")
  }

  test("label propagation matches a driver-side synchronous LPA") {
    val sf001 = "/root/testdata/sf0.001"
    val rows = Dedup.labelProp(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val cust = spark.read.parquet(s"$sf001/customer.parquet")
      .select($"c_custkey", $"c_name", $"c_nationkey")
    val edges = cust.toDF("a", "na", "nata")
      .crossJoin(cust.toDF("b", "nb", "natb"))
      .filter($"a" < $"b" && $"nata" === $"natb" &&
        levenshtein($"na", $"nb") <= 1)
      .select($"a".as[Long], $"b".as[Long]).collect()
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2) }
    val verts = adj.keySet
    var lbl = verts.map(v => v -> v).toMap
    for (_ <- 1 to 3) {
      val prev = lbl
      // synchronous mode update, (count desc, label asc) tiebreak
      lbl = verts.map { v =>
        val counts = adj(v).map(prev).groupBy(identity)
          .map { case (l, g) => (l, g.length) }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    val expect = lbl.groupBy(_._2).values.map(_.keys)
      .groupBy(_.size)
      .map { case (sz, comms) =>
        (sz.toLong, comms.size.toLong, comms.flatten.sum) }
      .toSeq.sortBy(_._1)
    assert(rows.toSeq == expect, s"got ${rows.toSeq} expected $expect")
  }

  test("triplet mining picks same-label positive and hardest different-label negatives") {
    val sf001 = "/root/testdata/sf0.001"
    val rows = Similarity.tripletMining(spark, sf001).collect()
    assert(rows.length % 3 == 0 && rows.nonEmpty)
    val labels = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.foreach { r =>
      val q = r.getAs[Long]("q_id")
      assert(labels(r.getAs[Long]("pos_id")) == labels(q), s"anchor $q positive label")
      assert(labels(r.getAs[Long]("neg_id")) != labels(q), s"anchor $q negative label")
      assert(math.abs(r.getAs[Double]("pos_score") - r.getAs[Double]("neg_score") -
        r.getAs[Double]("margin")) < 1e-12)
    }
    // negatives rank hardest-first within each anchor
    rows.groupBy(_.getAs[Long]("q_id")).foreach { case (_, g) =>
      val byRank = g.sortBy(_.getAs[Int]("neg_rank")).map(_.getAs[Double]("neg_score"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    }
  }

  test("cluster confidence: connected clusters, exact micro-sims, min below mean") {
    val rows = Dedup.erClusterConfidence(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val size = r.getAs[Long]("size")
      val edges = r.getAs[Long]("n_edges")
      assert(size >= 2, s"$r") // labels exist only for paired vertices
      assert(edges >= size - 1, s"$r") // connected ⇒ at least a spanning tree
      val minS = r.getAs[Long]("min_sim_micro")
      val meanS = r.getAs[Double]("mean_sim_micro")
      assert(minS <= meanS + 1e-9, s"$r")
      // radius-1 same-nation edges: JW of 1-edit names stays high
      assert(minS >= 500000L && minS <= 1000000L, s"$r")
    }
    Core.releaseCaches()
  }

  test("hyperplane buckets are deterministic and within range") {
    val nb = 1L << Vectors.BitsPerTable
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("embd", Vectors.toD(col("embedding")))
    val buckets = e.select(posexplode(Vectors.lshBuckets(col("embd"))))
      .select($"pos", $"col").as[(Int, Long)].collect()
    assert(buckets.forall { case (t, b) =>
      t >= 0 && t < Vectors.Tables && b >= 0 && b < nb })
    val again = e.select(posexplode(Vectors.lshBuckets(col("embd"))))
      .select($"pos", $"col").as[(Int, Long)].collect()
    assert(buckets.sameElements(again))
  }
}
