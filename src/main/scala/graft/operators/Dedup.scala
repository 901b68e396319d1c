package graft.operators

import graft.{Q, Tables}
import graft.Core._
import graft.functions.Vectors
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for an LLM training-data pipeline (north
  * star): exact dedup, MinHash-LSH near-dup over word shingles,
  * character-n-gram Jaccard near-dup, SimHash fingerprints + banded
  * hamming pairs, and embedding-cosine near-dup via hyperplane LSH.
  *
  * Scale posture (the whole point of each design):
  *  - NOTHING here is all-pairs in the registered scale path. Every
  *    near-dup operator generates candidates with a *bucket
  *    equi-join* (LSH band / simhash chunk / hyperplane bucket) —
  *    a plain shuffle join on a small key — then verifies only the
  *    candidates. The one all-pairs query (`dedup_embedding_exact`)
  *    exists as the oracle-parity baseline and is excluded from the
  *    benchmark set (`headline = false`).
  *  - Signatures (minhash arrays, simhash bits, LSH buckets) are
  *    computed per-row with higher-order array expressions at scan
  *    time — map-side, no UDFs, no shuffle until the candidate join.
  *  - Exact dedup groups by `md5(text)` so the shuffle key is 32
  *    bytes, not the document body.
  *
  * Determinism: all hashing is integer arithmetic ([[graft.Core.polyHash]]
  * mod 1e9+7) reproduced verbatim in the DuckDB oracle; Jaccard /
  * cosine are fixed-shape IEEE ops — bit-identical across engines.
  *
  * Recall guarantees, documented per operator:
  *  - MinHash bands: probabilistic (P[miss] = (1-j^b)^bands — 4.8e-6
  *    at j=0.8 with 12 bands of 2, ~1e-9 at j≈0.9; multipliers must
  *    be large/decorrelated — see [[SeedPowers]]); the oracle is the
  *    exact ground-truth pair set, so a green CORRECTNESS row
  *    *measures* perfect recall on the test corpus.
  *  - SimHash pairs: EXACT by pigeonhole — 3 bands of 16 bits catch
  *    every pair with hamming distance ≤ 2 deterministically.
  *  - Hyperplane LSH: approximate by definition (the algorithm is
  *    the spec); its oracle replicates the same buckets.
  */
object Dedup {

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def embs(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  /** |A ∩ B| / |A ∪ B| of two (distinct-element) arrays, as double —
    * native single-pass [[graft.plans.JaccardLong]] (the interpreted
    * `array_intersect` spelling re-ran the intersection for the join
    * condition and every projection reference). */
  private[graft] def jaccard(a: Column, b: Column): Column =
    graft.plans.TextHashes.jaccardLong(a, b)

  /** Shingle sets are HASH sets (each shingle → 64-bit polyhash mod
    * 1e9+7) rather than string sets: Jaccard over hashed shingles is
    * the standard large-scale formulation (a fingerprint set is ~8
    * bytes/shingle instead of the raw n-gram), the candidate-verify
    * join then intersects long arrays instead of strings, and the
    * oracle applies the identical hash so the metric is bit-equal.
    * Hash collisions (≪1e-9 per pair here) merge shingles on BOTH
    * sides identically. */
  private[operators] val ShingleMix = 8191L

  // -------------------------------------------------------------------
  // Exact dedup
  // -------------------------------------------------------------------

  /** Exact duplicate groups keyed by md5(text): canonical (minimum)
    * doc_id and copy count per distinct content. At 100 TB the
    * shuffle carries only (hash, id) pairs. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .groupBy(md5(col("text").cast("binary")).as("content_md5"))
      .agg(min("doc_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .select("content_md5", "canonical_id", "n_copies")
      .orderBy("canonical_id")

  /** Unicode-robust dedup keys: byte-level hashing splits logically
    * identical texts spelled with precomposed (U+00E9) vs decomposed
    * (e + combining U+0301) sequences — scraped corpora mix both, and
    * every tokenizer pipeline NFC-normalizes before hashing for
    * exactly this reason — the same page fetched through two pipelines
    * that encode differently must collapse to one key. The driver
    * corpus is ASCII with no cross-encoding twins, so the query
    * MODELS the two-pipeline ingest: each document emits BOTH
    * spellings of a "café"-suffixed text — byte-distinct,
    * NFC-identical, both engines construct them identically. The
    * per-source gap between raw keys (2 per doc) and NFC keys (1 per
    * doc) is the measured value of normalizing, and the char sums
    * show composition shortening the decomposed rows.
    *
    * Normalization runs in the codegen'd [[graft.plans.NfcNormalize]]
    * expression (named after DuckDB's identical built-in, UAX #15 on
    * both sides); `isNormalized` fast-paths already-NFC rows, so at
    * 100 TB the overwhelmingly-ASCII common row pays one scan and
    * zero copies. The shuffle carries only (source) — per-doc keys
    * collapse in the partial aggregate. */
  def unicodeNfcDedup(s: SparkSession, d: String): DataFrame = {
    val two = array(
      concat(col("text"), lit(" caf\u00e9")),  // precomposed
      concat(col("text"), lit(" cafe\u0301"))) // e + combining acute
    docs(s, d)
      .select(col("source"), explode(two).as("t"))
      .groupBy("source").agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("t")).as("n_raw_keys"),
        countDistinct(graft.plans.TextHashes.nfcNormalize(col("t")))
          .as("n_nfc_keys"),
        sum(length(col("t"))).as("chars_raw"),
        sum(length(graft.plans.TextHashes.nfcNormalize(col("t"))))
          .as("chars_nfc"))
      .orderBy("source")
  }

  /** Incremental (batch-vs-corpus) dedup: the nightly-ingest shape —
    * an existing corpus (here `source = 'src0'`) is already deduped;
    * a new batch (every other source) must admit only content that is
    * (a) novel within the batch and (b) absent from the corpus.
    *
    * Two hash-only steps: collapse the batch to one canonical row per
    * distinct content (groupBy md5, min doc_id — the same idiom as
    * [[exactDedup]]), then LEFT ANTI join against the corpus's hash
    * set. At 100 TB both shuffles carry 32-byte keys, never document
    * bodies, and the anti join's build side is just the corpus hash
    * column — the scan of `text` never crosses the exchange. Output
    * is the per-source admission accounting an ingest job reports. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val h = md5(col("text").cast("binary"))
    val corpusHashes = docs(s, d)
      .filter(col("source") === "src0")
      .select(h.as("h")).distinct()
    val batchCanonical = docs(s, d)
      .filter(col("source") =!= "src0")
      .groupBy(h.as("h"))
      .agg(min("doc_id").as("doc_id"), min("source").as("source"),
        min("n_chars").as("n_chars"))
    batchCanonical
      .join(corpusHashes, Seq("h"), "left_anti")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_admitted"),
        sum("n_chars").as("admitted_chars"))
      .orderBy("source")
  }

  /** Bloom-GATED incremental dedup — the 100 TB refinement of
    * [[incrementalDedup]]. The plain incremental path anti-joins the
    * ENTIRE new batch against the corpus hash set; at corpus scale
    * that shuffle is the whole job. A Bloom filter over the corpus
    * hashes ([[graft.plans.BloomAgg]], merge = bitwise OR, m/8 bytes
    * broadcast once) has NO FALSE NEGATIVES, so a "no" admits the row
    * map-side with no join at all — only the `maybe` subset (true
    * dups + the deterministic false-positive residue) reaches the
    * verify semi-join. Admission decisions are EXACT: the bloom only
    * routes, the join confirms.
    *
    * m = 256 bits / k = 2 is sized deliberately small so the
    * false-positive path is actually exercised and REPORTED
    * (`n_false_pos` > 0 at sf0.01) — with fixed hash seeds the FPs
    * are deterministic and the oracle replays the bitset bit-for-bit.
    * Production sizing is m ≈ 1.44·n·log2(1/p); the plan shape is
    * identical. Hash = [[graft.Core.polyHash]] of the normalized text
    * (lower + alnum, the `text_fingerprint` parity scheme).
    *
    * The corpus/batch split (doc_id % 3 vs % 2) OVERLAPS by
    * construction — the re-crawl scenario where a sixth of tonight's
    * batch was already ingested — so both routing outcomes are
    * exercised and accounted: true dups confirmed by the semi-join,
    * false positives surviving it. */
  def bloomIncremental(s: SparkSession, d: String): DataFrame = {
    val (m, k) = (256, 2)
    val h = polyHash(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
    // cached (r18): corpusH feeds the filter build AND the verify
    // semi-join; flagged feeds the dup confirmation AND the batch
    // accounting. Uncached, plan specialization re-ran the documents
    // scan + normalize + polyHash once per consumer (the plan showed
    // FIVE documents.parquet scans); both frames are hash-column
    // projections, orders of magnitude smaller than the corpus — the
    // same pin [[bloomFprCurve]] already carries.
    val corpusH = cached(docs(s, d).filter(col("doc_id") % 3 === 0)
      .select(h.as("h")).distinct())
    val bf = corpusH.agg(graft.plans.Sketches.bloomAgg(col("h"), m, k).as("bf"))
    val flagged = cached(docs(s, d).filter(col("doc_id") % 2 === 0)
      .groupBy(h.as("h"))
      .agg(min("doc_id").as("doc_id"), min("source").as("source"))
      .crossJoin(broadcast(bf))
      .withColumn("maybe",
        graft.plans.Sketches.bloomMightContain(col("bf"), col("h"), m, k)))
    val confirmed = flagged.filter(col("maybe"))
      .join(corpusH, Seq("h"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("n_dup"))
    flagged.groupBy("source")
      .agg(
        count(lit(1)).as("n_batch"),
        sum(when(col("maybe"), lit(1L)).otherwise(lit(0L))).as("n_bloom_maybe"))
      .join(confirmed, Seq("source"), "left")
      .select(col("source"), col("n_batch"), col("n_bloom_maybe"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        (col("n_batch") - coalesce(col("n_dup"), lit(0L))).as("n_admitted"),
        (col("n_bloom_maybe") - coalesce(col("n_dup"), lit(0L))).as("n_false_pos"))
      .orderBy("source")
  }

  /** Widths swept by [[bloomFprCurve]] — spanning under- to
    * well-sized for the test corpus so the curve actually bends. */
  private val BloomFprWidths = Seq(128, 512, 2048)

  /** Bloom SIZING curve — the calibration report that turns
    * [[bloomIncremental]]'s "production sizing is m ≈ 1.44·n·log2(1/p)"
    * comment into MEASURED numbers: per candidate width, the filter's
    * fill ratio and its false-positive rate against a disjoint probe
    * set (batch hashes verified NOT in the corpus, so every `maybe`
    * is a false positive by construction). With fixed hash seeds the
    * bitset is deterministic, so both the fill and the FPR replay
    * bit-for-bit in the oracle — the curve is data, not theory.
    *
    * Scale: per width one |corpus|-hash aggregate (the m/8-byte
    * filter), one k·|corpus|-row distinct-position count, and one
    * broadcast probe pass; widths are independent branches a
    * scheduler runs concurrently. */
  def bloomFprCurve(s: SparkSession, d: String): DataFrame = {
    val k = 2
    val h = polyHash(regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
    val corpusH = cached(docs(s, d).filter(col("doc_id") % 3 === 0)
      .select(h.as("h")).distinct())
    val probes = cached(docs(s, d).filter(col("doc_id") % 2 === 0)
      .select(h.as("h")).distinct()
      .join(corpusH, Seq("h"), "left_anti"))
    val frames = BloomFprWidths.map { m =>
      val bf = corpusH.agg(
        graft.plans.Sketches.bloomAgg(col("h"), m, k).as("bf"))
      val bits = corpusH
        .select(explode(array((0 until k).map(i =>
          graft.plans.Sketches.cell(col("h"), i, m)): _*)).as("pos"))
        .agg(countDistinct(col("pos")).as("n_bits_set"))
      val fp = probes.crossJoin(broadcast(bf))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(graft.plans.Sketches.bloomMightContain(
            col("bf"), col("h"), m, k), 1L).otherwise(0L)).as("n_fp"))
      corpusH.agg(count(lit(1)).as("n_corpus"))
        .crossJoin(bits).crossJoin(fp)
        .select(lit(m).as("m_bits"), col("n_corpus"), col("n_bits_set"),
          (col("n_bits_set").cast("double") / lit(m.toDouble)).as("fill_ratio"),
          col("n_probes"), col("n_fp"),
          (col("n_fp").cast("double") / col("n_probes").cast("double"))
            .as("fpr"))
    }
    frames.reduce(_ unionAll _).orderBy("m_bits")
  }

  // -------------------------------------------------------------------
  // Word-shingle MinHash-LSH
  // -------------------------------------------------------------------

  private val P = HashMod
  /** MinHash permutation multipliers: successive powers of the Knuth
    * constant mod P — large, well-mixed, distinct (P prime). Small
    * sequential multipliers (3, 5, 7, …) are a RECALL TRAP: `a·h mod
    * P` with tiny `a` wraps P at most a few times, so every
    * "permutation" tends to share its argmin with plain `min(h)` —
    * the signatures collapse toward one test and band misses become
    * CORRELATED (observed: a J=0.909 pair missed at sf0.001, nominal
    * P[miss] 2.7e-5). Every `a·h + b` stays < P² + 64 < 2^63 — exact. */
  private val SeedPowers: Seq[Long] = {
    val g = 2654435761L % P
    Iterator.iterate(g)(a => a * g % P).take(48).toSeq
  }
  /** 24 permutations banded 12 × 2: P[miss] = (1-J²)^12 — 4.8e-6 at
    * the J=0.8 threshold, ~1e-9 at J=0.9. */
  private val A24 = SeedPowers.take(24)
  private val MinhashBands = 12

  /** doc_id + distinct word-3-shingle hash set (docs with ≥ 3
    * tokens). Each token is polyhashed ONCE; a shingle hash combines
    * the three token hashes — no per-shingle string building or
    * re-scanning, so shingling is O(tokens) not O(tokens × width). */
  private def wordShingled(s: SparkSession, d: String): DataFrame =
    wordSetsOf(docs(s, d))

  /** Word-shingle sets of any frame with (doc_id, text) — shared with
    * the end-to-end pipeline, which shingles only its gate/exact-dedup
    * survivors. */
  private[graft] def wordSetsOf(docFrame: DataFrame): DataFrame =
    docFrame
      .withColumn("t", TextAnalysis.tokens(col("text")))
      .filter(size(col("t")) >= 3)
      .withColumn("th", transform(col("t"), tk => polyHash(tk)))
      .withColumn("sh", array_distinct(
        transform(sequence(lit(1), size(col("th")) - 2), i =>
          ((element_at(col("th"), i) * ShingleMix + element_at(col("th"), i + 1)) % P
            * ShingleMix + element_at(col("th"), i + 2)) % P)))
      .select("doc_id", "sh")

  /** Verified J ≥ 0.8 pairs of an arbitrary shingle-set frame — the
    * [[minhashLsh]] machinery exposed for pipeline composition. */
  private[operators] def verifiedPairsOf(sets: DataFrame): DataFrame =
    minhashPairs(sets, A24, MinhashBands)

  /** (doc_id, band_idx, m1, m2) MinHash band rows of a documents
    * frame — the [[minhashLsh]] banding exposed (RAW minima, no
    * xxhash compaction, so a DuckDB oracle can recompute the exact
    * band keys) for the streaming ingest filter in
    * [[graft.streaming.Streams]]. */
  private[graft] def minhashBandRows(docFrame: DataFrame): DataFrame =
    rawBandRowsOf(wordSetsOf(docFrame))

  /** The raw-minima banding of an already-shingled (doc_id, sh)
    * frame — the ONE place the 12×2 band layout [[oBandSeedRows]]
    * mirrors is spelled (shared by the streaming ingest filter and
    * [[jaccardHistogram]]). */
  private def rawBandRowsOf(sets: DataFrame): DataFrame =
    sets
      .withColumn("mh", graft.plans.TextHashes.minhashSigs(col("sh"), typedlit(A24)))
      .select(col("doc_id"), explode(array((0 until MinhashBands).map { b =>
        struct(lit(b).as("band_idx"),
          element_at(col("mh"), 2 * b + 1).as("m1"),
          element_at(col("mh"), 2 * b + 2).as("m2"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("e.band_idx"), col("e.m1"), col("e.m2"))

  /** Literal (band, seedA, offsetA, seedB, offsetB) rows for the
    * oracle's replay of [[minhashBandRows]]' 12×2 banding. */
  private[graft] def oBandSeedRows: String =
    (0 until MinhashBands).map { b =>
      s"(${b}, ${A24(2 * b)}, ${2 * b + 1}, ${A24(2 * b + 1)}, ${2 * b + 2})"
    }.mkString(", ")

  /** Shared MinHash-LSH machinery: band the hash sets with the given
    * permutations (all minima in one codegen'd pass —
    * [[graft.plans.MinHashSigs]]), equi-join on any shared band, and
    * verify the distinct candidates with exact Jaccard over the
    * sets. Both near-dup operators are instances of this one
    * pipeline.
    *
    * Band rows carry the set SIZE (one long), so the candidate join
    * filters on the exact size-ratio bound BEFORE the distinct and
    * the array-carrying verify join: J(A,B) ≤ min/max of the sizes,
    * so J ≥ 0.8 requires 5·min ≥ 4·max (exact integers — the filter
    * is implied by the verify predicate, never lossy). At sf0.1 it
    * drops ~65% of candidates; the fraction GROWS with corpus
    * heterogeneity, exactly when the candidate set explodes. */
  private def bandCandidates(
      sets: org.apache.spark.sql.DataFrame,
      seeds: Seq[Long],
      nBands: Int,
      rowsPerBand: Int,
      jaccardSizeFilter: Boolean): org.apache.spark.sql.DataFrame = {
    require(seeds.length == nBands * rowsPerBand)
    val bands = sets
      .withColumn("n", size(col("sh")).cast("long"))
      .withColumn("mh",
        graft.plans.TextHashes.minhashSigs(col("sh"), typedlit(seeds)))
      .select(
        col("doc_id"), col("n"),
        // band value = xxhash64 of the band's minima: stays in 64
        // bits for any row count (the old m1·P + m2 packing overflows
        // past 2 rows); a hash collision can only ADD a candidate the
        // exact verify discards, never lose one
        explode(array((0 until nBands).map { j =>
          struct(
            lit(j).as("band_idx"),
            xxhash64((0 until rowsPerBand).map(r =>
              element_at(col("mh"), rowsPerBand * j + r + 1)): _*).as("band_val"))
        }: _*)).as("e"))
      .select(col("doc_id"), col("n"), col("e.band_idx"), col("e.band_val"))
    val joined = bands
      .select(col("doc_id").as("doc_a"), col("n").as("na"), col("band_idx"), col("band_val"))
      .join(
        bands.select(col("doc_id").as("doc_b"), col("n").as("nb"), col("band_idx"), col("band_val")),
        Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
    val filtered =
      if (jaccardSizeFilter)
        joined.filter(least(col("na"), col("nb")) * 5 >= greatest(col("na"), col("nb")) * 4)
      else joined
    filtered.select("doc_a", "doc_b").distinct()
  }

  /** Verified pairs in no particular order: the registered outputs
    * sort at the query boundary, while connected components and the
    * pipeline's victim anti-join never read the order, so they skip
    * the global range sort. */
  private def minhashPairs(
      sets: org.apache.spark.sql.DataFrame,
      seeds: Seq[Long],
      nBands: Int,
      rowsPerBand: Int = 2): org.apache.spark.sql.DataFrame =
    bandCandidates(sets, seeds, nBands, rowsPerBand, jaccardSizeFilter = true)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")

  /** Quote/containment detection: ordered near-dup pairs by SHINGLE
    * CONTAINMENT `|A∩B| / min(|A|,|B|) ≥ 0.9` — catches a document
    * substantially reproduced inside another even when symmetric
    * Jaccard is diluted by the container's extra content. Candidates
    * come from the same MinHash band join WITHOUT the Jaccard
    * size-ratio prefilter (containment pairs may be size-skewed);
    * the oracle is the exact all-pairs ground truth, so a green row
    * MEASURES band recall on this corpus. Honest limit, documented:
    * MinHash bands fire with probability driven by Jaccard, so a
    * tiny quote inside a huge container needs asymmetric banding —
    * at that regime, band the contained side's full signature
    * against container SUBSTRING signatures. */
  def containmentPairs(s: SparkSession, d: String): DataFrame = {
    val sets = cached(wordShingled(s, d))
    bandCandidates(sets, A24, MinhashBands, rowsPerBand = 2, jaccardSizeFilter = false)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("i", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("la", size(col("sh_a")).cast("long"))
      .withColumn("lb", size(col("sh_b")).cast("long"))
      .withColumn("containment", col("i").cast("double") / least(col("la"), col("lb")))
      .filter(col("containment") >= 0.9)
      .select(
        when(col("la") <= col("lb"), col("doc_a")).otherwise(col("doc_b")).as("contained_id"),
        when(col("la") <= col("lb"), col("doc_b")).otherwise(col("doc_a")).as("container_id"),
        col("containment"))
      .orderBy("contained_id", "container_id")
  }

  /** Asymmetric containment: the tiny-quote-in-huge-container regime
    * [[containmentPairs]] documents as its limit. MinHash bands fire
    * with probability driven by SYMMETRIC Jaccard, which a large
    * container dilutes toward 0 no matter how fully the quote is
    * reproduced — so the contained side needs its own candidate
    * scheme. Rather than probabilistic substring-window signatures,
    * this uses PREFIX FILTERING (the PPJoin-family bound), which is
    * pigeonhole-EXACT for the asymmetric measure: if
    * |A∩B| / |A| ≥ t, then fewer than ⌊(1−t)·|A|⌋ + 1 of A's
    * shingles are missing from B, so B must contain at least one of
    * A's ⌊(1−t)·|A|⌋ + 1 smallest shingles (any fixed total order
    * works; numeric order here). Candidates are therefore an
    * equi-join of each contained doc's tiny probe prefix against the
    * corpus-wide inverted shingle index — 100% recall by
    * construction, so the exact all-pairs oracle is a deterministic
    * match, not a recall measurement.
    *
    * Fixtures: the corpus' natural short docs (≤ [[AsymMaxTokens]]
    * tokens) PLUS planted quotes — every [[QuoteStride]]-th doc with
    * ≥ 60 tokens contributes its token span [11, 41] as a synthetic
    * contained doc (id + [[QuoteOffset]]) whose shingles are verbatim
    * a subset of its source's, so ground truth contains one known
    * containment = 1.0 pair per plant on both engines.
    *
    * Scale shape: probe side is |contained| × (⌊0.1·|A|⌋+1) rows —
    * tiny by the regime's own definition; index side is one explode
    * of corpus shingles (the same cardinality any inverted index
    * pays), shuffled once on the shingle value. Background hits are
    * rare-shingle collisions (the standard prefix-filter result), and
    * the exact intersect verify touches candidates only. */
  def containmentAsym(s: SparkSession, d: String): DataFrame = {
    val th = docs(s, d)
      .withColumn("t", TextAnalysis.tokens(col("text")))
      .filter(size(col("t")) >= 3)
      .withColumn("th", transform(col("t"), tk => polyHash(tk)))
      .select("doc_id", "th")
    val quotes = th
      .filter(pmod(col("doc_id"), lit(QuoteStride)) === 0 && size(col("th")) >= 60)
      .select((col("doc_id") + QuoteOffset).as("doc_id"), slice(col("th"), 11, 31).as("th"))
    def shOf(f: DataFrame): DataFrame = f
      .withColumn("sh", array_distinct(
        transform(sequence(lit(1), size(col("th")) - 2), i =>
          ((element_at(col("th"), i) * ShingleMix + element_at(col("th"), i + 1)) % P
            * ShingleMix + element_at(col("th"), i + 2)) % P)))
      .select("doc_id", "sh")
    val containers = cached(shOf(th))
    val contained = cached(shOf(
      th.filter(size(col("th")) <= AsymMaxTokens).unionByName(quotes)))
    val probes = contained
      .withColumn("pfx", slice(array_sort(col("sh")), lit(1),
        (floor(size(col("sh")).cast("double") * (1 - AsymT)) + 1).cast("int")))
      .select(col("doc_id").as("contained_id"), explode(col("pfx")).as("g"))
    val index = containers
      .select(col("doc_id").as("container_id"), explode(col("sh")).as("g"))
    val cand = probes.join(index, "g")
      .filter(col("contained_id") =!= col("container_id"))
      .select("contained_id", "container_id").distinct()
    cand
      .join(contained.select(col("doc_id").as("contained_id"), col("sh").as("sh_a")), "contained_id")
      .join(containers.select(col("doc_id").as("container_id"), col("sh").as("sh_b")), "container_id")
      .withColumn("containment",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
          / size(col("sh_a")).cast("double"))
      .filter(col("containment") >= AsymT)
      .select("contained_id", "container_id", "containment")
      .orderBy("contained_id", "container_id")
  }

  private val AsymT = 0.9
  private val AsymMaxTokens = 40
  private val QuoteStride = 10
  private val QuoteOffset = 1000000L

  /** Candidate pairs from an equi-join on any shared band, verified
    * with exact Jaccard >= 0.8 over the shingle sets. */
  def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashLshPairs(s, d).orderBy("doc_a", "doc_b")

  /** [[minhashLsh]] without the result sort, for the cluster consumers. */
  private[graft] def minhashLshPairs(s: SparkSession, d: String): DataFrame =
    // persist: the shingle-set projection feeds three plan branches
    // (banding + both sides of the verify join); at cluster scale the
    // analogue is materializing the signature table between stages
    minhashPairs(cached(wordShingled(s, d)), A24, MinhashBands)

  /** LSH threshold-tuning diagnostic: the exact-Jaccard DISTRIBUTION
    * of every band-collision candidate, bucketed into deciles — the
    * evidence a pipeline owner reads before moving the 0.8 dedup
    * threshold or re-deriving the band widths for a new corpus (the
    * sub-threshold buckets ARE the false-candidate rate the banding
    * pays; the near-1.0 buckets are what a stricter threshold would
    * keep). Same one-pass signatures and band equi-join as
    * [[minhashLsh]], minus the ≥ 0.8 cut; bands join on RAW minima
    * (the [[minhashBandRows]] convention) so the DuckDB oracle can
    * replay the exact candidate set. Output is |buckets| rows — the
    * diagnostic costs one extra verify pass over the candidates, not
    * a new plan family. */
  def jaccardHistogram(s: SparkSession, d: String): DataFrame = {
    val sets = cached(wordShingled(s, d))
    val bands = rawBandRowsOf(sets)
    val cand = bands
      .select(col("doc_id").as("doc_a"), col("band_idx"), col("m1"), col("m2"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("m1"), col("m2")),
        Seq("band_idx", "m1", "m2"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
      .groupBy(least(floor(col("j") * 10), lit(9L)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_pairs"), min("j").as("min_j"), max("j").as("max_j"))
      .orderBy("bucket")
  }

  // -------------------------------------------------------------------
  // Character-5-gram Jaccard (MinHash-LSH blocked)
  // -------------------------------------------------------------------

  /** 24 permutations banded 8 × 3, multipliers from the same
    * decorrelated power family as [[A24]] (disjoint slice; the small
    * sequential multipliers previously here had the correlated-miss
    * defect documented at [[SeedPowers]]). Char-5-gram hashes are
    * < 1.2e8, so every `a·h + b` < P·1.2e8 ≈ 1.2e17 — exact.
    *
    * WHY 3 ROWS PER BAND (vs the word-LSH 2): band width must be
    * tuned to the corpus's background similarity, not just the match
    * threshold. Char-5-grams over a small shared vocabulary give
    * unrelated documents J ≈ 0.08–0.23 (measured; word 3-shingles
    * give ≈ 0), and 2-row bands fire at rate J² — ~2% of ALL pairs
    * became candidates (344k at sf0.1), and the verify join, not the
    * band join, dominated cost. Cubing the background rate (J³)
    * drops candidates ~15× while true pairs (measured J ≥ 0.93 here;
    * miss = (1-J³)^8 ≈ 2e-6) stay caught. The general rule at 100 TB:
    * pick r with background^r · N² ≲ candidate budget, then b for
    * (1-J_thresh^r)^b ≤ miss budget. */
  private val A24Gram = SeedPowers.slice(24, 48)
  private val NgramBands = 8
  private val NgramRows = 3

  /** doc_id + distinct character-5-gram hash set over the canonical
    * (lowercased, alnum-only) byte stream, via the native codegen'd
    * [[graft.plans.CharGramHashes]] — one JVM loop per document
    * (31-base polynomial, 31^4..31^0 weights, max ≈ 1.2e8 so no
    * modulus; first-occurrence distinct order). Semantics equal the
    * interpreted `split("")`+`ascii`+`array_distinct(transform(...))`
    * spelling it replaced — the DuckDB oracle is unchanged and
    * [[graft.TextHashesSpec]] asserts the parity. */
  private def charShingled(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("ctext", regexp_replace(lower(col("text")), "[^a-z0-9]", ""))
      .filter(length(col("ctext")) >= 5)
      .withColumn("sh", graft.plans.TextHashes.charGramHashes(col("ctext")))
      .select("doc_id", "sh")

  /** Near-dup by character-n-gram Jaccard >= 0.8; candidates via an
    * 16-hash / 8-band MinHash on the 5-gram sets. */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    minhashPairs(cached(charShingled(s, d)), A24Gram, NgramBands, NgramRows)
      .orderBy("doc_a", "doc_b")

  // -------------------------------------------------------------------
  // SimHash
  // -------------------------------------------------------------------

  private val SimBits = graft.plans.SimHash48Util.Bits // 48
  // COMBINATION banding: 5 chunks (10/10/10/9/9 bits) joined on all
  // C(5,2) = 10 chunk PAIRS. Hamming ≤ 2 corrupts at most 2 chunks,
  // leaving ≥ 3 intact, and any 3 intact chunks cover one of the 10
  // pairs — pigeonhole-EXACT recall, same as the previous 3×16-bit
  // single-chunk scheme, but each join key is now ~19–20 bits
  // (≈ 2^19.6 buckets/table vs 2^16): random-fingerprint bucket
  // occupancy at 10^9 docs drops ~12× per table, shrinking the
  // quadratic intra-bucket candidate term ~12²/(10/3) ≈ 43× — the
  // widening [[graft.plans.SimHash48Util]]'s width note calls for.
  private val SimChunkStarts = Array(0, 10, 20, 30, 39)
  private val SimChunkWidths = Array(10, 10, 10, 9, 9)

  /** Per-document 48-bit SimHash via the native codegen'd
    * [[graft.plans.SimHash48]]: one JVM loop per row hashes each
    * token occurrence (shared polyHash mod 1e9+7, then the Knuth
    * widening mix `h + ((h·2654435761) % P)·2^30`), folds ±1 votes
    * per bit, and takes the sign bits. Zero shuffle; the identical
    * integer arithmetic is spelled in [[oSimhashCte]] so DuckDB
    * reproduces fingerprints bit-for-bit. 48 bits (vs the earlier
    * 30) is the log-rule width for ≥10^9-doc corpora — see the
    * width note on [[graft.plans.SimHash48Util]]. */
  def simhashDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("t", TextAnalysis.tokens(col("text")))
      .withColumn("simhash", graft.plans.TextHashes.simhash48(col("t")))
      .select("doc_id", "simhash")

  def simhash(s: SparkSession, d: String): DataFrame =
    simhashDocs(s, d).orderBy("doc_id")

  /** Near-identical pairs by SimHash hamming ≤ 2. Candidates come
    * from the C(5,2) combination-band join (see [[SimChunkStarts]]):
    * any pair within hamming 2 shares ≥ 3 intact chunks and
    * therefore at least one fully-intact chunk PAIR, so recall is
    * EXACTLY 100% — the all-pairs oracle is provably equal, not
    * probabilistically. The two chunk values pack into one ≤ 20-bit
    * band key (chunk_i · 1024 + chunk_j — widths ≤ 10 bits, no
    * collision by construction). */
  def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val fps = cached(simhashDocs(s, d))
    def chunk(c: Int) =
      shiftright(col("simhash"), SimChunkStarts(c))
        .bitwiseAND(lit((1L << SimChunkWidths(c)) - 1))
    val chunkPairs =
      for { i <- SimChunkStarts.indices; j <- i + 1 until SimChunkStarts.length }
        yield (i, j)
    val bands = fps.select(
      col("doc_id"),
      explode(array(chunkPairs.zipWithIndex.map { case ((i, j), p) =>
        struct(
          lit(p).as("band_idx"),
          (chunk(i) * 1024 + chunk(j)).as("band_val"))
      }: _*)).as("e"))
      .select(col("doc_id"), col("e.band_idx"), col("e.band_val"))
    val cand = bands.select(col("doc_id").as("doc_a"), col("band_idx"), col("band_val"))
      .join(
        bands.select(col("doc_id").as("doc_b"), col("band_idx"), col("band_val")),
        Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(fps.select(col("doc_id").as("doc_a"), col("simhash").as("f_a")), "doc_a")
      .join(fps.select(col("doc_id").as("doc_b"), col("simhash").as("f_b")), "doc_b")
      .withColumn("hamming", bit_count(col("f_a").bitwiseXOR(col("f_b"))).cast("long"))
      .filter(col("hamming") <= 2)
      .select("doc_a", "doc_b", "hamming")
      .orderBy("doc_a", "doc_b")
  }

  // -------------------------------------------------------------------
  // Embedding-cosine near-dup (hyperplane LSH + exact baseline)
  // -------------------------------------------------------------------

  private val CosThreshold = 0.4

  /** Near-dup embedding pairs via sign-random-projection LSH: 8
    * tables × 12-bit (4096) buckets generate candidates with an
    * equi-join; exact cosine ≥ 0.4 verifies. Approximate by design —
    * recall is whatever the 8 tables deliver (the oracle replicates
    * the same buckets); `dedup_embedding_exact` is the ground-truth
    * twin. */
  /** Embeddings with precomputed double vector + norm, cached: the
    * pair stages then fold ONE dot product per candidate instead of
    * three (dot + both norms). The CacheManager dedupes by logical
    * plan, so the LSH, exact, and recall queries all share one
    * in-memory copy when composed. */
  private def normEmbs(s: SparkSession, d: String): DataFrame =
    cached(embs(s, d)
      .withColumn("embd", Vectors.toD(col("embedding")))
      .withColumn("nrm", Vectors.norm(col("embd"))))

  def embeddingLsh(s: SparkSession, d: String): DataFrame = {
    val e = normEmbs(s, d)
    val entries = cached(e
      .select(col("vec_id"), posexplode(Vectors.lshBuckets(col("embd"))))
      .select(col("vec_id"), col("pos").as("tbl"), col("col").as("bucket")))
    val cand = entries.select(col("vec_id").as("vec_a"), col("tbl"), col("bucket"))
      .join(entries.select(col("vec_id").as("vec_b"), col("tbl"), col("bucket")),
        Seq("tbl", "bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embd").as("ea"), col("nrm").as("na")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embd").as("eb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos_sim", Vectors.dotd(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= CosThreshold)
      .select("vec_a", "vec_b", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  /** Ground-truth all-pairs cosine ≥ 0.4 — correctness baseline only
    * (quadratic; excluded from the benchmark set). */
  def embeddingExact(s: SparkSession, d: String): DataFrame = {
    val e = normEmbs(s, d)
    e.select(col("vec_id").as("vec_a"), col("embd").as("ea"), col("nrm").as("na"))
      .crossJoin(e.select(col("vec_id").as("vec_b"), col("embd").as("eb"), col("nrm").as("nb")))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", Vectors.dotd(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= CosThreshold)
      .select("vec_a", "vec_b", "cos_sim")
      .orderBy("vec_a", "vec_b")
  }

  // -------------------------------------------------------------------
  // Edit-distance fuzzy matching (FastSS deletion-neighborhood blocking)
  // -------------------------------------------------------------------

  /** Per-record fuzzy-duplicate count over customer names at edit
    * distance ≤ 1 — the record-linkage member of the dedup family
    * (typo'd names, OCR'd identifiers), distinct from every
    * shingle/simhash/embedding variant: similarity here is
    * character-EDIT, not token overlap. Blocking is FastSS's
    * deletion neighborhood: D(u) = {u} ∪ {u minus one char}; for
    * levenshtein(u,v) ≤ 1 the neighborhoods always intersect (equal
    * strings share u; a substitution shares the both-sides deletion;
    * an insert/delete shares the shorter string), so an equi-join on
    * D-entries finds every true pair and exact levenshtein verifies.
    * Variants join as polynomial HASHES, not strings — collisions
    * only add candidates, which verification discards.
    *
    * Scale: the inverted index is O(N·L) rows of (hash, id) — never
    * the O(N²) comparison matrix; bucket sizes are bounded by how
    * many records share a deletion variant, and the exact check runs
    * only per candidate. The all-pairs spelling survives only in the
    * DuckDB oracle (N is oracle-sized there). */
  /** Longest-common-prefix length of two strings. */
  private def lcpLen(a: String, b: String): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    i
  }

  /** Dataset-global shared-affix strip for edit-distance blocking.
    *
    * Levenshtein is EXACTLY invariant under trimming a prefix (or
    * suffix) shared by both strings — the standard first-DP-row
    * argument, ed(c·u, c·v) = ed(u, v) — so any affix common to the
    * WHOLE column can be removed before blocking without losing a
    * single true pair; the neighborhood equi-join over the stripped
    * cores keeps FastSS's pigeonhole completeness verbatim.
    *
    * Why it matters: on identifier-like corpora (zero-padded
    * `Customer#000…` names) the shared affix is most of the string,
    * and deleting from it is what degenerates FastSS — D≤2 variants
    * of near-uniform strings collide massively (r11 measured 65 M
    * candidate rows from 15 k names at sf0.1, ~15 % of all-pairs).
    * Stripping reduces each string to its discriminative core:
    * variants per row shrink O(L²)→O(core²) and buckets become
    * selective (r12 measurement in [[fuzzyCandidates]]).
    *
    * The constants come from ONE single-row aggregate: the LCP of a
    * set equals LCP(lexmin, lexmax), and the set-wide common suffix
    * is the LCP of the reversed strings' lexmin/lexmax. The
    * `first()` reads that one aggregated row (same class as the
    * connected-components convergence probe), not data. The suffix
    * length is capped so prefix + suffix never overlap inside the
    * shortest string. */
  private def stripBounds(names: DataFrame, c: Column): (Int, Int) = {
    val r = names.agg(
      min(c), max(c), min(reverse(c)), max(reverse(c)), min(length(c))).first()
    if (r.isNullAt(4)) (0, 0) // empty input: nothing to strip
    else {
      val pre = lcpLen(r.getString(0), r.getString(1))
      val minLen = r.getInt(4)
      val suf =
        math.min(lcpLen(r.getString(2), r.getString(3)), math.max(0, minLen - pre))
      (pre, suf)
    }
  }

  /** The derived strip as a Column over `c`. */
  private def applyStrip(c: Column, b: (Int, Int)): Column = {
    val (pre, suf) = b
    if (pre + suf == 0) c
    else c.substr(lit(pre + 1), length(c) - lit(pre + suf))
  }

  /** The customer-name strip constants, memoized per dataset dir —
    * every fuzzy query over one immutable dir shares the same (pre,
    * suf), and without the memo the candidate, verify, index and
    * probe stages each re-ran the full-table aggregate at plan-build
    * time (3–4 redundant driver jobs per query; r12 ADVICE). Same
    * keying as [[fuzzyIndexDirs]]; values are two ints. */
  private val stripMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]
  private def customerStrip(s: SparkSession, d: String): (Int, Int) =
    stripMemo.computeIfAbsent(d, _ =>
      stripBounds(Tables(s, d, "customer").select(col("c_name")), col("c_name")))

  /** Test-only visibility into the strip (DedupSpec measures the
    * index-size cut). */
  private[graft] def strippedCoreForTest(names: DataFrame, c: Column): Column =
    applyStrip(c, stripBounds(names, c))
  private[graft] def stripBoundsForTest(names: DataFrame, c: Column): (Int, Int) =
    stripBounds(names, c)

  /** The FastSS candidate-pair stage of [[fuzzyCounts]], split out so
    * DedupSpec can measure its output row count. Measured at sf0.1
    * for D≤2 (r12): raw h-join output 65 M rows pre-strip → 22.7 M
    * post-strip (2.9×); distinct candidates 17.36 M against a TRUE
    * ed≤2 pair count of 4.08 M — i.e. post-strip blocking sits ~4×
    * above the irreducible output floor (8.7 % of 15 k names are
    * genuine radius-2 matches of each other on this corpus, so no
    * blocking can emit fewer than those pairs). The bigger r12 win
    * was parallelism, not volume — see the repartition note below
    * (49.7 s → 7.2 s min-of-2 end to end). */
  private[graft] def fuzzyCandidates(
      names: DataFrame, neighborhood: Column => Column,
      strip: (Int, Int)): DataFrame = {
    // strip the dataset-global shared affix FIRST (exact; see
    // stripBounds), then expand deletion neighborhoods over the
    // discriminative core only
    val core = applyStrip(col("c_name"), strip)
    // native codegen'd neighborhoods (prefix/suffix hash composition
    // — no substring building); parity with the interpreted
    // substr+fold spellings is pinned in TextHashesSpec. Cached: the
    // self-join consumes the explode on BOTH sides.
    // array_distinct BEFORE the explode: deleting within a run of
    // identical characters yields the same variant from every
    // position (a length-r run contributes C(r,2) copies of one
    // 2-deletion), and duplicate (id, h) index rows amplify the
    // self-join QUADRATICALLY.
    // repartition BEFORE the explode: the name table arrives in a
    // handful of parquet splits, and everything downstream of the
    // broadcast self-join — including the distinct's partial
    // aggregate over the ~23M raw pairs (sf0.1) — pipelines at the
    // STREAMING side's parallelism. Without this the partial agg ran
    // in ≤4 tasks and dominated the query (18.2 s of the 30 s total
    // at sf0.1; 2.1 s once spread across the shuffle width).
    val variants = cached(names.repartition(col("c_custkey"))
      .select(col("c_custkey"),
        explode(array_distinct(neighborhood(core))).as("h")))
    variants.toDF("a", "h")
      .join(variants.toDF("b", "h"), "h")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Verified fuzzy pairs (a, b), a < b: FastSS candidates
    * ([[fuzzyCandidates]]) confirmed by thresholded levenshtein.
    * Candidates travel as (a, b) KEY pairs and deduplicate BEFORE
    * names join back for verification. The tempting alternative —
    * carry names through the variant explode and filter inside the
    * candidate join — measured 2.4× SLOWER at sf0.1 pre-strip (67 s
    * vs 27 s for radius 2): the h-join's output is the largest
    * relation in the query, and widening every row by two name
    * strings costs far more than the post-distinct broadcast joins
    * save. Keys through the big shuffle, payloads after the dedup;
    * distinct-first dedupes candidates map-side before the only wide
    * shuffle (verify-first measured 2.6× slower pre-strip: 78 s vs
    * 30 s).
    *
    * Verification runs on the affix-STRIPPED cores, not full names:
    * edit distance is exactly invariant under the dataset-global
    * strip (same argument as the blocking side), the banded DP is
    * O(len·(2k+1)) so a ~25-char name shrinking to its ~7-char core
    * cuts the per-pair cost ~3×, and the joined-back payload rows
    * shrink with it — on 17 M surviving candidates the verify stage
    * is the query's floor, so this is where the length matters. */
  private def fuzzyVerified(
      names: DataFrame, neighborhood: Column => Column, maxDist: Int,
      strip: (Int, Int)): DataFrame = {
    val core = applyStrip(col("c_name"), strip)
    fuzzyCandidates(names, neighborhood, strip)
      .join(names.select(col("c_custkey").as("a"), core.as("name_a")), "a")
      .join(names.select(col("c_custkey").as("b"), core.as("name_b")), "b")
      .filter(levenshtein(col("name_a"), col("name_b"), maxDist) =!= -1)
  }

  private def fuzzyCounts(
      s: SparkSession, d: String,
      neighborhood: Column => Column, maxDist: Int): DataFrame = {
    val names = cached(
      Tables(s, d, "customer").select(col("c_custkey"), col("c_name")))
    val verified = fuzzyVerified(names, neighborhood, maxDist, customerStrip(s, d))
    // Each verified pair counts toward BOTH endpoints. Exploding the
    // two-element array keeps ONE copy of the expensive verify
    // subtree in the plan; the union-of-two-selects spelling planned
    // the candidate + verify tail twice (ReuseExchange dedupes only
    // the shuffle below it).
    val counts = verified
      .select(explode(array(col("a"), col("b"))).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n_fuzzy"))
    names.select(col("c_custkey"))
      .join(counts, col("c_custkey") === col("k"), "left")
      .select(col("c_custkey"), coalesce(col("n_fuzzy"), lit(0L)).as("n_fuzzy"))
      .orderBy("c_custkey")
  }

  def fuzzyNames(s: SparkSession, d: String): DataFrame =
    fuzzyCounts(s, d, graft.plans.TextHashes.deletionHashes, 1)

  /** Distance-≤2 variant: the D≤2 neighborhood (self + 1-deletions +
    * 2-deletions, `deletion_hashes2`) is FastSS-complete for
    * levenshtein ≤ 2 — an optimal alignment deletes the ≤ 2 edited
    * positions from each side to reach a common string — so the same
    * equi-join + exact-verify pipeline recalls every pair. Index
    * grows to O(N·L²) entries (the price of radius 2); buckets stay
    * bounded and verification exact. */
  def fuzzyNames2(s: SparkSession, d: String): DataFrame =
    fuzzyCounts(s, d, graft.plans.TextHashes.deletionHashes2, 2)

  /** Sorted-neighborhood ER blocking, audited against the complete
    * FastSS truth — the OTHER classic blocking family next to the
    * deletion-hash index: sort records by a normalized key, compare
    * only records within a rank window w. One method audits the
    * other: FastSS is provably complete for ed ≤ 1, so the window
    * method's measured recall (here the window misses pairs whose
    * cores sort > w apart — e.g. a typo in the FIRST core character)
    * is an exact, deterministic number, not an estimate.
    *
    * Scale spelling (the part that usually goes wrong): NO
    * single-partition global window. Global ranks come from the
    * two-phase range-partition offsets (the `pipeline_global_ids`
    * pattern — per-partition row_number + broadcast cumulative
    * counts), and "within w ranks" pairs come from a BUCKET
    * equi-join: bucket = rank div w, probe side replicated to
    * (bucket, bucket−1), residual filter 0 < rb−ra < w. Candidates
    * are O(N·w) rows through one shuffle — never a rank-range theta
    * join. Sort key = the dataset-global affix-stripped core (the
    * strip is what makes identifier-like keys discriminative AND is
    * levenshtein-invariant, so both methods see the same edit
    * space). */
  /** The sorted-neighborhood candidate generator shared by the
    * single-pass audit and the multi-pass variant: two-phase global
    * ranks over `sk` (per-partition row_number + broadcast cumulative
    * offsets — no single-partition window), then the rank-bucket
    * equi-join (bucket = rank div w, probe replicated to bucket and
    * bucket−1, residual 0 < rb−ra < w). Input columns (k, sk, core);
    * output one row per candidate pair (ka, kb, core_a, core_b) with
    * ka ranked below kb — O(N·w) rows through one shuffle. The sort
    * key `sk` is separate from the verification `core` so a pass can
    * sort by a transform (e.g. the reversed core) while levenshtein
    * still verifies the real strings. */
  private def snCandidates(keyed: DataFrame, w: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val parts = cached(keyed.repartitionByRange(32, col("sk"), col("k"))
      .withColumn("pid", spark_partition_id()))
    val offsets = parts.groupBy("pid").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(
        sum("cnt").over(W.orderBy("pid").rowsBetween(W.unboundedPreceding, -1)),
        lit(0L)))
      .select("pid", "off")
    val ranked = cached(parts
      .withColumn("local",
        row_number().over(W.partitionBy("pid").orderBy("sk", "k")))
      .join(broadcast(offsets), "pid")
      .select(col("k"), col("core"), (col("off") + col("local") - 1).as("r")))
    val aSide = ranked.select(col("k").as("ka"), col("core").as("core_a"),
      col("r").as("ra"), expr(s"r div $w").as("bk"))
    val bSide = ranked.select(col("k").as("kb"), col("core").as("core_b"),
      col("r").as("rb"), expr(s"r div $w").as("b0"))
      .select(col("kb"), col("core_b"), col("rb"),
        explode(array(col("b0"), col("b0") - 1)).as("bk"))
    cached(aSide.join(bSide, "bk")
      .filter(col("rb") > col("ra") && col("rb") - col("ra") < w))
  }

  def erSortedNeighborhood(s: SparkSession, d: String): DataFrame = {
    val w = 10
    val names = cached(
      Tables(s, d, "customer").select(col("c_custkey"), col("c_name")))
    val strip = customerStrip(s, d)
    val keyed = names.select(
      col("c_custkey").as("k"), applyStrip(col("c_name"), strip).as("core"))
    val cand = snCandidates(keyed.withColumn("sk", col("core")), w)
    val snPairs = cand.filter(levenshtein(col("core_a"), col("core_b"), 1) =!= -1)
    val truth =
      fuzzyVerified(names, graft.plans.TextHashes.deletionHashes, 1, strip)
    truth.agg(count(lit(1)).as("n_true_pairs"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(snPairs.agg(count(lit(1)).as("n_sn_pairs")))
      .select(col("n_true_pairs"), col("n_candidates"), col("n_sn_pairs"),
        (col("n_true_pairs") - col("n_sn_pairs")).as("n_missed"),
        when(col("n_true_pairs") === 0, lit(1.0))
          .otherwise(col("n_sn_pairs").cast("double") /
            col("n_true_pairs").cast("double")).as("recall"))
  }

  /** Multi-pass sorted neighborhood — the standard-practice remedy
    * for the single pass's known failure mode. One sort key misses
    * exactly the pairs whose difference lands in the key's leading
    * characters (a typo in the FIRST core character moves the record
    * arbitrarily far in rank); the classic fix is a SECOND pass over
    * the REVERSED core, which sorts those same pairs adjacently
    * (their difference is now in the trailing characters). Each pass
    * is the identical O(N·w) rank-bucket pipeline; matched pairs are
    * normalized to (least, greatest) and UNIONed, so the combined
    * method stays two linear passes — never all-pairs — while the
    * audit reports each pass's recall next to the combined number
    * against the provably-complete FastSS truth (single-key measured
    * 0.346 on these identifier-like keys; the reversed-core pass
    * recovers the leading-character edits that dominate that miss
    * set). */
  def erSnMultipass(s: SparkSession, d: String): DataFrame = {
    val w = 10
    val names = cached(
      Tables(s, d, "customer").select(col("c_custkey"), col("c_name")))
    val strip = customerStrip(s, d)
    val keyed = cached(names.select(
      col("c_custkey").as("k"), applyStrip(col("c_name"), strip).as("core")))
    def matched(cand: DataFrame): DataFrame =
      cand.filter(levenshtein(col("core_a"), col("core_b"), 1) =!= -1)
        .select(least(col("ka"), col("kb")).as("pa"),
          greatest(col("ka"), col("kb")).as("pb"))
    val m1 = cached(matched(snCandidates(keyed.withColumn("sk", col("core")), w)))
    val m2 = cached(matched(
      snCandidates(keyed.withColumn("sk", reverse(col("core"))), w)))
    val mu = m1.unionAll(m2).distinct()
    val truth =
      fuzzyVerified(names, graft.plans.TextHashes.deletionHashes, 1, strip)
    truth.agg(count(lit(1)).as("n_true_pairs"))
      .crossJoin(m1.agg(count(lit(1)).as("n_pass1")))
      .crossJoin(m2.agg(count(lit(1)).as("n_pass2")))
      .crossJoin(mu.agg(count(lit(1)).as("n_combined")))
      .select(col("n_true_pairs"), col("n_pass1"), col("n_pass2"),
        col("n_combined"),
        when(col("n_true_pairs") === 0, lit(1.0))
          .otherwise(col("n_pass1").cast("double") /
            col("n_true_pairs").cast("double")).as("recall_pass1"),
        when(col("n_true_pairs") === 0, lit(1.0))
          .otherwise(col("n_combined").cast("double") /
            col("n_true_pairs").cast("double")).as("recall_combined"))
  }

  /** Batch membership predicate for the incremental fuzzy-match
    * fixture: every 20th customer is "tonight's ingest batch", the
    * rest are the standing corpus. */
  private def isFuzzyBatch: Column = col("c_custkey") % 20 === 0

  /** The corpus's standing FastSS deletion-hash index, materialized
    * ONCE per dataset dir as parquet and read back — the production
    * artifact an ingest pipeline maintains alongside the corpus (like
    * a bucketed table or a search index), so the nightly batch query
    * pays only ITS OWN neighborhood expansion, never the corpus's.
    * Memoized with the same existence-revalidating pattern as
    * [[Connectors]] spools; (h, ck) rows only — 16 bytes each, names
    * never enter the index. */
  private val fuzzyIndexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** Affix-stripped name core for the incremental index and its
    * probes. The strip constants come from the WHOLE customer table
    * (corpus ∪ batch — `isFuzzyBatch` splits one table), so the
    * stripped prefix/suffix is literally common to every row on BOTH
    * sides and the per-row levenshtein-invariance argument of
    * [[stripBounds]] applies exactly; computing them per side would
    * de-align the hash spaces. Constants ride [[customerStrip]]'s
    * memo, so the repeated fuzzyCore spellings inside one query cost
    * nothing after the first. */
  private def fuzzyCore(s: SparkSession, d: String): Column =
    applyStrip(col("c_name"), customerStrip(s, d))

  private def fuzzyIndex(s: SparkSession, d: String): DataFrame = {
    val path = fuzzyIndexDirs.compute(d, (_, prev) => {
      if (prev != null && new java.io.File(prev).isDirectory) prev
      else {
        val dir = graft.Core.tempDir("graft-fzidx")
        Tables(s, d, "customer")
          .filter(!isFuzzyBatch)
          .select(col("c_custkey").as("ck"),
            // affix-stripped core (see fuzzyCore) + per-name variant
            // dedup (see fuzzyCounts): identical-char runs would
            // otherwise store duplicate (h, ck) rows. On the driver's
            // zero-padded names the strip alone cuts the stored index
            // ~12× (DedupSpec measures the exact ratio).
            explode(array_distinct(
              graft.plans.TextHashes.deletionHashes(fuzzyCore(s, d)))).as("h"))
          .write.mode("overwrite").parquet(s"$dir/fuzzy_index")
        val n = s.read.parquet(s"$dir/fuzzy_index").count()
        System.err.println(s"[fuzzy-index] $d rows=$n")
        s"$dir/fuzzy_index"
      }
    })
    s.read.parquet(path)
  }

  /** Incremental (batch-vs-corpus) fuzzy match at edit distance ≤ 1 —
    * the production ingest path for record linkage: tonight's batch
    * probes the corpus's STANDING deletion-hash index
    * ([[fuzzyIndex]]) instead of self-joining the whole corpus, so
    * per-ingest cost is O(batch·L) variant rows against an equi-join,
    * not O(corpus·L) re-expansion (let alone the O(N²) matrix). Recall
    * is FastSS-complete: D₁(q) ∩ D₁(c) ≠ ∅ whenever dist(q,c) ≤ 1
    * (candidates reach distance 2; exact levenshtein trims). Output is
    * the admission accounting — per batch record, how many corpus
    * records sit within distance 1 and whether the record is novel
    * (`admitted`), the fuzzy twin of [[incrementalDedup]]'s anti-join.
    *
    * Plan shape (PlanSpec-pinned): exactly ONE Generate — the batch
    * side's explode; the corpus side is a parquet scan of the stored
    * index. Candidates travel as (bk, ck) key pairs; names join back
    * only at verification. */
  def fuzzyIncremental(s: SparkSession, d: String): DataFrame = {
    val names = Tables(s, d, "customer").select(col("c_custkey"), col("c_name"))
    val batch = cached(names.filter(isFuzzyBatch))
    val probes = batch.select(col("c_custkey").as("bk"),
      // SAME whole-table strip constants as the stored index — the
      // hash spaces must align (see fuzzyCore)
      explode(array_distinct(
        graft.plans.TextHashes.deletionHashes(fuzzyCore(s, d)))).as("h"))
    val cand = probes.join(fuzzyIndex(s, d), "h")
      .select("bk", "ck").distinct()
    val matches = cand
      // verification on the whole-table-stripped cores (exact; see
      // fuzzyVerified) — shorter DP strings, lighter payload rows
      .join(batch.select(col("c_custkey").as("bk"),
        fuzzyCore(s, d).as("batch_name")), "bk")
      .join(names.filter(!isFuzzyBatch)
        .select(col("c_custkey").as("ck"),
          fuzzyCore(s, d).as("corpus_name")), "ck")
      // thresholded levenshtein: banded O(L·k) DP, -1 = above radius
      .filter(levenshtein(col("batch_name"), col("corpus_name"), 1) =!= -1)
      .groupBy("bk").agg(count(lit(1)).as("n"))
    batch.join(matches, col("c_custkey") === col("bk"), "left")
      .select(col("c_custkey"),
        coalesce(col("n"), lit(0L)).as("n_corpus_fuzzy"),
        when(coalesce(col("n"), lit(0L)) === 0, 1L).otherwise(0L).as("admitted"))
      .orderBy("c_custkey")
  }

  /** Entity resolution END TO END — the composition a master-data /
    * record-linkage pipeline actually ships, built from pieces this
    * engine already proves separately: FastSS-blocked edit-distance
    * edges ([[fuzzyVerified]], D ≤ 1) → pointer-doubling connected
    * components ([[connectedComponents]]) → golden-record
    * survivorship. The match rule is CONJUNCTIVE, the standard ER
    * shape: same nation AND name within one edit — the cheap
    * exact-match attribute gates the fuzzy one (without it, radius-1
    * chains over near-sequential zero-padded names transitively
    * collapse the whole table into one cluster — measured: 1 row at
    * sf0.01). At production scale the equality attribute would also
    * join INTO the blocking key ((nation, deletion-hash) buckets);
    * here it rides the verify filter so [[fuzzyCandidates]] stays
    * shared. Matching customers collapse into one entity cluster
    * (cluster_id = min member key, the CC label); the surviving
    * "golden" record per cluster is chosen by
    * a deterministic rule — highest account balance, ties to the
    * lowest key — expressed as a single struct-max aggregate
    * (map-side partial, no Window), never a per-cluster sort.
    * Singletons (no fuzzy twin anywhere) form their own cluster.
    *
    * Scale: edges come from the blocked candidate join (never
    * all-pairs), CC is O(log d) rounds, and survivorship is one
    * groupBy over N rows. The all-pairs levenshtein + recursive-CTE
    * closure survives only in the oracle. */
  /** The ER match graph: (a, b, nation) edges under the conjunctive
    * rule, a < b — shared by [[goldenRecords]] and [[triangles]]. */
  private def erEdges(cust: DataFrame, strip: (Int, Int)): DataFrame = {
    val names = cust.select(col("c_custkey"), col("c_name"))
    val nations = cust.select(col("c_custkey"), col("c_nationkey"))
    fuzzyVerified(names, graft.plans.TextHashes.deletionHashes, 1, strip)
      .join(nations.toDF("a", "na"), "a")
      .join(nations.toDF("b", "nb"), "b")
      .filter(col("na") === col("nb"))
      .select(col("a"), col("b"), col("na").as("nation"))
  }

  /** The survivorship tail of [[goldenRecords]] over any (v, lbl)
    * label frame — factored so the streaming twin
    * ([[graft.streaming.Streams.streamErGolden]]) derives its
    * read-time report through the IDENTICAL plan and one oracle
    * serves both. */
  private[graft] def goldenSurvivorship(
      cust: DataFrame, labels: DataFrame): DataFrame = {
    val labeled = cust
      .join(labels, col("c_custkey") === col("v"), "left")
      .select(col("c_custkey"),
        coalesce(col("lbl"), col("c_custkey")).as("cluster_id"),
        col("c_acctbal"))
    labeled.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        // arg-max by (acctbal, -key): struct ordering makes the
        // tiebreak deterministic inside one mergeable aggregate
        max(struct(col("c_acctbal").as("bal"),
          (-col("c_custkey")).as("negk"))).as("g"))
      .select(col("cluster_id"), col("n_members"),
        (-col("g.negk")).as("golden_custkey"), col("g.bal").as("golden_acctbal"))
      .orderBy("cluster_id")
  }

  /** Per-frame ER blocking rows for the incremental/streaming match
    * path: the corpus-adaptive affix strip + codegen'd deletion-1
    * neighborhood of each record's name core, one row per (record,
    * neighborhood hash), with the core and nation carried along for
    * the exact-verify step. The strip is the DATASET's (memoized
    * [[customerStrip]]) — in a live pipeline it's a config constant
    * derived the same way — so per-batch blocking keys agree with
    * the batch run's no matter how records are scattered across
    * micro-batches. */
  private[graft] def erBlockRows(
      s: SparkSession, d: String, frame: DataFrame): DataFrame = {
    val core = applyStrip(col("c_name"), customerStrip(s, d))
    frame
      .select(col("c_custkey"), col("c_nationkey"), core.as("core"))
      .select(col("c_custkey"), col("c_nationkey"), col("core"),
        explode(array_distinct(
          graft.plans.TextHashes.deletionHashes(col("core")))).as("h"))
  }

  def goldenRecords(s: SparkSession, d: String): DataFrame = {
    val cust = cached(Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_nationkey")))
    val pairs = erEdges(cust, customerStrip(s, d)).select("a", "b")
    val (labels, _) = connectedComponents(pairs)
    goldenSurvivorship(cust, labels)
  }

  /** Duplicate-cluster SIZE histogram — the one-page report every
    * dedup run ships (how much of the corpus sits in 2-clusters vs
    * mega-clusters decides the near-dup threshold and the removal
    * budget). Sizes from the converged CC labels; singleton docs
    * (no near-dup pair anywhere) enter as the size-1 row via an
    * anti-join, so the histogram masses sum to the corpus. Shuffles
    * carry (label) then (size) keys only. */
  def clusterSizeHistogram(s: SparkSession, d: String): DataFrame = {
    val (labels, _) = connectedComponents(
      minhashLshPairs(s, d).select("doc_a", "doc_b"))
    val paired = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
    val singles = Tables(s, d, "documents")
      .join(labels, col("doc_id") === col("v"), "left_anti")
      .agg(count(lit(1)).as("n_clusters"))
      .filter(col("n_clusters") > 0)
      .select(lit(1L).as("cluster_size"), col("n_clusters"))
    paired.unionByName(singles).orderBy("cluster_size")
  }

  /** Triangle counting over the ER match graph — the canonical
    * scale-aware graph JOIN, and the structural diagnostic a
    * record-linkage pipeline reads before trusting transitive
    * closure (triangle-dense components are true duplicate cliques;
    * triangle-free chains are suspect bridges).
    *
    * The scale story is the ORIENTATION: each undirected edge points
    * from its lower-(degree, id) endpoint to the higher one, so
    * every wedge is enumerated at its lowest-rank vertex. A raw
    * two-hop self-join fans out quadratically in the max degree
    * (one celebrity vertex of degree 10⁶ yields 10¹² wedges); after
    * degree orientation each vertex's out-degree is bounded by
    * O(√edges) on any graph (arboricity bound), so the wedge join is
    * the textbook distributed triangle algorithm rather than the
    * naive one. Each triangle is counted exactly once — at its
    * lowest-rank apex, closed by its rank-ordered third edge.
    * Per-nation counts because the conjunctive rule makes every
    * component (hence every triangle) single-nation. */
  def triangles(s: SparkSession, d: String): DataFrame = {
    val cust = cached(Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
    val e = cached(erEdges(cust, customerStrip(s, d)))
    // rank = (degree, id), totally ordered; degree from the symmetrized view
    val deg = e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val withRanks = e
      .join(deg.toDF("a", "da"), "a").join(deg.toDF("b", "db"), "b")
    // orient toward the higher (degree, id); rank structs keep degree
    // FIRST so struct comparison IS the rank order
    val ra = struct(col("da").as("d"), col("a").as("v"))
    val rb = struct(col("db").as("d"), col("b").as("v"))
    val oriented = cached(withRanks.select(col("nation"),
      when(ra < rb, ra).otherwise(rb).as("lo"),
      when(ra < rb, rb).otherwise(ra).as("hi")))
    // wedges at the lowest-rank apex: two out-edges, rank-ordered ends
    val wedges = oriented.toDF("nation", "apex", "m1")
      .join(oriented.toDF("n2", "apex", "m2"), "apex")
      .filter(col("m1") < col("m2"))
    // close the triangle with the oriented m1→m2 edge
    wedges.join(oriented.select(col("lo").as("m1"), col("hi").as("m2")),
        Seq("m1", "m2"))
      .groupBy(col("nation").as("c_nationkey"))
      .agg(count(lit(1)).as("n_triangles"))
      .orderBy("c_nationkey")
  }

  /** Jaro-Winkler blocked matcher — the OTHER classic name-similarity
    * measure next to edit distance (prefix-weighted Jaro; the
    * standard choice for person/company name linkage, where leading
    * characters are the reliable ones). Runs the codegen'd
    * [[graft.plans.JaroWinklerSim]] expression, pinned bit-for-bit to
    * DuckDB's built-in, over candidate pairs BLOCKED on
    * (nation, name chars 10–11): blocking is part of the operator's
    * declared semantics — record-linkage practice, and the oracle
    * replays the identical blocking — because JW admits no exact
    * LSH-style index (unlike the FastSS deletion neighborhoods the
    * levenshtein path uses); block granularity is the recall/cost
    * knob, refined as the corpus grows so block sizes stay bounded.
    * Emitting the raw similarity per pair makes the gate compare
    * thousands of IEEE doubles — the strongest parity evidence the
    * port can produce. */
  /** Corpus-size-adaptive JW block-key width: the smallest w in
    * [1, 8] with n ≤ 16000·10^(w−1), i.e. the narrowest digit key
    * whose EXPECTED block population (n over ~25 nations × 10^w key
    * values on the zero-padded name digits) stays ≤ 64. Within-block
    * comparison is quadratic, so a FIXED substring key grows blocks
    * linearly with the corpus; stepping the width by corpus decade
    * caps the expected block — at 100× the rows the key widens by 2
    * digits and the per-block cost is back where it started. The
    * thresholds are plain integer comparisons so the DuckDB oracle
    * replays the identical decision as a CASE. */
  private[graft] def jwBlockWidth(n: Long): Int = {
    var w = 1
    var cap = 16000L
    while (w < 8 && n > cap) { w += 1; cap *= 10 }
    w
  }

  /** Oracle CTEs `nn(n)` / `ww(w)` replaying [[jwBlockWidth]]. */
  private val oJwWidth: String = {
    val cases = (1 to 7)
      .map(w => s"WHEN n <= ${16000L * math.pow(10, w - 1).toLong} THEN $w")
      .mkString(" ")
    s"""nn AS (SELECT COUNT(*) AS n FROM customer),
       |ww AS (SELECT CAST(CASE $cases ELSE 8 END AS INTEGER) AS w FROM nn)""".stripMargin
  }

  def jwBlocked(s: SparkSession, d: String): DataFrame = {
    val cust = Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
    // 1-row control decision (same class as the CC convergence
    // probe): the block-key width is a plan PARAMETER, fixed before
    // the candidate join is declared
    val w = jwBlockWidth(cust.count())
    val c = cust.withColumn("blk", substring(col("c_name"), 10, w))
    c.toDF("a", "na", "nat", "blk")
      .join(c.toDF("b", "nb", "nat", "blk"), Seq("nat", "blk"))
      .filter(col("a") < col("b"))
      .withColumn("jw", graft.plans.TextHashes.jaroWinkler(col("na"), col("nb")))
      .filter(col("jw") >= 0.97)
      .select(col("a").as("cust_a"), col("b").as("cust_b"),
        col("nat").as("c_nationkey"), col("jw"))
      .orderBy("cust_a", "cust_b")
  }

  /** Block-population accounting for [[jwBlocked]] — the
    * `quality_key_skew` idiom applied to the blocking key: one row
    * per observed block size with the block count and the quadratic
    * candidate mass Σ s·(s−1)/2 it contributes, plus the adaptive
    * width that produced it. This is the guard that keeps the
    * declared "granularity refined as the corpus grows" honest: the
    * histogram's tail IS the within-block quadratic cost, and
    * DedupSpec pins total candidates ≤ N·max_block. Shuffles carry
    * (nation, key) then (size) — never pairs. */
  def jwBlockStats(s: SparkSession, d: String): DataFrame = {
    val cust = Tables(s, d, "customer")
      .select(col("c_name"), col("c_nationkey"))
    val w = jwBlockWidth(cust.count())
    cust
      .groupBy(col("c_nationkey"), substring(col("c_name"), 10, w).as("blk"))
      .agg(count(lit(1)).as("block_size"))
      .groupBy("block_size")
      .agg(count(lit(1)).as("n_blocks"),
        sum(expr("block_size * (block_size - 1) div 2")).as("n_candidate_pairs"))
      .withColumn("blk_width", lit(w))
      .orderBy("block_size")
  }

  /** Number of peel rounds the `graph_kcore` ORACLE unrolls; the
    * engine stops early at the fixpoint (peeling a converged state is
    * the identity, so parity holds round-for-round), and DedupSpec
    * pins that the peel CONVERGES within this budget on the driver
    * graph — upgrading the replayed state to the true k-core rather
    * than a prefix of the peeling. */
  private[graft] val KcoreRounds = 6

  /** One k-core peel to fixpoint (or `maxRounds`). Every round's
    * surviving edge set is CHECKPOINTED to a parquet leaf before the
    * next round plans against it — same load-bearing lineage cut as
    * [[connectedComponents]]: each round references the live edges
    * three times (two degree projections + the semi-join base), so
    * under plain caching the analyzed tree grows ~3× per round and
    * Catalyst analysis diverges (measured this round: 6 lazily-nested
    * peels on the sf0.01 ER graph did not finish in 7 minutes;
    * checkpointed rounds run in seconds). The convergence test (the
    * surviving-edge count) is OBSERVED on the checkpoint write
    * itself, so a round is exactly one action and the driver never
    * holds rows.
    *
    * @return (surviving edges as a parquet-leaf frame, rounds run —
    *          counting the final no-op round that proved the fixpoint) */
  private[operators] def kcorePeel(
      edges: DataFrame, k: Int, maxRounds: Int): (DataFrame, Int) =
    // same two r19 loop disciplines as [[connectedComponents]]: the
    // convergence probe (surviving-edge count) rides each round's
    // checkpoint write via Dataset.observe instead of a second
    // count() action, and the loop's pure (long, long) hash
    // joins/aggregates opt back in to byte-targeted partition
    // coalescing (see Core.withPartitionCoalescing)
    graft.Core.withPartitionCoalescing(edges.sparkSession) {
      val ckpt = graft.Core.tempDir("graft-kcore")
      val obs0 = org.apache.spark.sql.Observation("kcore-r0")
      var live = graft.Core.parquetLeaf(
        edges.observe(obs0, count(lit(1)).as("n")), s"$ckpt/r0")
      var n = obs0.get("n").asInstanceOf[Long]
      var r = 0
      var converged = false
      while (r < maxRounds && !converged) {
        r += 1
        val deg = live.select(col("a").as("v"))
          .unionAll(live.select(col("b").as("v")))
          .groupBy("v").agg(count(lit(1)).as("dg"))
        val keep = deg.filter(col("dg") >= k).select("v")
        val obs = org.apache.spark.sql.Observation(s"kcore-r$r")
        live = graft.Core.parquetLeaf(
          live.join(keep.toDF("a"), Seq("a"), "left_semi")
            .join(keep.toDF("b"), Seq("b"), "left_semi")
            .observe(obs, count(lit(1)).as("n")),
          s"$ckpt/r$r")
        val n2 = obs.get("n").asInstanceOf[Long]
        converged = n2 == n
        n = n2
      }
      // diagnostic parity with the [cc] log: separates more-rounds
      // from slower-rounds when bench numbers drift
      System.err.println(s"[kcore] peel rounds=$r edges=$n")
      (live, r)
    }

  /** k-core decomposition (k = 3) of the ER match graph — the third
    * structural diagnostic after [[triangles]] and the CC family: the
    * maximal subgraph where every member has ≥ k verified fuzzy
    * twins. A record inside the 3-core is a near-certain duplicate
    * (mutually corroborated by three neighbors that corroborate each
    * other); a degree-1 bridge that peeling removes is exactly the
    * suspect link transitive closure would have merged anyway.
    *
    * Execution: iterative PEELING ([[kcorePeel]]) — per round one
    * symmetrized degree aggregate over the live edges and two
    * semi-joins dropping edges with a sub-k endpoint, each round
    * planning against the previous round's parquet leaf. The oracle
    * replays exactly [[KcoreRounds]] unrolled rounds; the engine's
    * early fixpoint stop is semantics-identical because peeling a
    * converged state removes nothing. Scale: each round shuffles
    * vertex degrees (≤ |V| rows) and semi-join keys — never
    * neighborhoods; rounds needed = peel depth, typically O(log) on
    * near-dup graphs whose cores are cliques. */
  def kcore(s: SparkSession, d: String): DataFrame = {
    val cust = cached(Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
    val (live, _) =
      kcorePeel(erEdges(cust, customerStrip(s, d)), 3, KcoreRounds)
    val coreV = live.select(col("a").as("v"), col("nation"))
      .unionAll(live.select(col("b").as("v"), col("nation"))).distinct()
    coreV.groupBy("nation").agg(count(lit(1)).as("n_core_vertices"))
      .join(live.groupBy("nation").agg(count(lit(1)).as("n_core_edges")), "nation")
      .select(col("nation").as("c_nationkey"),
        col("n_core_vertices"), col("n_core_edges"))
      .orderBy("c_nationkey")
  }

  /** Round budget shared by the BFS engine loop and its unrolled
    * oracle — both run AT MOST this many frontier expansions, so
    * parity holds round-for-round whether or not the graph's
    * seed-eccentricity fits (vertices further than this report −1 in
    * BOTH engines: the result is the within-R landmark ball, the
    * semantics a bounded-round distributed BFS actually ships). */
  private[graft] val BfsRounds = 4

  /** Multi-source BFS landmark distances over the ER match graph —
    * the fourth classic iterative-graph shape next to connected
    * components (reachability), k-core (density), and PageRank
    * (mass): every vertex's hop distance to the NEAREST seed
    * (landmark) vertex, the feature a graph-aware blocking/review
    * pass reads ("how far is this record from an audited anchor").
    * Seeds are the deterministic `c_custkey % 100 = 0` vertices.
    *
    * Execution: frontier expansion — per round one adjacency ⋈
    * frontier semi-join minus the visited set (left anti on the
    * distance table), with BOTH the adjacency list and each round's
    * distance table as parquet leaves ([[kcorePeel]]'s lineage cut:
    * the round-r plan references round r−1 twice — frontier and
    * visited — so un-checkpointed lineage doubles per round). Early
    * stop when a round adds nothing (an empty frontier stays empty,
    * so stopping is semantics-identical to running the full budget).
    * Shuffles carry (vertex) keys only — never neighborhoods; at
    * 100 TB this is exactly Pregel's BFS as joins. */
  def bfsLevels(s: SparkSession, d: String): DataFrame = {
    val cust = cached(Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
    val e0 = erEdges(cust, customerStrip(s, d)).select("a", "b")
    val ckpt = graft.Core.tempDir("graft-bfs")
    val adj = graft.Core.parquetLeaf(
      e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst"))),
      s"$ckpt/adj")
    val verts = cached(adj.select(col("src").as("v")).distinct())
    var dist = graft.Core.parquetLeaf(
      verts.filter(col("v") % 100 === 0).select(col("v"), lit(0L).as("dist")),
      s"$ckpt/d0")
    var r = 0
    var n = dist.count()
    var growing = n > 0
    while (r < BfsRounds && growing) {
      r += 1
      val frontier = dist.filter(col("dist") === (r - 1)).select("v")
      val next = adj.join(frontier.toDF("src"), "src")
        .select(col("dst").as("v")).distinct()
        .join(dist.select("v"), Seq("v"), "left_anti")
        .select(col("v"), lit(r.toLong).as("dist"))
      dist = graft.Core.parquetLeaf(dist.unionAll(next), s"$ckpt/d$r")
      val n2 = dist.count()
      growing = n2 > n
      n = n2
    }
    // diagnostic parity with the [cc]/[kcore] logs
    System.err.println(s"[bfs] rounds=$r reached=$n")
    verts.join(dist, Seq("v"), "left")
      .select(col("v"), coalesce(col("dist"), lit(-1L)).as("distance"))
      .groupBy("distance")
      .agg(count(lit(1)).as("n_vertices"), sum("v").as("key_checksum"))
      .orderBy("distance")
  }

  /** Round budget shared by the LPA engine loop and its unrolled
    * oracle — synchronous updates for a FIXED round count, so replay
    * parity is exact (asynchronous/convergence-gated LPA is
    * nondeterministic by construction and can never hash-match an
    * oracle). */
  private[graft] val LpaRounds = 3

  /** Label-propagation communities over the ER match graph — the
    * fifth classic iterative-graph shape next to connected components
    * (reachability), k-core (density), PageRank (mass), and BFS
    * (distance): every vertex adopts its neighborhood's MODE label
    * each round (Raghavan et al. 2007), so dense near-clique regions
    * agree on a label while thin bridges — which a pure
    * reachability pass happily crosses — don't flip whole
    * communities. The update rule is the distinguishing operator:
    * a per-vertex weighted ARGMAX over neighbor labels (count desc,
    * label asc tiebreak), not CC's plain min.
    *
    * Execution: per round, one adjacency ⋈ labels equi-join, a
    * (vertex, label) partial+final tally, then the argmax as one
    * struct-max aggregate (no window). Labels checkpoint to a
    * parquet leaf every round ([[kcorePeel]]'s lineage-cut
    * rationale). Shuffles carry (vertex) and (vertex, label) keys
    * only — neighborhoods never materialize; at 100 TB this is
    * Pregel LPA as joins. Output is the community-size histogram
    * with a member checksum, the report a community pass ships. */
  def labelProp(s: SparkSession, d: String): DataFrame = {
    val cust = cached(Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
    val e0 = erEdges(cust, customerStrip(s, d)).select("a", "b")
    val ckpt = graft.Core.tempDir("graft-lpa")
    val adj = graft.Core.parquetLeaf(
      e0.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e0.select(col("b").as("src"), col("a").as("dst"))),
      s"$ckpt/adj")
    var lbl = graft.Core.parquetLeaf(
      adj.select(col("src").as("v")).distinct().select(col("v"), col("v").as("lbl")),
      s"$ckpt/l0")
    for (r <- 1 to LpaRounds) {
      val next = adj.join(lbl.toDF("dst", "nl"), "dst")
        .groupBy(col("src").as("v"), col("nl"))
        .agg(count(lit(1)).as("c"))
        // argmax(count desc, label asc) as ONE mergeable aggregate
        .groupBy("v")
        .agg(max(struct(col("c"), (-col("nl")).as("mn"))).as("g"))
        .select(col("v"), (-col("g.mn")).as("lbl"))
      lbl = graft.Core.parquetLeaf(next, s"$ckpt/l$r")
    }
    lbl.groupBy("lbl")
      .agg(count(lit(1)).as("community_size"), sum("v").as("vsum"))
      .groupBy("community_size")
      .agg(count(lit(1)).as("n_communities"), sum("vsum").as("key_checksum"))
      .orderBy("community_size")
  }

  /** Vertex-degree ceiling for the [[linkPredict]] wedge apex. Two-hop
    * enumeration fans out quadratically in the apex degree (one
    * degree-10⁶ hub yields 10¹² wedges); capping the apex bounds the
    * candidate count by |E|·HubCap on ANY graph, and the skipped
    * hub-mediated pairs are exactly the ones common-neighbor scoring
    * ranks last anyway (a shared celebrity neighbor carries ~no
    * linkage evidence). The cap is corpus-independent and shared with
    * the oracle so both engines prune the identical wedges. */
  private[graft] val HubCap = 64L

  /** Common-neighbor LINK PREDICTION over the ER match graph — the
    * classic missing-edge ranking (Liben-Nowell & Kleinberg 2003):
    * for every NON-edge pair (a, b) reachable in two hops, the number
    * of shared neighbors and the neighborhood Jaccard
    * |N(a)∩N(b)| / |N(a)∪N(b)| — both computed in the hub-FILTERED
    * graph (neighbors of degree ≤ [[HubCap]]), so the ratio is the
    * exact Jaccard of that graph rather than a mixed-universe
    * approximation. In an entity-resolution pipeline this
    * is the "edges the matcher MISSED" review queue: two records that
    * share two or more fuzzy twins but were never paired directly are
    * the highest-yield human-review candidates (and the transitive
    * pairs CC is about to merge silently — this ranks them first).
    *
    * Execution is the [[triangles]] wedge join WITHOUT the closing
    * edge: symmetrized adjacency self-joined on the apex (degree
    * ≤ [[HubCap]] — see there), the (lo, hi) endpoint pair tallied,
    * existing edges removed by one left-anti join, degrees joined
    * back broadcast-sized. Counts are exact longs; Jaccard is ONE
    * integer division per row. Shuffles carry (apex) then (pair)
    * keys; neighborhoods never materialize as sets. cn ≥ 2 keeps the
    * review queue meaningful (1-common-neighbor pairs are every
    * path of length 2 — noise at any scale). */
  def linkPredict(s: SparkSession, d: String): DataFrame = {
    val cust = cached(Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
    val e = cached(erEdges(cust, customerStrip(s, d)).select("a", "b"))
    val adj = cached(e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst"))))
    val deg = cached(adj.groupBy(col("src").as("v"))
      .agg(count(lit(1)).as("dg")))
    val apexOk = adj.join(deg.filter(col("dg") <= HubCap).select("v"),
      adj("src") === col("v")).drop("v")
    // degrees in the hub-FILTERED graph (neighbors w with deg(w) ≤
    // HubCap) — the same universe cn counts over, so the ratio below
    // is EXACTLY the neighborhood Jaccard of the filtered graph, not
    // a mixed-universe approximation
    val degLow = cached(apexOk.toDF("w", "v").groupBy("v")
      .agg(count(lit(1)).as("dg")))
    val cand = apexOk.toDF("w", "u")
      .join(apexOk.toDF("w", "x"), "w")
      .filter(col("u") < col("x"))
      .groupBy(col("u").as("a"), col("x").as("b"))
      .agg(count(lit(1)).as("cn"))
      .join(e, Seq("a", "b"), "left_anti")
    cand
      .join(degLow.toDF("a", "da"), "a")
      .join(degLow.toDF("b", "db"), "b")
      .filter(col("cn") >= 2)
      .select(col("a"), col("b"), col("cn"), col("da"), col("db"),
        (col("cn").cast("double") /
          (col("da") + col("db") - col("cn")).cast("double")).as("jaccard"))
      .orderBy("a", "b")
  }

  /** Per-cluster match-CONFIDENCE report — the review queue an ER
    * pipeline ships next to its golden records: each entity
    * cluster's size, edge count, weakest edge, and mean edge
    * similarity (Jaro–Winkler via the codegen'd DuckDB-parity
    * expression). A cluster merged through ONE weak bridge edge (low
    * `min_sim_micro` relative to its mean) is exactly the
    * transitive-collapse candidate a human reviews first — the
    * number [[goldenRecords]]' survivorship silently trusts.
    * Similarities quantize to exact integer MICRO-units before
    * aggregating, so min is exact and the mean is one division of
    * exact longs (a double sum would be accumulation-order-
    * dependent and could never hash-match).
    *
    * Scale: the edge table is the blocked candidate join (never
    * all-pairs); labels come from the same pointer-doubling CC; the
    * report aggregates shuffle (label) keys only. */
  /** (a, b) match edges scored with the Jaro–Winkler similarity of
    * the two full names, quantized to exact integer micro-units —
    * the evidence row a production linkage job persists with each
    * verified edge. Shared by the batch report and the streaming
    * edge-log maintainer. */
  private[graft] def erEdgeSims(
      names: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(names.toDF("a", "name_a"), "a")
      .join(names.toDF("b", "name_b"), "b")
      .select(col("a"), col("b"),
        floor(graft.plans.TextHashes.jaroWinkler(
          col("name_a"), col("name_b")) * 1e6).cast("long").as("sim_micro"))

  /** The confidence-report tail over ANY scored edge frame
    * (a, b, sim_micro): one CC pass labels the clusters, then the
    * per-label aggregate — factored so the streaming twin
    * ([[graft.streaming.Streams.streamErConfidence]], whose edges
    * arrive from the maintained batchId-keyed edge log) reports
    * through the IDENTICAL plan and one oracle serves both. */
  private[graft] def erConfidenceReport(sims: DataFrame): DataFrame = {
    val e = cached(sims)
    val (labels, _) = connectedComponents(e.select("a", "b"))
    val eAgg = e.join(labels.toDF("a", "lbl"), "a")
      .groupBy("lbl")
      .agg(count(lit(1)).as("n_edges"),
        min("sim_micro").as("min_sim_micro"),
        sum("sim_micro").as("sum_sim"))
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("size"))
    sizes.join(eAgg, "lbl")
      .select(col("lbl").as("cluster_id"), col("size"), col("n_edges"),
        col("min_sim_micro"),
        (col("sum_sim").cast("double") / col("n_edges").cast("double"))
          .as("mean_sim_micro"))
      .orderBy("cluster_id")
  }

  def erClusterConfidence(s: SparkSession, d: String): DataFrame = {
    val cust = cached(Tables(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey")))
    val e = erEdges(cust, customerStrip(s, d)).select("a", "b")
    erConfidenceReport(
      erEdgeSims(cust.select(col("c_custkey"), col("c_name")), e))
  }

  /** FELLEGI–SUNTER probabilistic record linkage — the classic
    * m/u-weight scoring (Fellegi & Sunter, JASA 1969) the
    * deterministic ER rules above feed: per comparison FIELD k
    * (market segment equality, $1000 account-balance bucket
    * equality, last-name-character equality), m_k = P(agree | match)
    * and u_k = P(agree | non-match) are estimated from the
    * nationkey-BLOCKED candidate pairs labeled by the family's
    * deterministic rule (name edit distance ≤ 1), Laplace-smoothed
    * (a+1)/(n+2) so a degenerate field can never divide by zero;
    * each pair's composite likelihood ratio is
    * w = Π_k (m_k/u_k if agree else (1−m_k)/(1−u_k)).
    * The OUTPUT is the clerical-review queue FS exists for: the top
    * NON-match pairs by weight — agreement patterns the hard rule
    * missed but the model scores match-like.
    *
    * Exactness: all agreement counts are integers from one blocked
    * pass; the six smoothed probabilities, three ratios, and the
    * 2-multiplication product are a FIXED double shape spelled
    * identically in both engines. Scale: candidates are the nation
    * block equi-join (never all-pairs), the m/u frame is 1 row
    * broadcast back, and the queue is a top-k. */
  /** The Fellegi–Sunter record projection (comparison-vector fields)
    * — shared by the batch query and the streaming twin. */
  private[graft] def fsRecords(frame: DataFrame): DataFrame =
    frame.select(col("c_custkey"), col("c_name"), col("c_nationkey"),
      col("c_mktsegment"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT) div 100000").as("balb"),
      expr("substring(c_name, length(c_name), 1)").as("lc"))

  /** (ka, kb, is_match, g1..g3) for every same-nation pair of a × b,
    * key-normalized (ka < kb). `ordered = true` is the batch
    * self-join spelling (a = b, dedup by key order); the streaming
    * twin joins DISJOINT frames with `ordered = false` — every
    * cross-frame pair appears exactly once, and the features are
    * symmetric, so normalization only touches the key order. */
  private[graft] def fsPairFeatures(
      a: DataFrame, b: DataFrame, ordered: Boolean): DataFrame = {
    val aa = fsRecords(a).toDF("ka", "na", "nat", "sega", "balba", "lca")
    val bb = fsRecords(b).toDF("kb", "nb", "natb", "segb", "balbb", "lcb")
    val cond =
      if (ordered) col("nat") === col("natb") && col("ka") < col("kb")
      else col("nat") === col("natb")
    aa.join(bb, cond)
      .select(
        least(col("ka"), col("kb")).as("pa"),
        greatest(col("ka"), col("kb")).as("pb"),
        when(levenshtein(col("na"), col("nb")) <= 1, 1L).otherwise(0L)
          .as("is_match"),
        when(col("sega") === col("segb"), 1L).otherwise(0L).as("g1"),
        when(col("balba") === col("balbb"), 1L).otherwise(0L).as("g2"),
        when(col("lca") === col("lcb"), 1L).otherwise(0L).as("g3"))
      .withColumnRenamed("pa", "ka").withColumnRenamed("pb", "kb")
  }

  /** The eight FS sufficient statistics of a pair frame — ADDITIVE
    * over disjoint pair sets, which is what makes the streaming twin
    * a pure fold: state(t+1) = state(t) + fsMu(new pairs). */
  private[graft] def fsMu(pairs: DataFrame): DataFrame = pairs.agg(
    sum("is_match").as("nm"),
    (count(lit(1)) - sum("is_match")).as("nu"),
    sum(col("is_match") * col("g1")).as("am1"),
    sum(col("is_match") * col("g2")).as("am2"),
    sum(col("is_match") * col("g3")).as("am3"),
    sum((lit(1L) - col("is_match")) * col("g1")).as("au1"),
    sum((lit(1L) - col("is_match")) * col("g2")).as("au2"),
    sum((lit(1L) - col("is_match")) * col("g3")).as("au3"))

  /** Merge two 1-row FS statistic frames (column-wise sums). */
  private[graft] def fsMuMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).agg(
      sum("nm").as("nm"), sum("nu").as("nu"),
      sum("am1").as("am1"), sum("am2").as("am2"), sum("am3").as("am3"),
      sum("au1").as("au1"), sum("au2").as("au2"), sum("au3").as("au3"))

  /** The FS scoring tail — Laplace-smoothed m/u likelihood ratios,
    * review queue of the top-20 non-match pairs by weight. Factored
    * so the streaming twin reports through the IDENTICAL plan over
    * its maintained state and one oracle serves both. */
  private[graft] def fsTail(pairs: DataFrame, mu: DataFrame): DataFrame = {
    def m(k: Int) = (col(s"am$k").cast("double") + lit(1.0)) /
      (col("nm").cast("double") + lit(2.0))
    def u(k: Int) = (col(s"au$k").cast("double") + lit(1.0)) /
      (col("nu").cast("double") + lit(2.0))
    def r(k: Int) = when(col(s"g$k") === 1L, m(k) / u(k))
      .otherwise((lit(1.0) - m(k)) / (lit(1.0) - u(k)))
    pairs.filter(col("is_match") === 0L)
      .crossJoin(broadcast(mu))
      .select(col("ka"), col("kb"), col("g1"), col("g2"), col("g3"),
        (r(1) * r(2) * r(3)).as("weight"))
      .orderBy(col("weight").desc, col("ka"), col("kb"))
      .limit(20)
  }

  def erFellegiSunter(s: SparkSession, d: String): DataFrame = {
    val cust = Tables(s, d, "customer")
    val pairs = cached(fsPairFeatures(cust, cust, ordered = true))
    fsTail(pairs, fsMu(pairs))
  }

  /** Measured pair-recall of the hyperplane-LSH near-dup path against
    * the all-pairs ground truth — the dedup twin of
    * `sim_lsh_recall`: a single accounting row (n_exact, hits,
    * recall) that moves whenever the LSH table/bit parameters move,
    * so the approximate path's health is a REGISTERED number, not a
    * comment claim. Because LSH candidates are verified with the same
    * exact cosine, every LSH pair is an exact pair and hits = |LSH|;
    * the left join measures that instead of assuming it.
    *
    * Ground-truth side is the quadratic baseline, so this row is
    * correctness-only (non-headline), like `dedup_embedding_exact`
    * itself. */
  def embeddingRecall(s: SparkSession, d: String): DataFrame = {
    val exact = embeddingExact(s, d).select("vec_a", "vec_b")
    val approx = embeddingLsh(s, d).select("vec_a", "vec_b")
      .withColumn("hit", lit(1L))
    exact.join(approx, Seq("vec_a", "vec_b"), "left")
      .agg(
        count(lit(1)).as("n_exact"),
        coalesce(sum("hit"), lit(0L)).as("hits"))
      .select(col("n_exact"), col("hits"),
        (col("hits").cast("double") / col("n_exact")).as("recall"))
  }

  // -------------------------------------------------------------------
  // Oracles
  // -------------------------------------------------------------------
  // Duplicate-cluster resolution (connected components)
  // -------------------------------------------------------------------

  /** Connected components: label every vertex with the min vertex id
    * of its component.
    *
    * Edges: the symmetric edge set is written ONCE to a parquet leaf
    * through [[graft.Core.parquetLeaf]] — each input row emits both
    * orientations ([[symmetricEdges]]) — so the upstream plan (for
    * [[dupClusters]], the whole LSH band join and verify) executes
    * once, under the session's own settings, and a `Dataset.observe`
    * on that write counts the directed edges. Every later plan reads
    * the leaf, never the pair pipeline, so a streaming label fold
    * keeps a file-rooted plan as its state.
    *
    * Local finish ("filtering", MapReduce Algorithms for Big Data
    * Analysis, VLDB 2012): at or below [[LocalFinishEdges]] directed
    * edges the labels come from ONE union-find task over
    * `edges.repartition(1)` — union by the smaller root, so each root
    * is its component's min vertex id, the iterative path's fixpoint.
    * The bound is 10⁵ because 10⁵ (long, long) pairs are about
    * 1.6 MB, which one task holds comfortably; below it the
    * distributed loop only pays per-round jobs and codegen (on the
    * perfbench `driver_loops` graph, 22 → 12 jobs a lap). Building this
    * path starts only the edge write; the union-find runs inside the
    * consumer's own action. Rounds are reported as 0.
    *
    * Iterative path (above the bound): synchronous min-label
    * propagation WITH a pointer-doubling shortcut: each vertex starts
    * labeled with min(self, neighbors); every round takes the min of
    * (its own label, its neighbors' labels, and — from round 3 — its
    * LABEL'S label). The third term is Shiloach–Vishkin-style pointer
    * jumping — labels form a forest pointing at smaller ids, and
    * following the pointer's pointer halves chain depth every round,
    * so convergence is O(log d) rounds instead of O(d) on a long
    * duplicate chain (the same shortcut the MapReduce
    * large-star/small-star formulation provides; on a 100 TB corpus
    * with chained near-dups this is the difference between ~7 and
    * ~50 shuffles). The hop is gated to round ≥ 3 because near-dup
    * clusters are near-cliques converging in 2–3 rounds, where its
    * extra join is pure overhead (measured ~12% of the query);
    * a graph still propagating at round 3 has real depth. Fixpoint =
    * min vertex id of the component (labels only ever take
    * same-component values, decrease monotonically, and a stable
    * state forces equality across every edge). Round count is
    * returned so the planted-chain spec pins the logarithmic
    * behavior (through [[iterativeComponents]]).
    *
    * Scale: per round, one shuffle join + partial-aggregated min for
    * the neighbor term plus one label-keyed self-join for the hop,
    * all over the edge leaf. Each round's labels are CHECKPOINTED to
    * parquet and read back as a leaf with the written schema (no
    * footer-inference job), so every round plans against a
    * constant-size tree. This is load-bearing, not hygiene: each
    * round references the previous labels THREE times (neighbor
    * join, base, hop), so under plain caching the analyzed logical
    * plan grows ~3× per round and Catalyst's per-action
    * analyze/canonicalize work grows exponentially — measured r12 on
    * a 776-edge graph needing ~10 rounds: round 5 = 2.7 s, round 6 =
    * 52 s, round 7 unreachable, with execution itself trivial
    * throughout. The parquet round-trip is the reliable-storage
    * checkpoint every iterative graph system performs anyway (fault
    * tolerance at 1000 executors), here doing double duty as the
    * lineage cut. The driver holds only the edge count and the
    * converged/not-converged count, never row data.
    *
    * @param pairs undirected edges, two non-null id columns, each
    *              pair once.
    * @return (labels (v, lbl), both nullable bigint; materialized
    *         rounds until fixpoint, 0 on the local path) */
  private[graft] def connectedComponents(pairs: DataFrame): (DataFrame, Int) = {
    val (edges, n) = edgeLeaf(pairs)
    if (n > LocalFinishEdges) iterativeLabels(edges)
    else {
      // diagnostic parity with the [stream]/[fuzzy-index] logs: the
      // path taken separates a local finish from loop rounds in
      // bench drift
      System.err.println(s"[cc] local edges=$n")
      (edges.repartition(1).mapPartitions(unionFindLabels)(Encoders.row(LabelSchema)), 0)
    }
  }

  /** Directed edge count at or below which [[connectedComponents]]
    * finishes in one union-find task (see its scaladoc for the
    * bound). A constant, not a knob: at scale the iterative path
    * runs as before. */
  private val LocalFinishEdges = 100000L

  /** [[connectedComponents]] on the iterative path whatever the
    * graph's size: the specs compare it with the local finish and
    * pin its round count on a planted chain. */
  private[graft] def iterativeComponents(pairs: DataFrame): (DataFrame, Int) =
    iterativeLabels(edgeLeaf(pairs)._1)

  private val LabelSchema = StructType(Seq(
    StructField("v", LongType), StructField("lbl", LongType)))

  /** [[symmetricEdges]] of `pairs` written once as a parquet leaf, and
    * the number of directed edges written. */
  private def edgeLeaf(pairs: DataFrame): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation("cc-edges")
    val edges = graft.Core.parquetLeaf(
      symmetricEdges(pairs).observe(obs, count(lit(1)).as("n")),
      graft.Core.tempDir("graft-cc-edges"))
    (edges, obs.get("n").asInstanceOf[Long])
  }

  /** (v, lbl) for every vertex of the directed `edges` (src, dst)
    * rows: union-find with path halving where the smaller root always
    * wins, so each vertex's root is its component's min id. */
  private def unionFindLabels(edges: Iterator[Row]): Iterator[Row] = {
    val parent = new scala.collection.mutable.LongMap[Long]
    def find(v: Long): Long = {
      var x = v
      var p = parent(x)
      while (p != x) {
        val g = parent(p)
        parent(x) = g
        x = g
        p = parent(x)
      }
      x
    }
    edges.foreach { e =>
      val a = e.getLong(0)
      val b = e.getLong(1)
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.iterator.map(v => Row(v, find(v)))
  }

  /** Both orientations of every undirected pair, as (src, dst), in
    * one pass over `pairs`: each row explodes into its two directed
    * edges. The edge multiset equals `pairs ∪ swapped(pairs)` (a
    * self-loop appears twice, a pair given in both orientations four
    * times), but `pairs`' plan runs once instead of once per side. */
  private[graft] def symmetricEdges(pairs: DataFrame): DataFrame = {
    val p = pairs.toDF("a", "b")
    p.select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
  }

  /** The min-label propagation loop over the symmetric edge leaf. */
  private def iterativeLabels(edges: DataFrame): (DataFrame, Int) =
    // Scale-adaptive shuffle width for the label loop only (the edge
    // write above plans under the session's own setting): the
    // session disables AQE partition coalescing because
    // compute-heavy small-byte stages (per-row LSH verification
    // folds) serialize under it — but every CC round exchange is a
    // pure hash join/aggregate over (long, long) rows, exactly the
    // uniform-narrow-row shape byte-targeted coalescing is FOR. A
    // 10-round chain graph otherwise pays rounds × ~4 exchanges ×
    // full session width in fixed task overhead on kilobyte
    // shuffles, while at 100 TB the same plan keeps full width
    // (coalescing is bytes-driven). Restored after the loop so only
    // its own plans see it.
    graft.Core.withPartitionCoalescing(edges.sparkSession)(labelRounds(edges))

  private def labelRounds(edges: DataFrame): (DataFrame, Int) = {
    // Head-start initialization: label0 = min(v, min neighbor) is
    // exactly what round 1 of propagation would produce, but costs one
    // groupBy over the edge leaf instead of a join+agg+join round —
    // the loop converges one action earlier. (Every vertex appears as
    // src because edges are symmetrized above.)
    var labels = edges.groupBy(col("src").as("v"))
      .agg(min("dst").as("m"))
      .select(col("v"), least(col("v"), col("m")).as("lbl"))
    val ckpt = graft.Core.tempDir("graft-cc")
    // One min-label propagation step. Pointer hop: lbl(lbl(v)) —
    // lbl(v) is always a vertex of the same component (inductively:
    // a min over same-component ids), so the lookup always hits;
    // coalesce is belt-and-braces only. The hop is gated off the
    // FIRST materialized round: near-dup clusters are near-cliques
    // that converge immediately, where the extra label-keyed join is
    // pure overhead; a graph still propagating after that has real
    // depth, and the hop then halves remaining chain depth per step
    // (O(log d) total instead of O(d)). Output keeps the input label
    // as `prev` so the caller can fold convergence accounting.
    def step(l: DataFrame, withHop: Boolean): DataFrame = {
      val nbrMin = edges
        .join(l.select(col("v").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("v")).agg(min("lbl").as("nlbl"))
      val base = l.join(nbrMin, Seq("v"), "left")
      if (!withHop)
        base.select(col("v"),
          least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("nl"),
          col("lbl").as("prev"))
      else {
        val hop = l.select(col("v").as("p"), col("lbl").as("plbl"))
        base.join(hop, col("lbl") === col("p"), "left")
          .select(col("v"),
            least(col("lbl"), coalesce(col("nlbl"), col("lbl")),
              coalesce(col("plbl"), col("lbl"))).as("nl"),
            col("lbl").as("prev"))
      }
    }
    var rounds = 0
    var delta = 1L
    while (delta > 0) {
      rounds += 1
      // Materialized round 1 is a SINGLE hop-free step: with the
      // head-start init, near-dup cluster graphs (near-cliques) are
      // usually already at the fixpoint, and that common case must
      // pay one propagation, not two (measured: unconditional
      // double-stepping cost dedup_clusters ~2.4 s → ~3.7 s at
      // sf0.1). A graph still changing after round 1 has real depth:
      // from round 2 every materialized round runs TWO hop-enabled
      // steps — the plan between checkpoints stays bounded (each
      // step references a LEAF three times — 9 leaf copies,
      // constant) while the checkpoint/agg round-trips halve, and
      // the hop halves remaining chain depth per step (O(log d)
      // rounds total). Convergence rides the LAST step only: if it
      // changed nothing, its input — which already includes the
      // prior step's changes — is the fixpoint being written, so
      // stopping is exact.
      // hop gating unchanged from the single-step design: rounds 1–2
      // propagate plainly (shallow graphs finish here and the
      // label-keyed hop join is pure overhead for them); the hop
      // engages at round 3 where depth is proven
      val stepped =
        if (rounds == 1) step(labels, withHop = false)
        else {
          val hop = rounds >= 3
          val s1 = step(labels, hop).select(col("v"), col("nl").as("lbl"))
          step(s1, hop)
        }
      // convergence probe rides the checkpoint write itself
      // (Dataset.observe → CollectMetrics): the previous spelling
      // re-read the just-written parquet and ran a second aggregate
      // ACTION per round just to learn the changed-count — on a
      // 10-round chain graph that is 10 extra jobs of pure loop
      // control. The observed sum is computed over exactly the rows
      // the write materializes, so the probe is byte-identical.
      val obs = org.apache.spark.sql.Observation(s"cc-r$rounds")
      labels = graft.Core.parquetLeaf(stepped
        .select(col("v"), col("nl").as("lbl"),
          when(col("nl") < col("prev"), 1L).otherwise(0L).as("changed"))
        .observe(obs, coalesce(sum(col("changed")), lit(0L)).as("delta"))
        .select("v", "lbl"), s"$ckpt/r$rounds")
      delta = obs.get("delta").asInstanceOf[Long]
    }
    // diagnostic parity with the [stream]/[fuzzy-index] logs: round
    // counts separate more-rounds from slower-rounds in bench drift
    System.err.println(s"[cc] materialized rounds=$rounds")
    (labels, rounds)
  }

  /** Transitive duplicate CLUSTERS over the verified MinHash pairs —
    * the step a corpus pipeline needs AFTER pairwise dedup: A≈B and
    * B≈C must collapse into one group even when A≈C was never a
    * candidate. Resolution is [[connectedComponents]]; cluster_id =
    * min doc_id of the component (deterministic). */
  def dupClusters(s: SparkSession, d: String): DataFrame = {
    val (labels, _) = connectedComponents(
      minhashLshPairs(s, d).select("doc_a", "doc_b"))
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "lbl")
      .select(col("v").as("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"))
      .orderBy("doc_id")
  }

  private val oTok = TextAnalysis.oTokens

  /** Intersection-size CTE chain over a shingle-set CTE `s(doc_id,
    * sh)` ending in `p(doc_a, doc_b, i, la, lb)` — EXACT, but spelled
    * as the classic set-similarity equi-join (explode → join on
    * shingle value → count per pair) instead of all-pairs
    * `list_intersect`: DuckDB's list_intersect costs ~220 µs/pair, so
    * the 125k-pair sf0.01 corpus took ~10 s; the equi-join spelling
    * returns the identical rows in 0.4 s (measured A/B, `identical=
    * True`). Lossless for any threshold > 0: the GROUP BY join emits
    * exactly the pairs with i ≥ 1, and J ≥ t > 0 (or containment > 0)
    * implies i ≥ 1. `sh` is list_distinct'd upstream, so COUNT(*)
    * counts each shared shingle once. */
  private def oPairIntersect(setsCte: String): String =
    s"""$setsCte,
       |sl AS MATERIALIZED (SELECT doc_id, len(sh) AS l FROM s),
       |x AS MATERIALIZED (SELECT doc_id, unnest(sh) AS g FROM s),
       |pi AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
       |       FROM x a JOIN x b ON a.g = b.g AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |p AS (SELECT doc_a, doc_b, i, la.l AS la, lb.l AS lb
       |      FROM pi JOIN sl la ON la.doc_id = doc_a JOIN sl lb ON lb.doc_id = doc_b)""".stripMargin

  /** Exact ground-truth near-dup pairs over a shingle-set CTE `s`
    * with columns (doc_id, sh). */
  private def oJaccardPairs(setsCte: String): String =
    s"""WITH ${oPairIntersect(setsCte)}
       |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (la + lb - i) AS jaccard
       |FROM p WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  // `s` is referenced twice by every all-pairs self-join downstream —
  // materialized so the shingle construction runs once, not per branch.
  /** Shared oracle CTE block: strip the corpus-common name prefix and
    * suffix, yielding `cores(k, core)` over `customer`. Levenshtein is
    * invariant under removing a pair-common affix (first DP row/col
    * collapse), and a corpus-common affix is common to every pair —
    * so any all-pairs levenshtein truth can run on the short cores
    * exactly. MATERIALIZED: every consumer self-joins it. */
  private[graft] val oStripCores =
    """b AS (SELECT min(c_name) AS mn, max(c_name) AS mx,
      |             min(reverse(c_name)) AS rn, max(reverse(c_name)) AS rx,
      |             min(strlen(c_name)) AS ml FROM customer),
      |pre AS (SELECT COALESCE(max(i), 0) AS p
      |  FROM generate_series(1, 1000) g(i), b
      |  WHERE i <= b.ml
      |    AND substr(b.mn, 1, CAST(i AS INTEGER)) = substr(b.mx, 1, CAST(i AS INTEGER))),
      |sufx AS (SELECT COALESCE(max(i), 0) AS sl
      |  FROM generate_series(1, 1000) g(i), b
      |  WHERE i <= b.ml
      |    AND substr(b.rn, 1, CAST(i AS INTEGER)) = substr(b.rx, 1, CAST(i AS INTEGER))),
      |bounds AS (SELECT pre.p AS pre,
      |  least(sufx.sl, greatest(0, b.ml - pre.p)) AS suf FROM pre, sufx, b),
      |cores AS MATERIALIZED (SELECT c_custkey AS k,
      |  substr(c_name, CAST(pre + 1 AS INTEGER),
      |         CAST(strlen(c_name) - pre - suf AS INTEGER)) AS core
      |  FROM customer, bounds)""".stripMargin

  private[graft] val oWordSets =
    s"""t AS (SELECT doc_id, $oTok AS tok FROM documents),
       |th AS (
       |  SELECT doc_id, list_transform(tok, s -> ${oPolyHash("s")}) AS th
       |  FROM t WHERE len(tok) >= 3),
       |s AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
       |    i -> ((th[i] * $ShingleMix + th[i+1]) % $P * $ShingleMix + th[i+2]) % $P)) AS sh
       |  FROM th)""".stripMargin

  private val oCharSets =
    s"""c AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS ctext FROM documents),
       |codes AS (
       |  SELECT doc_id, length(ctext) AS n,
       |    list_transform(string_split(ctext, ''), ch -> CAST(ascii(ch) AS BIGINT)) AS codes
       |  FROM c WHERE length(ctext) >= 5),
       |s AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list_transform(generate_series(1, n - 4),
       |    i -> codes[i] * 923521 + codes[i+1] * 29791 + codes[i+2] * 961
       |         + codes[i+3] * 31 + codes[i+4])) AS sh
       |  FROM codes)""".stripMargin

  /** Oracle CTE chain ending in `cc(doc_id, cluster_id)` — the
    * recursive-closure component labels over the exact ground-truth
    * near-dup pairs (the same labels the propagation loop in
    * [[dupClusters]] converges to). Must appear under
    * `WITH RECURSIVE`. Shared with the leakage-aware split oracle in
    * [[Pipeline]]. */
  /** Oracle for [[erFellegiSunter]] AND its streaming twin
    * ([[graft.streaming.Streams.streamErFellegi]]): the maintained
    * sufficient statistics are additive over the exactly-once pair
    * log, so the stream converges to the batch recomputation and
    * ONE oracle serves both. */
  private[graft] val oFellegiSunterSql: String =
    """WITH c AS (
        |  SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nat,
        |    c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS balb,
        |    substring(c_name, length(c_name), 1) AS lc
        |  FROM customer),
        |p AS MATERIALIZED (
        |  SELECT a.k AS ka, b.k AS kb,
        |    CASE WHEN levenshtein(a.nm, b.nm) <= 1 THEN 1 ELSE 0 END AS is_match,
        |    CASE WHEN a.seg = b.seg THEN 1 ELSE 0 END AS g1,
        |    CASE WHEN a.balb = b.balb THEN 1 ELSE 0 END AS g2,
        |    CASE WHEN a.lc = b.lc THEN 1 ELSE 0 END AS g3
        |  FROM c a JOIN c b ON a.nat = b.nat AND a.k < b.k),
        |mu AS (SELECT
        |    CAST(SUM(is_match) AS BIGINT) AS nm,
        |    CAST(COUNT(*) - SUM(is_match) AS BIGINT) AS nu,
        |    CAST(SUM(is_match * g1) AS BIGINT) AS am1,
        |    CAST(SUM(is_match * g2) AS BIGINT) AS am2,
        |    CAST(SUM(is_match * g3) AS BIGINT) AS am3,
        |    CAST(SUM((1 - is_match) * g1) AS BIGINT) AS au1,
        |    CAST(SUM((1 - is_match) * g2) AS BIGINT) AS au2,
        |    CAST(SUM((1 - is_match) * g3) AS BIGINT) AS au3
        |  FROM p)
        |SELECT ka, kb,
        |  CAST(g1 AS BIGINT) AS g1, CAST(g2 AS BIGINT) AS g2,
        |  CAST(g3 AS BIGINT) AS g3,
        |  (CASE WHEN g1 = 1
        |     THEN ((CAST(am1 AS DOUBLE) + 1e0) / (CAST(nm AS DOUBLE) + 2e0))
        |        / ((CAST(au1 AS DOUBLE) + 1e0) / (CAST(nu AS DOUBLE) + 2e0))
        |     ELSE (1e0 - (CAST(am1 AS DOUBLE) + 1e0) / (CAST(nm AS DOUBLE) + 2e0))
        |        / (1e0 - (CAST(au1 AS DOUBLE) + 1e0) / (CAST(nu AS DOUBLE) + 2e0)) END
        |   * CASE WHEN g2 = 1
        |     THEN ((CAST(am2 AS DOUBLE) + 1e0) / (CAST(nm AS DOUBLE) + 2e0))
        |        / ((CAST(au2 AS DOUBLE) + 1e0) / (CAST(nu AS DOUBLE) + 2e0))
        |     ELSE (1e0 - (CAST(am2 AS DOUBLE) + 1e0) / (CAST(nm AS DOUBLE) + 2e0))
        |        / (1e0 - (CAST(au2 AS DOUBLE) + 1e0) / (CAST(nu AS DOUBLE) + 2e0)) END)
        |   * CASE WHEN g3 = 1
        |     THEN ((CAST(am3 AS DOUBLE) + 1e0) / (CAST(nm AS DOUBLE) + 2e0))
        |        / ((CAST(au3 AS DOUBLE) + 1e0) / (CAST(nu AS DOUBLE) + 2e0))
        |     ELSE (1e0 - (CAST(am3 AS DOUBLE) + 1e0) / (CAST(nm AS DOUBLE) + 2e0))
        |        / (1e0 - (CAST(au3 AS DOUBLE) + 1e0) / (CAST(nu AS DOUBLE) + 2e0)) END
        |  AS weight
        |FROM p, mu WHERE is_match = 0
        |ORDER BY weight DESC, ka, kb LIMIT 20""".stripMargin

  /** Oracle for [[goldenRecords]] AND its streaming twin
    * ([[graft.streaming.Streams.streamErGolden]]): the incremental
    * match-edge + CC maintenance converges to the batch components
    * regardless of arrival order, and both report through
    * [[goldenSurvivorship]], so ONE recursive-closure +
    * survivorship-ranking oracle serves both. */
  private[graft] val oGoldenRecordsSql: String =
    """WITH RECURSIVE pr AS (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb
      |  FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      |    AND a.c_nationkey = b.c_nationkey
      |    AND levenshtein(a.c_name, b.c_name) <= 1),
      |e AS (SELECT ka AS src, kb AS dst FROM pr
      |      UNION SELECT kb, ka FROM pr),
      |reach(src, dst) AS (
      |  SELECT src, src FROM (SELECT DISTINCT src FROM e) q
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
      |cc AS (SELECT src AS k, min(dst) AS cluster_id FROM reach GROUP BY src),
      |lab AS (
      |  SELECT c.c_custkey, COALESCE(cc.cluster_id, c.c_custkey) AS cluster_id,
      |    c.c_acctbal
      |  FROM customer c LEFT JOIN cc ON cc.k = c.c_custkey),
      |ranked AS (
      |  SELECT cluster_id, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY cluster_id
      |      ORDER BY c_acctbal DESC, c_custkey ASC) AS rn,
      |    COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      |  FROM lab)
      |SELECT cluster_id, n_members, c_custkey AS golden_custkey,
      |  c_acctbal AS golden_acctbal
      |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** Oracle for [[erClusterConfidence]] AND its streaming twin
    * ([[graft.streaming.Streams.streamErConfidence]]): the union of
    * the per-batch verified-edge logs is exactly the batch edge set
    * (every pair fires once, in the batch its LATER member arrives),
    * and both report through [[erConfidenceReport]], so ONE
    * recursive-closure + confidence oracle serves both. */
  private[graft] val oErClusterConfidenceSql: String =
    s"""WITH RECURSIVE $oStripCores,
      |pr AS (
      |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
      |    CAST(floor(jaro_winkler_similarity(a.c_name, b.c_name)
      |      * 1000000.0) AS BIGINT) AS sim
      |  FROM customer a JOIN customer b
      |  ON a.c_custkey < b.c_custkey
      |    AND a.c_nationkey = b.c_nationkey
      |  JOIN cores ca ON ca.k = a.c_custkey
      |  JOIN cores cb ON cb.k = b.c_custkey
      |  WHERE levenshtein(ca.core, cb.core) <= 1),
      |e AS (SELECT ka AS src, kb AS dst FROM pr
      |      UNION SELECT kb, ka FROM pr),
      |reach(src, dst) AS (
      |  SELECT src, src FROM (SELECT DISTINCT src FROM e) q
      |  UNION
      |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
      |cc AS (SELECT src AS k, min(dst) AS cluster_id FROM reach GROUP BY src),
      |sz AS (SELECT cluster_id, COUNT(*) AS size FROM cc GROUP BY cluster_id),
      |ea AS (SELECT cc.cluster_id, COUNT(*) AS n_edges,
      |         MIN(pr.sim) AS min_sim_micro,
      |         CAST(SUM(pr.sim) AS BIGINT) AS sum_sim
      |       FROM pr JOIN cc ON cc.k = pr.ka GROUP BY 1)
      |SELECT sz.cluster_id, sz.size, ea.n_edges, ea.min_sim_micro,
      |  CAST(ea.sum_sim AS DOUBLE) / CAST(ea.n_edges AS DOUBLE)
      |    AS mean_sim_micro
      |FROM sz JOIN ea USING (cluster_id) ORDER BY cluster_id""".stripMargin

  private[graft] val oClusterChain: String =
    s"""${oPairIntersect(oWordSets)},
       |pr AS MATERIALIZED (SELECT doc_a, doc_b FROM p
       |  WHERE CAST(i AS DOUBLE) / (la + lb - i) >= 0.8),
       |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pr
       |  UNION SELECT doc_b, doc_a FROM pr),
       |reach(src, dst) AS (
       |  SELECT src, src FROM (SELECT DISTINCT src FROM e) q
       |  UNION
       |  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src),
       |cc AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)""".stripMargin

  /** SimHash fingerprint CTE `fp(doc_id, sh)` (explode-based; the
    * same integer math as the codegen'd [[graft.plans.SimHash48Util]]
    * loop): per token the shared 31-base polyHash mod P, then the
    * Knuth widening mix `h + ((h·2654435761) % P)·2^30` — every
    * intermediate < 2^63, so DuckDB BIGINT arithmetic is exact. */
  private val oSimhashCte =
    s"""t AS (SELECT doc_id, $oTok AS tok FROM documents),
       |h0 AS (SELECT doc_id, unnest(list_transform(tok, s -> ${oPolyHash("s")})) AS h FROM t),
       |h AS (SELECT doc_id, h + ((h * 2654435761) % $P) * 1073741824 AS hv FROM h0),
       |bits AS (
       |  SELECT doc_id, b,
       |    SUM(CASE WHEN (hv // CAST(power(2, b) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END) AS s
       |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, ${SimBits - 1})) AS b)
       |  GROUP BY doc_id, b),
       |fp AS (
       |  SELECT doc_id, SUM(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS sh
       |  FROM bits GROUP BY doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("dedup_exact", exactDedup, Some(
      """SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY canonical_id""".stripMargin)),
    // oracle: identical construction + DuckDB's own nfc_normalize —
    // same UAX #15 algorithm both sides; sums cast (DuckDB integer
    // SUM widens to HUGEINT, the driver hash is dtype-sensitive)
    Q("dedup_unicode_nfc", unicodeNfcDedup, Some(
      """WITH m AS (
        |  SELECT source, unnest([text || ' caf' || chr(233),
        |                         text || ' cafe' || chr(769)]) AS t
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_rows,
        |  COUNT(DISTINCT t) AS n_raw_keys,
        |  COUNT(DISTINCT nfc_normalize(t)) AS n_nfc_keys,
        |  CAST(SUM(length(t)) AS BIGINT) AS chars_raw,
        |  CAST(SUM(length(nfc_normalize(t))) AS BIGINT) AS chars_nfc
        |FROM m GROUP BY source ORDER BY source""".stripMargin)),
    Q("dedup_incremental", incrementalDedup, Some(
      """WITH corpus AS (
        |  SELECT DISTINCT md5(text) AS h FROM documents WHERE source = 'src0'),
        |batch AS (
        |  SELECT md5(text) AS h, min(doc_id) AS doc_id, min(source) AS source,
        |    min(n_chars) AS n_chars
        |  FROM documents WHERE source <> 'src0' GROUP BY 1)
        |SELECT source, COUNT(*) AS n_admitted,
        |  CAST(SUM(n_chars) AS BIGINT) AS admitted_chars
        |FROM batch WHERE h NOT IN (SELECT h FROM corpus)
        |GROUP BY source ORDER BY source""".stripMargin)),
    // The oracle replays the BITSET: corpus set-bit positions, the
    // batch's per-seed probes, and maybe = all probes land on set
    // bits — so the deterministic false-positive count hash-matches,
    // not just the exact admission counts.
    // oracle: the deterministic bitset replayed per width — distinct
    // set positions for the fill, the all-k-bits probe for the FPR
    Q("sketch_bloom_fpr", bloomFprCurve, Some {
      val hh = oPolyHash("regexp_replace(lower(text), '[^a-z0-9]', '', 'g')")
      val per = BloomFprWidths.map { m =>
        s"""sb$m AS MATERIALIZED (
           |  SELECT DISTINCT ((a * h + b) % ${graft.plans.Sketches.P}) % $m AS pos
           |  FROM ch CROSS JOIN seeds),
           |pm$m AS MATERIALIZED (
           |  SELECT q.h, bool_and(sb.pos IS NOT NULL) AS maybe FROM (
           |    SELECT pr.h, ((a * pr.h + b) % ${graft.plans.Sketches.P}) % $m AS pos
           |    FROM pr CROSS JOIN seeds) q
           |  LEFT JOIN sb$m sb USING (pos) GROUP BY q.h)""".stripMargin
      }.mkString(",\n")
      val rows = BloomFprWidths.map { m =>
        s"""SELECT CAST($m AS INTEGER) AS m_bits,
           |  (SELECT COUNT(*) FROM ch) AS n_corpus,
           |  (SELECT COUNT(*) FROM sb$m) AS n_bits_set,
           |  CAST((SELECT COUNT(*) FROM sb$m) AS DOUBLE) / CAST($m AS DOUBLE)
           |    AS fill_ratio,
           |  (SELECT COUNT(*) FROM pm$m) AS n_probes,
           |  (SELECT CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
           |   FROM pm$m) AS n_fp,
           |  CAST((SELECT SUM(CASE WHEN maybe THEN 1 ELSE 0 END) FROM pm$m) AS DOUBLE)
           |    / CAST((SELECT COUNT(*) FROM pm$m) AS DOUBLE) AS fpr""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH ch AS MATERIALIZED (
         |  SELECT DISTINCT $hh AS h FROM documents WHERE doc_id % 3 = 0),
         |bt AS MATERIALIZED (
         |  SELECT DISTINCT $hh AS h FROM documents WHERE doc_id % 2 = 0),
         |pr AS MATERIALIZED (
         |  SELECT h FROM bt WHERE h NOT IN (SELECT h FROM ch)),
         |seeds(i, a, b) AS (VALUES ${graft.plans.Sketches.oSeedRows(2)}),
         |$per
         |$rows
         |ORDER BY m_bits""".stripMargin
    }),
    Q("dedup_bloom_incremental", bloomIncremental, Some {
      val hh = oPolyHash("regexp_replace(lower(text), '[^a-z0-9]', '', 'g')")
      s"""WITH ch AS (
         |  SELECT DISTINCT $hh AS h FROM documents WHERE doc_id % 3 = 0),
         |bt AS (
         |  SELECT $hh AS h, min(doc_id) AS doc_id, min(source) AS source
         |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
         |seeds(i, a, b) AS (VALUES ${graft.plans.Sketches.oSeedRows(2)}),
         |setbits AS (
         |  SELECT DISTINCT ((a * h + b) % ${graft.plans.Sketches.P}) % 256 AS pos
         |  FROM ch CROSS JOIN seeds),
         |probe AS (
         |  SELECT bt.h, bt.source, ((a * bt.h + b) % ${graft.plans.Sketches.P}) % 256 AS pos
         |  FROM bt CROSS JOIN seeds),
         |pm AS (
         |  SELECT p.h, p.source, bool_and(sb.pos IS NOT NULL) AS maybe
         |  FROM probe p LEFT JOIN setbits sb ON p.pos = sb.pos
         |  GROUP BY p.h, p.source),
         |acc AS (
         |  SELECT source, maybe,
         |    CASE WHEN h IN (SELECT h FROM ch) THEN 1 ELSE 0 END AS dup
         |  FROM pm)
         |SELECT source, COUNT(*) AS n_batch,
         |  CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_maybe,
         |  CAST(SUM(dup) AS BIGINT) AS n_dup,
         |  CAST(COUNT(*) - SUM(dup) AS BIGINT) AS n_admitted,
         |  CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) - SUM(dup) AS BIGINT) AS n_false_pos
         |FROM acc GROUP BY source ORDER BY source""".stripMargin
    }),
    Q("dedup_minhash_lsh", minhashLsh, Some(oJaccardPairs(oWordSets))),
    Q("dedup_jaccard_histogram", jaccardHistogram, Some(
      s"""WITH $oWordSets,
         |seeds(b, sa, oa, sz, oz) AS (VALUES $oBandSeedRows),
         |bands AS (
         |  SELECT doc_id, b,
         |    list_min(list_transform(sh, x -> (sa * x + oa) % $P)) AS m1,
         |    list_min(list_transform(sh, x -> (sz * x + oz) % $P)) AS m2
         |  FROM s CROSS JOIN seeds),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         |  FROM bands a JOIN bands b
         |    ON a.b = b.b AND a.m1 = b.m1 AND a.m2 = b.m2 AND a.doc_id < b.doc_id),
         |jj AS (
         |  SELECT CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS j
         |  FROM cand JOIN s sa ON sa.doc_id = da JOIN s sb ON sb.doc_id = db)
         |SELECT CAST(least(floor(j * 10), 9) AS INTEGER) AS bucket,
         |  COUNT(*) AS n_pairs, min(j) AS min_j, max(j) AS max_j
         |FROM jj GROUP BY 1 ORDER BY bucket""".stripMargin)),
    // Oracle: exact ground-truth pairs + a recursive-CTE transitive
    // closure; min(reachable) per doc = the same component labels the
    // propagation loop converges to (both deterministic).
    Q("dedup_clusters", dupClusters, Some(
      s"""WITH RECURSIVE $oClusterChain,
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM cc GROUP BY cluster_id)
         |SELECT cc.doc_id, cc.cluster_id, sz.cluster_size
         |FROM cc JOIN sz USING (cluster_id) ORDER BY doc_id""".stripMargin)),
    // oracle overlap counts come from an inverted-index self-join
    // (unnest → shingle equi-join → per-pair COUNT) instead of
    // all-pairs list_intersect — exact for this report, since
    // containment ≥ 0.9 needs overlap ≥ 1 so zero-overlap pairs
    // can never qualify; measured 1.29 s → 0.09 s at sf0.01
    Q("dedup_containment", containmentPairs, Some(
      s"""WITH $oWordSets,
         |p AS (
         |  SELECT x.doc_id AS da, y.doc_id AS db, COUNT(*) AS i,
         |    any_value(la.l) AS la, any_value(lb.l) AS lb
         |  FROM (SELECT doc_id, unnest(sh) AS g FROM s) x
         |  JOIN (SELECT doc_id, unnest(sh) AS g FROM s) y
         |    ON x.g = y.g AND x.doc_id < y.doc_id
         |  JOIN (SELECT doc_id, len(sh) AS l FROM s) la ON la.doc_id = x.doc_id
         |  JOIN (SELECT doc_id, len(sh) AS l FROM s) lb ON lb.doc_id = y.doc_id
         |  GROUP BY 1, 2),
         |c AS (
         |  SELECT *, CAST(i AS DOUBLE) / least(la, lb) AS containment FROM p
         |  WHERE CAST(i AS DOUBLE) / least(la, lb) >= 0.9)
         |SELECT CASE WHEN la <= lb THEN da ELSE db END AS contained_id,
         |  CASE WHEN la <= lb THEN db ELSE da END AS container_id, containment
         |FROM c ORDER BY contained_id, container_id""".stripMargin)),
    Q("dedup_containment_asym", containmentAsym, Some(
      s"""WITH t AS (SELECT doc_id, $oTok AS tok FROM documents),
         |th AS (
         |  SELECT doc_id, list_transform(tok, s -> ${oPolyHash("s")}) AS th
         |  FROM t WHERE len(tok) >= 3),
         |cth AS (
         |  SELECT doc_id, th FROM th WHERE len(th) <= $AsymMaxTokens
         |  UNION ALL
         |  SELECT doc_id + $QuoteOffset AS doc_id, th[11:41] AS th
         |  FROM th WHERE doc_id % $QuoteStride = 0 AND len(th) >= 60),
         |a AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
         |    i -> ((th[i] * $ShingleMix + th[i+1]) % $P * $ShingleMix + th[i+2]) % $P)) AS sh
         |  FROM cth),
         |b AS (
         |  SELECT doc_id, list_distinct(list_transform(generate_series(1, len(th) - 2),
         |    i -> ((th[i] * $ShingleMix + th[i+1]) % $P * $ShingleMix + th[i+2]) % $P)) AS sh
         |  FROM th),
         |p AS (
         |  SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
         |    len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) AS la
         |  FROM a JOIN b ON a.doc_id <> b.doc_id)
         |SELECT contained_id, container_id, CAST(i AS DOUBLE) / la AS containment
         |FROM p WHERE CAST(i AS DOUBLE) / la >= $AsymT
         |ORDER BY contained_id, container_id""".stripMargin)),
    Q("dedup_ngram_jaccard", ngramJaccard, Some(oJaccardPairs(oCharSets))),
    Q("dedup_simhash", simhash, Some(
      s"""WITH $oSimhashCte
         |SELECT d.doc_id AS doc_id, CAST(COALESCE(fp.sh, 0) AS BIGINT) AS simhash
         |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
         |ORDER BY d.doc_id""".stripMargin)),
    Q("dedup_simhash_pairs", simhashPairs, Some(
      s"""WITH $oSimhashCte
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh, b.sh)) <= 2
         |ORDER BY doc_a, doc_b""".stripMargin)),
    Q("dedup_embedding_lsh", embeddingLsh, Some(
      s"""WITH b AS (${Vectors.oBucketCte()}),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
         |p AS (
         |  SELECT vec_a, vec_b,
         |    ${Vectors.oCos("ea.embedding", "eb.embedding", Vectors.Dim)} AS cos_sim
         |  FROM cand
         |  JOIN embeddings ea ON ea.vec_id = vec_a
         |  JOIN embeddings eb ON eb.vec_id = vec_b)
         |SELECT vec_a, vec_b, cos_sim FROM p WHERE cos_sim >= $CosThreshold
         |ORDER BY vec_a, vec_b""".stripMargin)),
    Q("dedup_embedding_exact", embeddingExact, Some(
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ${Vectors.oCos("a.embedding", "b.embedding", Vectors.Dim)} AS cos_sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${Vectors.oCos("a.embedding", "b.embedding", Vectors.Dim)} >= $CosThreshold
         |ORDER BY vec_a, vec_b""".stripMargin),
      headline = false),
    // oracle all-pairs truth runs levenshtein on corpus-common-affix
    // STRIPPED cores (the er_sorted_neighborhood strip idiom): edit
    // distance is invariant under removing a pair-common prefix or
    // suffix (the first DP row/col collapse), and a corpus-common
    // affix is common to every pair, so the spelling is exact — it
    // just drops the oracle's levenshtein cost ~10× (names share a
    // long constant prefix; measured 1.37 s → 0.14 s at sf0.01).
    Q("dedup_fuzzy_names", fuzzyNames, Some(
      s"""WITH n AS (SELECT c_custkey, c_name FROM customer),
        |$oStripCores,
        |p AS (SELECT a.k AS a, b.k AS b
        |      FROM cores a JOIN cores b ON a.k < b.k
        |      WHERE levenshtein(a.core, b.core) <= 1),
        |k AS (SELECT a AS k FROM p UNION ALL SELECT b AS k FROM p),
        |c AS (SELECT k, COUNT(*) AS n_fuzzy FROM k GROUP BY k)
        |SELECT n.c_custkey, CAST(COALESCE(c.n_fuzzy, 0) AS BIGINT) AS n_fuzzy
        |FROM n LEFT JOIN c ON n.c_custkey = c.k ORDER BY c_custkey""".stripMargin)),
    Q("dedup_fuzzy_names2", fuzzyNames2, Some(
      s"""WITH n AS (SELECT c_custkey, c_name FROM customer),
        |$oStripCores,
        |p AS (SELECT a.k AS a, b.k AS b
        |      FROM cores a JOIN cores b ON a.k < b.k
        |      WHERE levenshtein(a.core, b.core) <= 2),
        |k AS (SELECT a AS k FROM p UNION ALL SELECT b AS k FROM p),
        |c AS (SELECT k, COUNT(*) AS n_fuzzy FROM k GROUP BY k)
        |SELECT n.c_custkey, CAST(COALESCE(c.n_fuzzy, 0) AS BIGINT) AS n_fuzzy
        |FROM n LEFT JOIN c ON n.c_custkey = c.k ORDER BY c_custkey""".stripMargin)),
    Q("dedup_fuzzy_incremental", fuzzyIncremental, Some(
      """WITH b AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 20 = 0),
        |co AS (SELECT c_name FROM customer WHERE c_custkey % 20 <> 0),
        |m AS (SELECT b.c_custkey, COUNT(*) AS n
        |      FROM b JOIN co ON levenshtein(b.c_name, co.c_name) <= 1
        |      GROUP BY b.c_custkey)
        |SELECT b.c_custkey,
        |  CAST(COALESCE(m.n, 0) AS BIGINT) AS n_corpus_fuzzy,
        |  CAST(CASE WHEN COALESCE(m.n, 0) = 0 THEN 1 ELSE 0 END AS BIGINT) AS admitted
        |FROM b LEFT JOIN m ON b.c_custkey = m.c_custkey
        |ORDER BY b.c_custkey""".stripMargin)),
    // oracle: all-pairs D<=1 edges + recursive min-label closure +
    // window-based survivorship (the naive spellings the engine avoids)
    Q("er_golden_records", goldenRecords, Some(oGoldenRecordsSql)),
    // oracle: the recursive-closure labels + the built-in
    // jaro_winkler_similarity the engine expression is bit-pinned to,
    // quantized through the identical floor(x * 1e6)
    Q("er_cluster_confidence", erClusterConfidence, Some(oErClusterConfidenceSql)),
    // oracle replays the strip constants (LCP of lexmin/lexmax, and
    // of the reversed pair, capped to the shortest string), the
    // global rank, the w=10 window, and the all-pairs truth
    Q("er_sorted_neighborhood", erSortedNeighborhood, Some(
      s"""WITH $oStripCores,
        |rk AS (SELECT k, core, ROW_NUMBER() OVER (ORDER BY core, k) - 1 AS r FROM cores),
        |cand AS (SELECT a.core AS ca, b.core AS cb
        |  FROM rk a JOIN rk b ON b.r > a.r AND b.r - a.r < 10),
        |truth AS (SELECT 1 AS x FROM cores a JOIN cores b
        |  ON a.k < b.k AND levenshtein(a.core, b.core) <= 1)
        |SELECT t.n AS n_true_pairs, c.n AS n_candidates, sp.n AS n_sn_pairs,
        |  t.n - sp.n AS n_missed,
        |  CASE WHEN t.n = 0 THEN CAST(1 AS DOUBLE)
        |       ELSE CAST(sp.n AS DOUBLE) / CAST(t.n AS DOUBLE) END AS recall
        |FROM (SELECT COUNT(*) AS n FROM truth) t,
        |     (SELECT COUNT(*) AS n FROM cand) c,
        |     (SELECT COUNT(*) AS n FROM cand WHERE levenshtein(ca, cb) <= 1) sp""".stripMargin)),
    // oracle: the same strip/rank replay twice — pass 1 sorts by the
    // core, pass 2 by the reversed core — matched pairs normalized to
    // (least, greatest) and UNIONed, vs the same all-pairs truth
    Q("er_sn_multipass", erSnMultipass, Some(
      s"""WITH $oStripCores,
        |rk1 AS (SELECT k, core, ROW_NUMBER() OVER (ORDER BY core, k) - 1 AS r FROM cores),
        |m1 AS MATERIALIZED (
        |  SELECT least(a.k, b.k) AS pa, greatest(a.k, b.k) AS pb
        |  FROM rk1 a JOIN rk1 b ON b.r > a.r AND b.r - a.r < 10
        |  WHERE levenshtein(a.core, b.core) <= 1),
        |rk2 AS (SELECT k, core, ROW_NUMBER() OVER (ORDER BY reverse(core), k) - 1 AS r FROM cores),
        |m2 AS MATERIALIZED (
        |  SELECT least(a.k, b.k) AS pa, greatest(a.k, b.k) AS pb
        |  FROM rk2 a JOIN rk2 b ON b.r > a.r AND b.r - a.r < 10
        |  WHERE levenshtein(a.core, b.core) <= 1),
        |mu AS (SELECT pa, pb FROM m1 UNION SELECT pa, pb FROM m2),
        |truth AS (SELECT 1 AS x FROM cores a JOIN cores b
        |  ON a.k < b.k AND levenshtein(a.core, b.core) <= 1)
        |SELECT t.n AS n_true_pairs, p1.n AS n_pass1, p2.n AS n_pass2,
        |  cu.n AS n_combined,
        |  CASE WHEN t.n = 0 THEN CAST(1 AS DOUBLE)
        |       ELSE CAST(p1.n AS DOUBLE) / CAST(t.n AS DOUBLE) END AS recall_pass1,
        |  CASE WHEN t.n = 0 THEN CAST(1 AS DOUBLE)
        |       ELSE CAST(cu.n AS DOUBLE) / CAST(t.n AS DOUBLE) END AS recall_combined
        |FROM (SELECT COUNT(*) AS n FROM truth) t,
        |     (SELECT COUNT(*) AS n FROM m1) p1,
        |     (SELECT COUNT(*) AS n FROM m2) p2,
        |     (SELECT COUNT(*) AS n FROM mu) cu""".stripMargin)),
    Q("dedup_cluster_sizes", clusterSizeHistogram, Some(
      s"""WITH RECURSIVE $oClusterChain,
         |sz AS (SELECT cluster_id, COUNT(*) AS cluster_size
         |       FROM cc GROUP BY cluster_id),
         |h AS (SELECT cluster_size, COUNT(*) AS n_clusters
         |      FROM sz GROUP BY cluster_size),
         |singles AS (
         |  SELECT CAST(1 AS BIGINT) AS cluster_size, COUNT(*) AS n_clusters
         |  FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM cc))
         |SELECT cluster_size, n_clusters FROM h
         |UNION ALL
         |SELECT cluster_size, n_clusters FROM singles WHERE n_clusters > 0
         |ORDER BY cluster_size""".stripMargin)),
    // oracle: identical blocking (adaptive width replayed by the same
    // integer CASE) + DuckDB's own jaro_winkler built-in (the engine
    // expression is a bit-exact port; see JaroWinklerUtil)
    Q("er_jw_blocked", jwBlocked, Some(
      s"""WITH $oJwWidth
         |SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
         |  a.c_nationkey AS c_nationkey,
         |  jaro_winkler_similarity(a.c_name, b.c_name) AS jw
         |FROM customer a JOIN customer b
         |  ON a.c_custkey < b.c_custkey
         |  AND a.c_nationkey = b.c_nationkey
         |  AND substr(a.c_name, 10, (SELECT w FROM ww))
         |    = substr(b.c_name, 10, (SELECT w FROM ww))
         |WHERE jaro_winkler_similarity(a.c_name, b.c_name) >= 0.97
         |ORDER BY cust_a, cust_b""".stripMargin)),
    Q("er_jw_block_stats", jwBlockStats, Some(
      s"""WITH $oJwWidth,
         |blocks AS (
         |  SELECT c_nationkey, substr(c_name, 10, (SELECT w FROM ww)) AS blk,
         |    COUNT(*) AS block_size
         |  FROM customer GROUP BY 1, 2)
         |SELECT block_size, COUNT(*) AS n_blocks,
         |  CAST(SUM(block_size * (block_size - 1) // 2) AS BIGINT) AS n_candidate_pairs,
         |  (SELECT w FROM ww) AS blk_width
         |FROM blocks GROUP BY block_size ORDER BY block_size""".stripMargin)),
    // oracle: the same KcoreRounds peel rounds unrolled as CTEs over
    // the all-pairs edge set; DedupSpec pins convergence by round
    // KcoreRounds so the replayed state is the true 3-core. Every
    // round CTE is MATERIALIZED — each references its predecessor ~5
    // times, and DuckDB's default inlining makes the expanded tree
    // (hence parquet file-handle count) grow 5^rounds, the exact
    // exponential the engine's per-round parquet checkpoint cuts
    Q("graph_kcore", kcore, Some {
      val rounds = (1 to KcoreRounds).map { r =>
        s"""d$r AS MATERIALIZED (SELECT v, COUNT(*) AS dg FROM (
           |  SELECT a AS v FROM e${r - 1} UNION ALL SELECT b FROM e${r - 1}) q$r
           |  GROUP BY v),
           |k$r AS MATERIALIZED (SELECT v FROM d$r WHERE dg >= 3),
           |e$r AS MATERIALIZED (SELECT e.* FROM e${r - 1} e
           |  JOIN k$r x ON e.a = x.v JOIN k$r y ON e.b = y.v)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT a.c_custkey AS a, b.c_custkey AS b, a.c_nationkey AS nation
         |  FROM customer a JOIN customer b
         |  ON a.c_custkey < b.c_custkey
         |    AND a.c_nationkey = b.c_nationkey
         |    AND levenshtein(a.c_name, b.c_name) <= 1),
         |$rounds,
         |cv AS (SELECT DISTINCT v, nation FROM (
         |  SELECT a AS v, nation FROM e$KcoreRounds
         |  UNION ALL SELECT b, nation FROM e$KcoreRounds) qv)
         |SELECT v.nation AS c_nationkey, v.n AS n_core_vertices, e.n AS n_core_edges
         |FROM (SELECT nation, COUNT(*) AS n FROM cv GROUP BY nation) v
         |JOIN (SELECT nation, COUNT(*) AS n FROM e$KcoreRounds GROUP BY nation) e
         |  USING (nation)
         |ORDER BY c_nationkey""".stripMargin
    }),
    // oracle: the same BfsRounds frontier expansions unrolled as
    // MATERIALIZED CTEs (each round references its predecessor twice
    // — frontier and visited — the exact inlining explosion class)
    Q("graph_bfs_levels", bfsLevels, Some {
      val rounds = (1 to BfsRounds).map { r =>
        s"""f$r AS MATERIALIZED (
           |  SELECT q$r.v, CAST($r AS BIGINT) AS dist FROM (
           |    SELECT DISTINCT adj.dst AS v
           |    FROM adj JOIN d${r - 1} p ON adj.src = p.v AND p.dist = ${r - 1}) q$r
           |  WHERE q$r.v NOT IN (SELECT v FROM d${r - 1})),
           |d$r AS MATERIALIZED (
           |  SELECT v, dist FROM d${r - 1} UNION ALL SELECT v, dist FROM f$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT a.c_custkey AS a, b.c_custkey AS b
         |  FROM customer a JOIN customer b
         |  ON a.c_custkey < b.c_custkey
         |    AND a.c_nationkey = b.c_nationkey
         |    AND levenshtein(a.c_name, b.c_name) <= 1),
         |adj AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
         |verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM adj),
         |d0 AS MATERIALIZED (
         |  SELECT v, CAST(0 AS BIGINT) AS dist FROM verts WHERE v % 100 = 0),
         |$rounds
         |SELECT COALESCE(dd.dist, -1) AS distance, COUNT(*) AS n_vertices,
         |  CAST(SUM(verts.v) AS BIGINT) AS key_checksum
         |FROM verts LEFT JOIN d$BfsRounds dd ON verts.v = dd.v
         |GROUP BY 1 ORDER BY distance""".stripMargin
    }),
    // oracle: the same LpaRounds synchronous mode-updates unrolled as
    // MATERIALIZED CTEs (each round references its predecessor once
    // per tally + once per argmax — the inlining explosion class);
    // the per-vertex argmax is a row_number window, deterministic
    // under the same (count desc, label asc) tiebreak
    Q("graph_label_prop", labelProp, Some {
      val rounds = (1 to LpaRounds).map { r =>
        s"""t$r AS MATERIALIZED (
           |  SELECT adj.src AS v, p.lbl AS nl, COUNT(*) AS c
           |  FROM adj JOIN l${r - 1} p ON adj.dst = p.v GROUP BY 1, 2),
           |l$r AS MATERIALIZED (
           |  SELECT v, nl AS lbl FROM (
           |    SELECT v, nl, row_number() OVER (
           |      PARTITION BY v ORDER BY c DESC, nl ASC) AS rn FROM t$r) q$r
           |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT a.c_custkey AS a, b.c_custkey AS b
         |  FROM customer a JOIN customer b
         |  ON a.c_custkey < b.c_custkey
         |    AND a.c_nationkey = b.c_nationkey
         |    AND levenshtein(a.c_name, b.c_name) <= 1),
         |adj AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
         |l0 AS MATERIALIZED (
         |  SELECT DISTINCT src AS v, src AS lbl FROM adj),
         |$rounds,
         |sz AS (SELECT lbl, COUNT(*) AS community_size,
         |         CAST(SUM(v) AS BIGINT) AS vsum
         |       FROM l$LpaRounds GROUP BY lbl)
         |SELECT community_size, COUNT(*) AS n_communities,
         |  CAST(SUM(vsum) AS BIGINT) AS key_checksum
         |FROM sz GROUP BY community_size ORDER BY community_size""".stripMargin
    }),
    // oracle: the naive a<b<c triple self-join (correct at oracle
    // size; the engine's degree orientation exists for the celebrity
    // -vertex fan-out the naive join cannot survive)
    Q("graph_triangles", triangles, Some(
      """WITH e AS (
        |  SELECT a.c_custkey AS ka, b.c_custkey AS kb,
        |    a.c_nationkey AS nation
        |  FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |    AND a.c_nationkey = b.c_nationkey
        |    AND levenshtein(a.c_name, b.c_name) <= 1)
        |SELECT e1.nation AS c_nationkey, COUNT(*) AS n_triangles
        |FROM e e1
        |  JOIN e e2 ON e2.ka = e1.ka AND e2.kb > e1.kb
        |  JOIN e e3 ON e3.ka = e1.kb AND e3.kb = e2.kb
        |GROUP BY e1.nation ORDER BY c_nationkey""".stripMargin)),
    // oracle: the same apex-capped wedge enumeration (adj references
    // e0 twice and cand references adj twice — MATERIALIZED, the
    // inlining-explosion class) with NOT EXISTS as the anti-join and
    // the identical one-division Jaccard
    Q("graph_link_predict", linkPredict, Some(
      s"""WITH e0 AS MATERIALIZED (
         |  SELECT a.c_custkey AS a, b.c_custkey AS b
         |  FROM customer a JOIN customer b
         |  ON a.c_custkey < b.c_custkey
         |    AND a.c_nationkey = b.c_nationkey
         |    AND levenshtein(a.c_name, b.c_name) <= 1),
         |adj AS MATERIALIZED (
         |  SELECT a AS src, b AS dst FROM e0 UNION ALL SELECT b, a FROM e0),
         |deg AS MATERIALIZED (
         |  SELECT src AS v, COUNT(*) AS dg FROM adj GROUP BY src),
         |ok AS MATERIALIZED (
         |  SELECT adj.src AS w, adj.dst AS u FROM adj
         |  JOIN deg ON deg.v = adj.src AND deg.dg <= $HubCap),
         |okd AS MATERIALIZED (
         |  SELECT u AS v, COUNT(*) AS dg FROM ok GROUP BY u),
         |cand AS MATERIALIZED (
         |  SELECT p.u AS a, q.u AS b, COUNT(*) AS cn
         |  FROM ok p JOIN ok q ON p.w = q.w AND p.u < q.u
         |  GROUP BY 1, 2),
         |miss AS (
         |  SELECT a, b, cn FROM cand
         |  WHERE NOT EXISTS (SELECT 1 FROM e0 WHERE e0.a = cand.a AND e0.b = cand.b)
         |    AND cn >= 2)
         |SELECT m.a, m.b, m.cn, x.dg AS da, y.dg AS db,
         |  CAST(m.cn AS DOUBLE) / CAST(x.dg + y.dg - m.cn AS DOUBLE) AS jaccard
         |FROM miss m JOIN okd x ON x.v = m.a JOIN okd y ON y.v = m.b
         |ORDER BY m.a, m.b""".stripMargin)),
    // oracle: the same blocked pass, integer agreement counts, and
    // the identical smoothed-ratio product (e-notation literals; both
    // engines truncate integer division toward zero, checked)
    Q("er_fellegi_sunter", erFellegiSunter, Some(oFellegiSunterSql)),
    // oracle norms are precomputed ONCE per vector (a MATERIALIZED
    // sqrt-of-self-dot CTE) instead of re-folded per pair — the same
    // IEEE sequence (fold → sqrt → product → divide), so the cosine
    // is bit-identical, at a third of the per-pair float work
    Q("dedup_embedding_recall", embeddingRecall, Some(
      s"""WITH nm AS MATERIALIZED (
         |  SELECT vec_id, embedding,
         |    sqrt(${Vectors.oDot("embedding", "embedding", Vectors.Dim)}) AS nrm
         |  FROM embeddings),
         |ex AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM nm a JOIN nm b ON a.vec_id < b.vec_id
         |  WHERE (${Vectors.oDot("a.embedding", "b.embedding", Vectors.Dim)}
         |    / (a.nrm * b.nrm)) >= $CosThreshold),
         |b AS (${Vectors.oBucketCte()}),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |  FROM b a JOIN b b2 ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
         |ap AS (
         |  SELECT vec_a, vec_b FROM cand
         |  JOIN nm ea ON ea.vec_id = vec_a
         |  JOIN nm eb ON eb.vec_id = vec_b
         |  WHERE (${Vectors.oDot("ea.embedding", "eb.embedding", Vectors.Dim)}
         |    / (ea.nrm * eb.nrm)) >= $CosThreshold)
         |SELECT COUNT(*) AS n_exact,
         |  CAST(SUM(CASE WHEN ap.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |  CAST(SUM(CASE WHEN ap.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall
         |FROM ex LEFT JOIN ap ON ex.vec_a = ap.vec_a AND ex.vec_b = ap.vec_b""".stripMargin),
      headline = false),
  )
}
