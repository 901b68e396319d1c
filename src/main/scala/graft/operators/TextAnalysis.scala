package graft.operators

import graft.{Q, Tables}
import graft.Core._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** Text-analysis operators for an LLM training-data pipeline (north
  * star; SURVEY §2b last row): per-document statistics, quality
  * scoring, heuristic language ID, content fingerprinting, n-gram
  * extraction, and TF-IDF.
  *
  * Everything is per-row expression work (higher-order array
  * functions — no UDFs, no shuffle) followed by ordinary
  * aggregations, so each operator scales linearly with the corpus:
  * at 100 TB these are pure map-side pipelines; the only exchanges
  * are the final group-bys whose cardinality is vocabulary/doc-count,
  * not token count.
  *
  * All scores are built from integer counts + a fixed shape of IEEE
  * double ops, so the DuckDB oracle reproduces them bit-for-bit.
  */
object TextAnalysis {

  /** Cleaned token array — same semantics as the wordcount clean
    * (lower, strip [^a-z0-9], drop empties; 1.cpp:60–68,84). */
  def tokens(text: Column): Column =
    filter(
      transform(split(lower(text), "\\s+"), t => regexp_replace(t, "[^a-z0-9]", "")),
      t => t =!= "")

  /** Oracle spelling of [[tokens]]. */
  val oTokens: String =
    """list_filter(list_transform(string_split_regex(lower(text), '\s+'),
      | x -> regexp_replace(x, '[^a-z0-9]', '', 'g')), x -> x <> '')""".stripMargin.replace("\n", "")

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")

  /** Per-document token statistics. */
  def textStats(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("t", tokens(col("text")))
      .select(
        col("doc_id"),
        col("n_chars"),
        size(col("t")).as("n_tokens"),
        size(array_distinct(col("t"))).as("n_distinct"),
        (aggregate(col("t"), lit(0L), (acc, x) => acc + length(x)).cast("double") /
          size(col("t"))).as("mean_tok_len"))
      .orderBy("doc_id")

  /** Quality scoring: stopword ratio, symbol ratio, type-token ratio.
    * The composite score mirrors published heuristics (length,
    * punctuation, stopword density) with a fixed arithmetic shape. */
  def qualityScore(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "and", "of", "to", "in", "is", "it")
    docs(s, d)
      .withColumn("t", tokens(col("text")))
      .withColumn("n_tokens", size(col("t")))
      .withColumn("n_stop",
        size(filter(col("t"), x => x.isInCollection(stop))))
      .withColumn("n_sym",
        length(regexp_replace(lower(col("text")), "[a-z0-9\\s]", "")))
      .withColumn("stop_ratio",
        col("n_stop").cast("double") / col("n_tokens"))
      .withColumn("sym_ratio",
        col("n_sym").cast("double") / col("n_chars"))
      .withColumn("ttr",
        size(array_distinct(col("t"))).cast("double") / col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("n_stop"), col("n_sym"),
        col("stop_ratio"), col("sym_ratio"), col("ttr"))
      .orderBy("doc_id")
  }

  /** Heuristic n-gram/stopword language ID: score each candidate
    * language by stopword hits; argmax with a fixed tie order. (The
    * driver corpus is synthetic English-like text — the operator's
    * value is the *shape*: per-row lexicon matching at scan time.) */
  def langId(s: SparkSession, d: String): DataFrame = {
    val lex = Map(
      "en" -> Seq("the", "a", "and", "of", "to"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "des"),
      "es" -> Seq("el", "los", "y", "que", "una"))
    val base = docs(s, d).withColumn("t", tokens(col("text")))
    val scored = lex.foldLeft(base) { case (df, (l, words)) =>
      df.withColumn(s"score_$l",
        size(filter(col("t"), x => x.isInCollection(words))))
    }
    scored
      .withColumn("detected",
        when(col("score_en") >= greatest(col("score_de"), col("score_fr"), col("score_es"))
          && col("score_en") > 0, "en")
          .when(col("score_de") >= greatest(col("score_fr"), col("score_es"))
            && col("score_de") > 0, "de")
          .when(col("score_fr") >= col("score_es") && col("score_fr") > 0, "fr")
          .when(col("score_es") > 0, "es")
          .otherwise("unknown"))
      .groupBy("detected")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("detected")
  }

  /** Content fingerprint: rolling polynomial hash of the canonical
    * (lowercased, alnum-only) byte stream — the classic dedup
    * fingerprint; identical in Spark and DuckDB by construction. */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(
        col("doc_id"),
        polyHash(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).as("fp"))
      .orderBy("doc_id")

  /** Top-20 corpus bigrams (count desc, bigram asc). */
  def topBigrams(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 2)
      .select(explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(20)

  /** Positional phrase search — build the positional inverted index
    * (the retrieval structure `text_bm25` skips: postings carry the
    * token's OFFSET, not just its document) and answer a two-word
    * phrase query with the classic positional join: occurrences of
    * word₁ at position p match occurrences of word₂ at p+1 in the
    * same document. The probe phrase is the corpus's top bigram
    * (deterministic count/lexical tiebreak), so the query always has
    * hits without hardcoding corpus content.
    *
    * Scale posture: both posting lists are filtered to the probe
    * words BEFORE the positional join — a broadcast of the 1-row
    * phrase frame gates each side map-side, so the equi-join on
    * (doc, position) shuffles only the two probe words' postings,
    * never the full index. The index build itself is one explode
    * (linear in corpus tokens); the bigram tally is a map-side
    * zip_with explode + partial agg + TakeOrdered(1). */
  def phraseSearch(s: SparkSession, d: String): DataFrame = {
    // NOT cached, deliberately (r18 A/B): the tokenized frame feeds
    // the top-bigram probe and the positional-index build, but pinning
    // it (text + token arrays in memory) measured SLOWER than letting
    // the second consumer re-scan (isolated min 1.83 s cached vs
    // 1.56 s uncached at sf0.1) — the posting index `pos` below is
    // already the cached artifact both probe sides share.
    val base = docs(s, d).withColumn("t", tokens(col("text")))
    val top = base
      .filter(size(col("t")) >= 2)
      .select(explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(1)
      .select(
        split(col("bigram"), " ").getItem(0).as("w1"),
        split(col("bigram"), " ").getItem(1).as("w2"))
    val pos = cached(base.select(col("doc_id"),
      posexplode(col("t")).as(Seq("p", "w"))))
    val p1 = pos.join(broadcast(top), pos("w") === top("w1"))
      .select(col("doc_id"), col("p"), col("w1"), col("w2"))
    val p2 = pos
      .join(broadcast(top.select(col("w2").as("w2b"))), pos("w") === col("w2b"))
      .select(col("doc_id").as("d2"), col("p").as("p2"))
    p1.join(p2, col("doc_id") === col("d2") && col("p2") === col("p") + 1)
      .groupBy("w1", "w2")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        sum_distinct(col("doc_id")).as("id_checksum"))
  }

  /** Collocation mining — bigrams ranked by POINTWISE MUTUAL
    * INFORMATION expressed as its exact-integer LIFT core:
    * P(ab)/(P(a)P(b)) = n_ab·N²/(M·n_a·n_b) (N tokens, M bigram
    * slots). The log wrapper is monotone, so ranking by the ratio IS
    * ranking by PMI — and the ratio stays EXACT integers in
    * decimal(38,0)/HUGEINT until one final double division, where
    * log() itself has no cross-engine bit guarantee (this codebase
    * uses no transcendental except sqrt, the one IEEE
    * correctly-rounded one). Support ≥ 5 kills the hapax pairs PMI
    * notoriously over-ranks.
    *
    * Scale: two map-side explodes + partial+final tallies
    * (vocabulary- and bigram-vocabulary-sized), two 1-row totals
    * broadcast, unigram counts joined onto the bigram table by
    * word key — AQE broadcasts them at small SF, shuffles at
    * catalog scale. */
  def collocations(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    // project to the token array BEFORE caching: a bare withColumn
    // would persist every document column alongside it (measured in
    // the round's ReadSchema audit)
    val base = cached(docs(s, d).select(tokens(col("text")).as("t")))
    val uni = cached(base.select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n")))
    val totN = uni.agg(sum("n").as("nn"))
    val big = base.filter(size(col("t")) >= 2)
      .select(explode(
        zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
    val totM = big.agg(sum("n_ab").as("mm"))
    big
      .join(uni.select(col("w").as("w1"), col("n").as("n_a")), "w1")
      .join(uni.select(col("w").as("w2"), col("n").as("n_b")), "w2")
      .crossJoin(broadcast(totN)).crossJoin(broadcast(totM))
      .select(col("w1"), col("w2"), col("n_ab"), col("n_a"), col("n_b"),
        ((col("n_ab").cast(dec) * col("nn") * col("nn")).cast("double") /
          (col("mm").cast(dec) * col("n_a") * col("n_b")).cast("double"))
          .as("pmi_lift"))
      .orderBy(col("pmi_lift").desc, col("w1"), col("w2"))
      .limit(20)
  }

  /** Lite suffix stemmer — a fixed, first-match-wins rule list
    * (sses→ss, ies→y, -ing, -ed, keep -ss, strip -s) with minimum
    * length guards, the normalization a vocabulary-compression pass
    * runs before counting. Deliberately spelled with suffix tests +
    * substring on BOTH engines (no regex at all), so there is no
    * regex-dialect surface to diverge on; the rule list is the
    * operator's declared semantics, not an attempt at full Porter. */
  private def stemLite(t: Column): Column = {
    def keep(k: Int) = t.substr(lit(1), length(t) - k)
    when(length(t) > 4 && t.endsWith("sses"), keep(2))
      .when(length(t) > 4 && t.endsWith("ies"), concat(keep(3), lit("y")))
      .when(length(t) > 5 && t.endsWith("ing"), keep(3))
      .when(length(t) > 4 && t.endsWith("ed"), keep(2))
      .when(t.endsWith("ss"), t)
      .when(length(t) > 3 && t.endsWith("s"), keep(1))
      .otherwise(t)
  }

  /** Top stems by token mass, with the surface-form fan-in each stem
    * absorbs — the report that quantifies what suffix normalization
    * buys a vocabulary (n_forms > 1 rows are the compression). The
    * driver corpus carries no inflected variants, so each document
    * plants its first token's -s/-ing/-ed forms (the
    * `filter_pii_scrub` fixture idiom, byte-identical on both
    * engines) — the merge path is then measured, not vacuous. Pure
    * map-side stemming; the only shuffle carries (stem, surface)
    * then (stem) keys. */
  def stemTop(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("tk", tokens(col("text")))
      // ANSI element_at ERRORS out of bounds; token-free docs are
      // skipped like the oracle's IS NOT NULL
      .withColumn("w", when(size(col("tk")) > 0, element_at(col("tk"), 1)))
      .filter(col("w").isNotNull)
      .withColumn("m", concat(col("text"),
        lit(" "), col("w"), lit("s"),
        lit(" "), col("w"), lit("ing"),
        lit(" "), col("w"), lit("ed")))
      .select(explode(tokens(col("m"))).as("t"))
      .select(stemLite(col("t")).as("stem"), col("t"))
      .groupBy("stem", "t").agg(count(lit(1)).as("n"))
      .groupBy("stem")
      .agg(sum("n").as("n_tokens"), count(lit(1)).as("n_forms"))
      .orderBy(col("n_tokens").desc, col("stem"))
      .limit(20)

  private val SaDocs = 20 // docs concatenated into the SA fixture
  private val SaOut = 100 // emitted prefix of the suffix array

  /** DISTRIBUTED SUFFIX ARRAY by prefix doubling (Manber–Myers) —
    * the index structure behind exact-substring search and
    * suffix-based dedup, built the way a cluster must build it: no
    * suffix string — and no corpus string — is ever materialized.
    * State is a (pos, rank) table; each round ranks pairs
    * (rank[p], rank[p+2^k]) — one self-join at offset 2^k, then a
    * DENSE rank over the distinct pairs via the two-phase
    * range-partition spelling (`pipeline_global_ids` — never a
    * single-partition window) — doubling the compared prefix length
    * until all ranks are distinct (log n rounds; early-converges in
    * 3–4 on natural text). Each round checkpoints to a parquet leaf
    * (the CC/kcore lineage cut) and the convergence probe is a
    * 1-row count.
    *
    * Character access is a distributed (pos, ch) table built from
    * per-document offsets (a two-phase prefix sum over doc lengths —
    * the r14 soft spot closed: no `collect_list`-concatenated
    * one-row corpus string anywhere, so the same plan holds at any
    * corpus size). Initial ranks read it directly; output prefixes
    * and LCP folds GATHER-join it on position. The fixture is the
    * first [[SaDocs]] documents (constant-size so the ORACLE can
    * afford the O(n²)-character naive spelling — sort the actual
    * suffix strings); ASCII byte order = both engines' string
    * order, so ranks agree exactly. */
  def suffixArray(s: SparkSession, d: String): DataFrame = {
    val (chars, r) = saRanks(s, d)
    // 24-char output prefix: explode each selected position into its
    // window and gather chars by an equi-join on position — the inner
    // join truncates at corpus end exactly like substr would.
    r.filter(col("rk") <= SaOut)
      .select(col("rk").as("sa_rank"), col("pos"),
        explode(sequence(col("pos"), col("pos") + 23)).as("cpos"))
      .join(chars.withColumnRenamed("pos", "cpos"), "cpos")
      .groupBy("sa_rank", "pos")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("cpos"), col("ch")))),
        x => x("ch")), "").as("prefix"))
      .orderBy("sa_rank")
  }

  /** Distributed (pos, ch) corpus character table: each document's
    * global offset is a two-phase prefix sum over (doc length + 1)
    * in doc-id order ('~' joins adjacent documents, as the oracle's
    * `string_agg(text, '~')` spells it); each doc then explodes into
    * its own characters — per-doc rows, never a corpus-sized string
    * on any single row. */
  private def saChars(s: SparkSession, d: String): DataFrame = {
    val dl = docs(s, d).filter(col("doc_id") < SaDocs)
      .select(col("doc_id"), col("text"), (length(col("text")) + 1).as("len1"))
      .repartitionByRange(32, col("doc_id"))
      .withColumn("pid", spark_partition_id())
    val cdl = cached(dl)
    val offs = cdl.groupBy("pid").agg(sum("len1").as("cnt"))
      .withColumn("o", coalesce(
        sum("cnt").over(Window.orderBy("pid")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("pid", "o")
    val local = Window.partitionBy("pid").orderBy("doc_id")
    val total = cdl.agg(sum("len1")).head.getLong(0)
    cdl
      .withColumn("l", coalesce(
        sum("len1").over(local.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .join(broadcast(offs), "pid")
      // '~'-terminate every doc, then drop the final corpus position
      // (the trailing separator past the last doc)
      .select((col("o") + col("l")).as("off"), concat(col("text"), lit("~")).as("t"))
      .select(col("off"), explode(sequence(lit(0L), length(col("t")) - 1)).as("i"),
        col("t"))
      .select((col("off") + col("i")).as("pos"),
        expr("substr(t, CAST(i AS INT) + 1, 1)").as("ch"))
      .filter(col("pos") < total - 1)
  }

  /** The converged (pos, rank) table + the shared (pos, ch) char
    * table — used by [[suffixArray]] and
    * [[longestRepeatedSubstrings]]. */
  private def saRanks(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val chars = cached(saChars(s, d))
    val n = chars.count()
    // dense rank of the distinct (rk, rk2) keys — two-phase; ALSO
    // applied to the initial single-char ranks, so ranks are dense
    // 1..|keys| even when the doubling loop never runs (an
    // all-distinct-byte fixture) and the rk <= SaOut output filter
    // matches the oracle's row_number unconditionally
    def denseRank(keyed: DataFrame): DataFrame = {
      val keys = cached(keyed.select("rk", "rk2").distinct()
        .repartitionByRange(32, col("rk"), col("rk2"))
        .withColumn("pid", spark_partition_id()))
      val offs = keys.groupBy("pid").agg(count(lit(1)).as("cnt"))
        .withColumn("o", coalesce(
          sum("cnt").over(Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("pid", "o")
      val local = Window.partitionBy("pid").orderBy("rk", "rk2")
      val ids = keys.withColumn("l", row_number().over(local))
        .join(broadcast(offs), "pid")
        .select(col("rk"), col("rk2"), (col("o") + col("l")).as("nrk"))
      keyed.join(ids, Seq("rk", "rk2"))
        .select(col("pos"), col("nrk").as("rk"))
    }
    // ranks are dense 1..|keys|, so the max rank observed on the
    // checkpoint write is the distinct-rank count: a round is one action
    def ranked(keyed: DataFrame): (DataFrame, Long) = {
      val obs = org.apache.spark.sql.Observation()
      val leaf = ckptRound(denseRank(keyed)
        .observe(obs, coalesce(max(col("rk")), lit(0L)).as("d")), "graft-sa")
      (leaf, obs.get("d").asInstanceOf[Long])
    }
    var (r, distinct) = ranked(chars
      .select(col("pos"),
        ascii(col("ch")).cast("bigint").as("rk"),
        lit(-1L).as("rk2")))
    var off = 1L
    while (off < n && distinct < n) {
      val shifted = r.select((col("pos") - off).as("pos"), col("rk").as("rk2"))
      val keyed = r.join(shifted, Seq("pos"), "left")
        .na.fill(-1L, Seq("rk2"))
      val (r2, d2) = ranked(keyed)
      r = r2
      distinct = d2
      off *= 2
    }
    System.err.println(s"[sa] n=$n prefix_len=$off distinct=$distinct")
    (chars, r)
  }

  /** Fold-computed LCP cap — long enough for any repeat in the
    * fixture, bounded so the per-pair fold cost is a constant. */
  private val LcpCap = 200

  /** LONGEST REPEATED SUBSTRINGS from the converged suffix array —
    * the statistic suffix structures exist for in a dedup pipeline
    * (the char-level sibling of the token-level `dedup_repeated_
    * spans`): the maximal LCP in suffix order is the longest string
    * occurring twice, and the top adjacent-pair LCPs rank the most
    * verbatim-duplicated regions. LCP of an adjacent pair is the
    * first offset k ≤ [[LcpCap]] whose characters differ (or run
    * out) — spelled as a k-explode + two GATHER equi-joins against
    * the distributed (pos, ch) table and a min() aggregate, so no
    * corpus-sized string (and no suffix beyond the capped prefix)
    * is ever on any row. Distinct suffixes of one string can never
    * be equal through both ends, so a null char on either side is
    * a mismatch. Adjacent pairs come from one rank self-join
    * (rank, rank+1). */
  def longestRepeatedSubstrings(s: SparkSession, d: String): DataFrame = {
    val (chars, r) = saRanks(s, d)
    val pairs = r.select(col("rk"), col("pos").as("pos_a"))
      .join(r.select((col("rk") - 1).as("rk"), col("pos").as("pos_b")), "rk")
    val ca = chars.select(col("pos").as("ka"), col("ch").as("cha"))
    val cb = chars.select(col("pos").as("kb"), col("ch").as("chb"))
    val lcps = pairs
      .select(col("pos_a"), col("pos_b"),
        explode(sequence(lit(0L), lit(LcpCap - 1L))).as("k"))
      .withColumn("ka", col("pos_a") + col("k"))
      .withColumn("kb", col("pos_b") + col("k"))
      .join(ca, Seq("ka"), "left")
      .join(cb, Seq("kb"), "left")
      .groupBy("pos_a", "pos_b")
      .agg(coalesce(
        min(when(!(col("cha") <=> col("chb")), col("k"))),
        lit(LcpCap.toLong)).as("lcp"))
    // snippet = chars pos_a .. pos_a + min(lcp, 40) - 1, gathered the
    // same way; lcp = 0 rows get the empty snippet without entering
    // the explode (sequence() would run DESCENDING on an empty span)
    val snip = lcps.filter(col("lcp") > 0)
      .select(col("pos_a"), col("pos_b"),
        explode(sequence(col("pos_a"),
          col("pos_a") + least(col("lcp"), lit(40L)) - 1)).as("cpos"))
      .join(chars.withColumnRenamed("pos", "cpos"), "cpos")
      .groupBy("pos_a", "pos_b")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("cpos"), col("ch")))),
        x => x("ch")), "").as("snippet"))
    lcps.join(snip, Seq("pos_a", "pos_b"), "left")
      .select(col("lcp"), col("pos_a"), col("pos_b"),
        coalesce(col("snippet"), lit("")).as("snippet"))
      .orderBy(col("lcp").desc, col("pos_a"), col("pos_b"))
      .limit(10)
  }

  /** Zipf frequency SPECTRUM in power-of-two bins — the corpus-law
    * diagnostic a tokenizer/vocab decision reads first: how many
    * vocabulary types occur [2^k, 2^{k+1}) times and how much token
    * mass each band carries (a healthy natural corpus is ~straight in
    * log-log; synthetic, deduplicated, or template-heavy corpora bend
    * visibly). The bin index is `length(bin(freq))` = ⌊log₂ f⌋ + 1 —
    * pure integer structure on BOTH engines (`bin` is the same
    * binary-string rendering in Spark and DuckDB), so no float log is
    * ever taken and boundary frequencies can't flip bins.
    *
    * Scale: one token explode → vocab-keyed count, then a ≤ 64-row
    * spectrum aggregate. */
  def zipfBins(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(explode(tokens(col("text"))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("f"))
      .groupBy(length(bin(col("f"))).as("freq_bin"))
      .agg(count(lit(1)).as("n_types"), sum("f").as("n_tokens"),
        min("f").as("min_freq"), max("f").as("max_freq"))
      .orderBy("freq_bin")

  /** Vocabulary GROWTH curve (Heaps' law observable): per decile of
    * the doc-id order — the tokens that decile's documents carry, the
    * distinct types they touch, and the types FIRST seen there. A
    * corpus whose late deciles still mint many new types needs a
    * bigger tokenizer vocab (or is drifting); one whose n_new_types
    * flattens early is safe to freeze (the driver corpus mints its
    * whole small vocabulary in decile 0 — the curve reads that
    * instantly). Exact by construction: a type's first-seen decile is
    * `min(decile)` — one vocab-keyed aggregate, no ordering, no
    * cumulative window.
    *
    * Scale: one explode feeding two aggregates — a (decile)-keyed
    * mass/distinct count and a (token) partial+final min — plus a
    * 1-row doc-count frame broadcast in; the report is 10 rows. */
  def vocabGrowth(s: SparkSession, d: String): DataFrame = {
    val nd = docs(s, d).agg((max("doc_id") + 1).as("nd"))
    val tok = cached(docs(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .crossJoin(broadcast(nd))
      .select(expr("(doc_id * 10) div nd").as("decile"), col("t")))
    val perDecile = tok.groupBy("decile")
      .agg(count(lit(1)).as("token_mass"),
        countDistinct(col("t")).as("n_types_seen"))
    val minted = tok.groupBy("t").agg(min("decile").as("decile"))
      .groupBy("decile").agg(count(lit(1)).as("n_new_types"))
    perDecile.join(minted, Seq("decile"), "left")
      .select(col("decile"), col("n_types_seen"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"),
        col("token_mass"))
      .orderBy("decile")
  }

  /** RAKE phrase-boundary stopword lexicon — deliberately the small
    * fixed list the shared-literal oracle embeds verbatim (a 100 TB
    * deployment swaps in a full lexicon; the operator shape is
    * unchanged). */
  private val RakeStop =
    Seq("the", "a", "and", "of", "to", "in", "is", "it",
      "for", "on", "with", "as")

  /** RAKE keyword extraction (Rose et al. 2010) — the classic
    * unsupervised keyphrase ranker: candidate phrases are the maximal
    * runs of non-stopword tokens, each word scores degree (total
    * length of phrases containing it, with multiplicity) over
    * frequency (its phrase-occurrence count), and a phrase scores by
    * the sum of its words' deg/freq ratios — long multi-word
    * technical phrases outrank bare frequent words, which is exactly
    * what TF-style rankers miss. The per-word ratio is carried in
    * exact MILLI-units, `(1000·deg) div freq` (a float ratio summed
    * across words would be accumulation-order-dependent and could
    * never hash-match), so the whole score is a sum of longs and the
    * top-20 (score desc, phrase asc) is bit-reproducible.
    *
    * Execution: phrase ids are a per-document running stopword count
    * (doc-bounded window over positions — never global); words carry
    * (doc, phrase) keys through two vocabulary-sized aggregations;
    * phrase text assembles position-ordered inside one struct-sorted
    * aggregate, not a window. Shuffles carry (doc, phrase) and
    * (word) keys only — at 100 TB every stage is corpus-linear with
    * vocabulary-sized reduce states. */
  def rakeKeywords(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))))
      .toDF("doc_id", "pos", "tok")
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    val phw = cached(toks
      .withColumn("stop",
        when(col("tok").isInCollection(RakeStop), 1L).otherwise(0L))
      .withColumn("pid", sum("stop").over(w))
      .filter(col("stop") === 0)
      .select("doc_id", "pid", "pos", "tok"))
    val plen = phw.groupBy("doc_id", "pid").agg(count(lit(1)).as("plen"))
    val wstats = phw.join(plen, Seq("doc_id", "pid"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("plen").as("deg"))
      .select(col("tok"), expr("(1000 * deg) div freq").as("wscore"))
    val scored = phw.join(wstats, "tok")
      .groupBy("doc_id", "pid")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x("tok")), " ").as("phrase"),
        count(lit(1)).as("nw"),
        sum("wscore").as("score"))
    // word scores are global, so identical phrase text ⇒ identical
    // score; min() just picks the shared value inside one mergeable
    // aggregate
    scored.groupBy("phrase")
      .agg(count(lit(1)).as("phrase_freq"),
        min("nw").as("n_words"),
        min("score").as("rake_score_milli"))
      .select(col("phrase"), col("n_words"), col("phrase_freq"),
        col("rake_score_milli"))
      .orderBy(col("rake_score_milli").desc, col("phrase"))
      .limit(20)
  }

  private val PrScale = 1000000000L // rank mass in integer micro-units
  private val PrIters = 5
  private val PrDampPct = 85 // damping 0.85 as an integer percentage

  /** TextRank keyword scoring: PageRank over the directed word
    * co-occurrence graph (edges = bigram counts, edge weight =
    * occurrence count). The classic iterate-until-stable graph
    * algorithm, run [[PrIters]] damped rounds ENTIRELY in integer
    * arithmetic: ranks live in micro-units of [[PrScale]], each
    * edge's contribution is `(pr · c) div outweight` and the damping
    * step `base + (85 · Σ) div 100` — every sum a sum of longs, so
    * the whole trajectory is order-independent and the DuckDB oracle
    * (the same rounds unrolled as CTEs) matches bit-for-bit. A
    * floating-point PageRank could never hash-match: the in-neighbor
    * sum order varies with partitioning.
    *
    * Scale shape: nodes = vocabulary, edges = distinct bigrams —
    * both grow sublinearly vs the corpus; each round is one
    * edges⋈ranks shuffle join + a partially-aggregated sum, the
    * standard distributed-PageRank plan (Pregel's join-based dual).
    * Edge and node frames are cached once; rank frames are tiny.
    * At 10^12-token scale the rank mass stays < 2^63 because
    * contributions divide by out-weight BEFORE summing. */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val edges = cached(docs(s, d)
      .withColumn("t", tokens(col("text")))
      .filter(size(col("t")) >= 2)
      .select(explode(zip_with(
        slice(col("t"), lit(1), size(col("t")) - 1),
        slice(col("t"), lit(2), size(col("t")) - 1),
        (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      .groupBy("src", "dst").agg(count(lit(1)).as("c")))
    val outw = edges.groupBy("src").agg(sum("c").as("ow"))
    val nodes = cached(edges.select(col("src").as("word"))
      .union(edges.select(col("dst").as("word"))).distinct())
    val n = nodes.agg(count(lit(1)).as("n_nodes"))
    var pr = nodes.crossJoin(broadcast(n))
      .selectExpr("word", s"${PrScale}L div n_nodes AS pr")
    for (_ <- 1 to PrIters) {
      val sums = edges.join(outw, "src")
        .join(pr.withColumnRenamed("word", "src"), "src")
        .selectExpr("dst", "(pr * c) div ow AS contrib")
        .groupBy(col("dst").as("word")).agg(sum("contrib").as("s"))
      pr = nodes.crossJoin(broadcast(n))
        .join(sums, Seq("word"), "left")
        .selectExpr("word",
          s"(15L * ${PrScale}L) div (100L * n_nodes) + " +
            s"(${PrDampPct}L * coalesce(s, 0L)) div 100L AS pr")
    }
    pr.orderBy(col("pr").desc, col("word")).limit(20)
  }

  /** TF-IDF: top-3 terms per document by tf·(N/df) (a log-free IDF —
    * same ranking monotonicity, exactly reproducible arithmetic).
    * Plan shape: explode → (doc,term) agg → repartition by `term` →
    * df agg → join on `term` → window top-k per doc. The df join is
    * deliberately NOT broadcast: its cardinality is the vocabulary,
    * which grows with corpus noise and is not broadcast-sized at
    * 100 TB. Note Spark does NOT treat (doc_id,term) hash partitioning
    * as satisfying a join on `term` alone (ClusteredDistribution needs
    * the partitioning exprs to be a subset of the join keys), so `tf`
    * is explicitly repartitioned by `term` once; both the df
    * aggregation and the join's tf side then reuse that one exchange
    * (identical subplans → ReuseExchange). */
  def tfidfTop(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).withColumn("t", tokens(col("text")))
    // cached: the TF table feeds BOTH the document-frequency rollup
    // and the scoring join. Relying on ReuseExchange instead is a
    // trap — column pruning specializes the two subtrees (the df
    // branch drops the count) so the exchanges stop being identical
    // and the whole tokenize+explode+aggregate pipeline silently runs
    // twice. Materializing TF between stages is also the production
    // shape: it is vocabulary×docs-sized, far smaller than the token
    // stream it summarizes.
    // NO explicit repartition(term) here: the cached plan's root is
    // AdaptiveSparkPlan, whose output partitioning is opaque to
    // consumers (InMemoryTableScan reports unknown partitioning), so
    // the df rollup and the scoring join re-exchange REGARDLESS — the
    // repartition was a pure extra full-table shuffle at cache-build
    // time (measured r18: its removal dropped the cached-plan Exchange
    // count by one with consumer exchanges unchanged). The df branch's
    // own exchange only carries partially-aggregated (term, df)
    // sketches, vocabulary-bounded per partition.
    val tf = cached(base
      .select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf")))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    // doc count as a broadcast 1-row frame — no collect to the driver
    val nDf = docs(s, d).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("term"))
    tf.join(df_, "term")
      .crossJoin(broadcast(nDf))
      .withColumn("score", col("tf") * (col("n_docs").cast("double") / col("df")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("score"), col("rn"))
      .orderBy("doc_id", "rn")
  }

  /** BPE-ish token counting: a GPT-2-style pre-tokenizer regex —
    * letter runs, digit runs, and single punctuation marks as
    * separate tokens (the shape a byte-pair encoder consumes). The
    * pattern avoids lookarounds so Java regex (Spark) and RE2
    * (DuckDB) agree exactly. Whitespace-token counts from
    * [[textStats]] sit alongside for comparison. */
  def bpeTokenCount(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("bpe",
        regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0)))
      .select(
        col("doc_id"),
        size(col("bpe")).as("n_bpe_tokens"),
        size(TextAnalysis.tokens(col("text"))).as("n_ws_tokens"))
      .orderBy("doc_id")

  /** BM25 document ranking for a fixed query-term set, with the
    * rational (log-free) IDF `(N - df + 0.5) / (df + 0.5)` — a
    * monotone stand-in for the usual `ln` form, chosen because `ln`
    * is not correctly-rounded-identical across engines while every
    * op here (int arithmetic, exact widenings, one fixed-shape chain
    * of double mul/div/add) is bit-reproducible in DuckDB. Per-term
    * weights are pivoted into FIXED columns and summed in a fixed
    * order, because a `sum(double)` over shuffled rows is
    * order-dependent.
    *
    * Plan shape: the per-(doc,term) counts filter to the query terms
    * BEFORE the aggregation (the explode side never shuffles
    * non-matching tokens); df and the corpus stats are tiny
    * broadcast frames. Scale: linear scan + a doc-cardinality agg. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    val qterms = Seq("table", "spark", "query")
    // cached: the tokenized per-doc frame feeds the corpus length
    // stats AND the query-term TF — without it the regex tokenizer
    // runs once per consumer (plan specialization defeats
    // ReuseExchange — see [[tfidfTop]]). Caching the token arrays is
    // the "materialized tokenized shard" production pattern; persist()
    // is MEMORY_AND_DISK, so an outsized shard spills instead of
    // failing.
    val ds = cached(docs(s, d).withColumn("t", tokens(col("text")))
      .select(col("doc_id"), size(col("t")).as("dl"), col("t")))
    val corpus = ds.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    // filter INSIDE the array before exploding (r18, guide §2.3):
    // only the query-term occurrences materialize as rows — the
    // explode-then-filter spelling generated a row per corpus token
    // first. Same rows survive, so tf is unchanged.
    val tf = ds
      .select(col("doc_id"), col("dl"),
        explode(filter(col("t"), x => x.isInCollection(qterms))).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val denom = col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
    val weighted = tf
      .join(broadcast(dfc), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("w", idf * (col("tf") * lit(2.2)) / denom)
    def wTerm(t: String) =
      coalesce(max(when(col("term") === t, col("w"))), lit(0.0)).as(s"w_$t")
    weighted
      .groupBy("doc_id")
      .agg(wTerm("table"), wTerm("spark"), wTerm("query"))
      .select(col("doc_id"), col("w_table"), col("w_spark"), col("w_query"),
        (col("w_table") + col("w_spark") + col("w_query")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  private val BpeRounds = 5
  /** `text_bpe_train12`'s round count: past CkptEvery = 8, so the
    * registered query actually crosses a loop checkpoint. */
  private val DeepBpeRounds = 12
  /** Token separator inside the PAIR encoding (the round-winner key
    * lhs<sep>rhs) and the oracle's string-state replay — a control
    * char the cleaned token alphabet ([a-z0-9]) can never contain,
    * so a separator collision is impossible by construction. */
  private val BpeSep = "\u0001"

  /** BPE tokenizer TRAINING — the real iterative merge loop, not the
    * regex approximation [[bpeTokenCount]] applies at inference. Each
    * round counts every adjacent token pair across the corpus, picks
    * the most frequent (ties by byte order), and rewrites the corpus
    * with that pair merged — the left-to-right non-overlapping merge
    * GPT-2-style BPE performs. Output: the [[BpeRounds]] learned
    * merges in order, with their pre-merge pair counts.
    *
    * Scale: the tokenized corpus is written once as a parquet leaf
    * ([[bpeCorpus]]), and a `Dataset.observe` on that write counts its
    * tokens. At or below [[LocalBpeTokens]] tokens every round runs in
    * ONE task over that leaf ([[localRounds]]): the distributed loop
    * would only pay per-round jobs and codegen there (on the perfbench
    * `driver_loops` corpus, 18 → 3 jobs a lap). Every registered corpus
    * fits under the bound; sf0.1 has about 270k tokens. The learned
    * merges reach the driver as at most one row per round, the loop's
    * control decision, and plan as a LocalTableScan; corpus rows never
    * do. Above the bound the distributed loop ([[bpeRounds]]) runs:
    * per round the corpus is scanned map-side (explode of adjacent
    * pairs feeds a partially-aggregated count — the shuffle carries
    * |vocab²∩corpus| pair tallies, not tokens) and the argmax is
    * TakeOrdered(1). The corpus itself never shuffles in any round.
    * Production BPE trainers run on a sampled shard for exactly this
    * reason; the loop here is the shard trainer. */
  def bpeTrain(s: SparkSession, d: String): DataFrame =
    bpeTrainN(s, d, BpeRounds)

  /** [[bpeTrain]] at an arbitrary round count. The registered
    * `text_bpe_train12` variant runs [[DeepBpeRounds]] rounds, past the
    * distributed loop's [[graft.Core.CkptEvery]] = 8 parquet-leaf
    * checkpoint. Its corpus is under [[LocalBpeTokens]], so it finishes
    * locally and never crosses that checkpoint; the crossing keeps its
    * correctness check through the BPE equality spec, which compares
    * [[iterativeBpe]] with [[localBpe]] at 12 and 20 rounds (CoreSpec
    * still pins the checkpointed plan's shape). */
  private[graft] def bpeTrainN(s: SparkSession, d: String, n: Int): DataFrame = {
    val (corpus, nTokens) = bpeCorpus(s, d)
    bpeMergeTable(
      if (nTokens > LocalBpeTokens) bpeRounds(corpus, n)._2 else localMerges(corpus, n))
  }

  /** The registered train table of a merge table (round, pair, cnt).
    * Both paths build the merges on the driver in round order, so the
    * table is a local relation already in order: a sort over it would
    * plan a range exchange, three jobs for at most one row per round. */
  private[graft] def bpeMergeTable(merges: DataFrame): DataFrame =
    merges.select(col("round"),
      element_at(split(col("pair"), BpeSep), 1).as("lhs"),
      element_at(split(col("pair"), BpeSep), 2).as("rhs"),
      replace(col("pair"), lit(BpeSep), lit("")).as("merged"),
      col("cnt"))

  /** BPE APPLY — tokenize the corpus with the merges [[bpeTrain]]
    * learned, reporting per-doc compression accounting (tokens
    * before/after, tokens saved). The final rewrite state of the
    * training loop IS the applied tokenization, so train and apply
    * share one plan prefix; a production pipeline runs apply as the
    * same broadcast-rewrite chain against a FROZEN merge table. On
    * the one-task path the rewritten rows come out of the task that
    * runs the rounds, inside this query's own action. */
  def bpeApply(s: SparkSession, d: String): DataFrame = {
    val (corpus, nTokens) = bpeCorpus(s, d)
    bpeSavings(
      if (nTokens > LocalBpeTokens) bpeRounds(corpus, BpeRounds)._1
      else localState(corpus, BpeRounds))
  }

  /** The registered apply table of a final rewrite state. */
  private[graft] def bpeSavings(state: DataFrame): DataFrame =
    state
      .select(col("doc_id"), col("n0").as("n_tokens_before"),
        size(col("a")).as("n_tokens_after"),
        (col("n0") - size(col("a"))).as("n_saved"))
      .orderBy("doc_id")

  /** Corpus token count at or below which BPE runs every round in one
    * task ([[localRounds]]). 10⁶ int token ids are about 4 MB, which
    * one task holds comfortably. A constant, not a knob: above it the
    * distributed loop runs as before. */
  private val LocalBpeTokens = 1000000L

  /** The tokenized corpus (doc_id, n0, a) of the documents with at
    * least one token, written once as a parquet leaf, and its token
    * count (the sum of n0), counted by an observation on that write. */
  private def bpeCorpus(s: SparkSession, d: String): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation("bpe-tokens")
    val corpus = parquetLeaf(docs(s, d)
        .select(col("doc_id"), tokens(col("text")).as("t"))
        .filter(size(col("t")) > 0)
        .select(col("doc_id"), size(col("t")).as("n0"), col("t").as("a"))
        .observe(obs, coalesce(sum(col("n0")), lit(0L)).as("n")),
      tempDir("graft-bpe-corpus"))
    (corpus, obs.get("n").asInstanceOf[Long])
  }

  /** (final per-doc state, merge table) of the distributed loop
    * whatever the corpus size: CoreSpec and PlanSpec pin its plans,
    * and the equality spec compares it with [[localBpe]]. */
  private[graft] def iterativeBpe(s: SparkSession, d: String, n: Int): (DataFrame, DataFrame) =
    bpeRounds(bpeCorpus(s, d)._1, n)

  /** (final per-doc state, merge table) of the one-task path whatever
    * the corpus size; each frame runs the rounds once. */
  private[graft] def localBpe(s: SparkSession, d: String, n: Int): (DataFrame, DataFrame) = {
    val corpus = bpeCorpus(s, d)._1
    (localState(corpus, n), localMerges(corpus, n))
  }

  /** The distributed merge loop over the corpus leaf: (final per-doc
    * state, merge table).
    *
    * The per-doc state is the token array, so a merge can only fuse
    * two complete adjacent tokens (the array is boundary-anchored by
    * construction — the hazard the previous string state had to wrap
    * every token in separators for), and the position fold's
    * `i > last + 1` guard reproduces left-to-right non-overlapping
    * replacement exactly: `a a a a → aa aa` and `a a a → aa a` —
    * GPT-2's per-scan semantics. The DuckDB oracle replays the same
    * semantics through its own separator-wrapped string state
    * (`␟lhs␟␟rhs␟ → ␟merged␟` literal replace), which is provably the
    * same merge: a just-merged token can never seed another match in
    * the same scan on either side (merged = lhs+rhs ≠ lhs). The
    * rebuild maps over `a` itself, so every state, rewritten or
    * checkpointed, has the corpus leaf's schema. */
  private def bpeRounds(corpus: DataFrame, n: Int): (DataFrame, DataFrame) = {
    def pairs(t: Column): Column =
      zip_with(slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
        (a, b) => concat(a, lit(BpeSep), b))
    var cur = corpus
    val winners = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    for (r <- 1 to n) {
      // The round winner is ONE row: the argmax rides
      // TakeOrderedAndProject (per-partition top-1 merge) and lands
      // on the driver as the loop's control decision — same class as
      // the connected-components convergence probe. It must NOT be
      // re-joined as a derived 1-row frame: that frame's plan
      // contains the corpus plan, so each round would reference the
      // previous corpus TWICE (rewrite left side + inside the
      // winner) and the logical tree doubles every round — 2^N nodes
      // by round N, and the post-write explain walk (eager in
      // Spark's command execution) degenerates with it (measured: a
      // 20-round train froze the driver for minutes inside
      // generateTreeString before this rewrite).
      val top = cur.select(explode(pairs(col("a"))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      // a round with NO pairs left (every doc fused to one token)
      // simply stops merging; remaining rounds are no-ops
      if (top.nonEmpty) {
        val pair = top(0).getString(0)
        winners += ((r, pair, top(0).getLong(1)))
        val Array(lhs, rhs) = pair.split(BpeSep, 2)
        // left-to-right NON-OVERLAPPING merge over the token array —
        // GPT-2's per-scan semantics, previously spelled as a
        // boundary-anchored literal replace over a separator-joined
        // string state: collect the merge positions with a fold
        // (a position may merge only when the previous merge did not
        // consume its left token: i > last + 1), then rebuild the
        // array in one transform. A just-merged token can never seed
        // another merge in the same round (merged = lhs+rhs ≠ lhs,
        // rhs nonempty), so the single `last` guard is exact.
        val ms = when(size(col("a")) >= 2,
          aggregate(sequence(lit(1), size(col("a")) - 1),
            struct(lit(-1).as("last"), array_repeat(lit(1), 0).as("ms")),
            (st, i) => when(
              element_at(col("a"), i) === lit(lhs) &&
                element_at(col("a"), i + 1) === lit(rhs) &&
                i > st.getField("last") + 1,
              struct(i.as("last"),
                concat(st.getField("ms"), array(i)).as("ms")))
              .otherwise(st),
            st => st.getField("ms")))
          .otherwise(array_repeat(lit(1), 0))
        // ms holds 1-based positions; transform's index is 0-based
        cur = cached(cur
          .withColumn("ms", ms)
          .select(col("doc_id"), col("n0"),
            flatten(transform(col("a"), (t, i) =>
              when(array_contains(col("ms"), i + 1),
                array(lit(pair.replace(BpeSep, ""))))
                .when(array_contains(col("ms"), i),
                  array_repeat(lit(""), 0))
                .otherwise(array(t)))).as("a")))
      }
      // parquet-leaf cut every CkptEvery rounds: a long vocab train
      // (thousands of merges) must not accumulate one rewrite
      // projection per round in the logical plan. Never fires at
      // BpeRounds=5; CoreSpec drives a 20-round loop and pins the
      // depth.
      if (r % graft.Core.CkptEvery == 0)
        cur = graft.Core.ckptRound(cur, "graft-bpe-ckpt")
    }
    val s = corpus.sparkSession
    import s.implicits._
    (cur, winners.toSeq.toDF("round", "pair", "cnt"))
  }

  /** The merge table of [[localRounds]], collected: at most `n` rows,
    * with the distributed loop's schema. */
  private def localMerges(corpus: DataFrame, n: Int): DataFrame = {
    val s = corpus.sparkSession
    import s.implicits._
    corpus.coalesce(1).mapPartitions(rows => localRounds(rows, n)._1.iterator)
      .collect().toSeq.toDF("round", "pair", "cnt")
  }

  /** The final per-doc rows of [[localRounds]], with the corpus leaf's
    * schema. One partition, so a consumer's sort needs no exchange. */
  private def localState(corpus: DataFrame, n: Int): DataFrame =
    corpus.coalesce(1)
      .mapPartitions(rows => localRounds(rows, n)._2)(Encoders.row(corpus.schema))

  /** [[bpeRounds]] in one task over corpus rows (doc_id, n0, a): (the
    * merges, the rows with `a` rewritten). Tokens are interned to int
    * ids, so a pair is one long key. Each round counts the adjacent
    * pairs with overlaps (`a a a` holds `a a` twice, as the
    * distributed explode counts it), takes the highest count, ties to
    * the smaller `lhs<sep>rhs` in UTF-8 byte order (Spark's string
    * order), and merges left to right without overlap ([[mergePair]]).
    * A round with no pair left ends the loop, so the merges can be
    * fewer than `n`. */
  private def localRounds(
      rows: Iterator[Row], n: Int): (Seq[(Int, String, Long)], Iterator[Row]) = {
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    val vocab = scala.collection.mutable.ArrayBuffer.empty[String]
    def intern(t: String): Int = ids.getOrElseUpdate(t, { vocab += t; vocab.length - 1 })
    def pairOf(k: Long): String = vocab((k >>> 32).toInt) + BpeSep + vocab(k.toInt)
    val in = rows.toArray
    val docs = in.map(_.getSeq[String](2).iterator.map(intern).toArray)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var r = 1
    var pairsLeft = true
    while (r <= n && pairsLeft) {
      val counts = new scala.collection.mutable.LongMap[Long]
      docs.foreach { a =>
        var i = 0
        while (i < a.length - 1) {
          val k = (a(i).toLong << 32) | (a(i + 1) & 0xffffffffL)
          counts(k) = counts.getOrElse(k, 0L) + 1
          i += 1
        }
      }
      pairsLeft = counts.nonEmpty
      if (pairsLeft) {
        var best = 0L
        var bestN = 0L
        var bestBytes: Array[Byte] = null // computed only on a tie
        counts.foreachEntry { (k, c) =>
          if (c > bestN) { best = k; bestN = c; bestBytes = null }
          else if (c == bestN) {
            if (bestBytes == null) bestBytes = pairOf(best).getBytes(UTF_8)
            val kb = pairOf(k).getBytes(UTF_8)
            if (java.util.Arrays.compareUnsigned(kb, bestBytes) < 0) { best = k; bestBytes = kb }
          }
        }
        merges += ((r, pairOf(best), bestN))
        val (lhs, rhs) = ((best >>> 32).toInt, best.toInt)
        val merged = intern(vocab(lhs) + vocab(rhs))
        docs.indices.foreach(i => docs(i) = mergePair(docs(i), lhs, rhs, merged))
      }
      r += 1
    }
    (merges.toSeq, in.iterator.zip(docs.iterator).map { case (row, a) =>
      Row(row.get(0), row.get(1), a.toSeq.map(vocab)) })
  }

  /** `a` with each `lhs rhs` pair, scanned left to right without
    * overlap, replaced by `merged`: `a a a → aa a`. */
  private def mergePair(a: Array[Int], lhs: Int, rhs: Int, merged: Int): Array[Int] = {
    val out = new Array[Int](a.length)
    var i = 0
    var j = 0
    while (i < a.length) {
      if (i + 1 < a.length && a(i) == lhs && a(i + 1) == rhs) { out(j) = merged; i += 2 }
      else { out(j) = a(i); i += 1 }
      j += 1
    }
    if (j == a.length) a else java.util.Arrays.copyOf(out, j)
  }

  /** The oracle replay of [[bpeRounds]]: d0..dN rewrite states (doc_id
    * and pre-merge count carried through) and m1..mN round winners —
    * shared by the train and apply oracles.
    *
    * Every CTE is `AS MATERIALIZED`: each round references the
    * previous round's state twice (the pair scan and the rewrite's
    * FROM), so DuckDB's default CTE *inlining* expands the chain as
    * a tree — 2^rounds plan nodes. At 12 rounds the inlined oracle
    * never finishes PLANNING (>10 min, killed); materialized it runs
    * in under a second. Same failure mode, same fix as the k-core
    * peel oracle. */
  private def oBpeChain(bpeRounds: Int): String = {
    // ␟tok␟␟tok␟ wrapped state + boundary-anchored literal patterns —
    // byte-for-byte the [[bpeRounds]] spellings
    val retok = "string_split(trim(s, chr(1)), chr(1) || chr(1))"
    val rounds = (1 to bpeRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT pair, COUNT(*) AS cnt FROM (
         |    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
         |      k -> t[k] || chr(1) || t[k + 1])) AS pair
         |    FROM (SELECT $retok AS t FROM d${r - 1}))
         |  GROUP BY pair),
         |m$r AS MATERIALIZED (SELECT $r AS round, pair, cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |d$r AS MATERIALIZED (
         |  SELECT doc_id, n0, replace(s,
         |      COALESCE(chr(1) || replace(m$r.pair, chr(1), chr(1) || chr(1)) || chr(1), chr(2)),
         |      COALESCE(chr(1) || replace(m$r.pair, chr(1), '') || chr(1), '')) AS s
         |  FROM d${r - 1} LEFT JOIN m$r ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""d0 AS MATERIALIZED (
       |  SELECT doc_id, CAST(len(t) AS INTEGER) AS n0,
       |    chr(1) || array_to_string(t, chr(1) || chr(1)) || chr(1) AS s
       |  FROM (SELECT doc_id, $oTokens AS t FROM documents) WHERE len(t) > 0),
       |$rounds""".stripMargin
  }

  private def oBpeTrainSql(bpeRounds: Int): String = {
    val union = (1 to bpeRounds).map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
    s"""WITH ${oBpeChain(bpeRounds)}
       |SELECT CAST(round AS INTEGER) AS round,
       |  string_split(pair, chr(1))[1] AS lhs,
       |  string_split(pair, chr(1))[2] AS rhs,
       |  replace(pair, chr(1), '') AS merged, cnt
       |FROM ($union) ORDER BY round""".stripMargin
  }

  private val oBpeApplySql: String =
    s"""WITH ${oBpeChain(BpeRounds)}
       |SELECT doc_id, n0 AS n_tokens_before,
       |  CAST(len(string_split(trim(s, chr(1)), chr(1) || chr(1))) AS INTEGER) AS n_tokens_after,
       |  n0 - CAST(len(string_split(trim(s, chr(1)), chr(1) || chr(1))) AS INTEGER) AS n_saved
       |FROM d$BpeRounds ORDER BY doc_id""".stripMargin

  /** The [[bm25]] oracle CTE chain through `p` (per-doc BM25 term
    * weights) — shared with the hybrid-retrieval fusion oracle
    * ([[Similarity]]'s `search_hybrid_rrf`), which re-ranks the same
    * lexical scores against a semantic leg. */
  private[operators] val oBm25Cte: String =
    s"""ds AS (SELECT doc_id, len($oTokens) AS dl, $oTokens AS t FROM documents),
       |corpus AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM ds),
       |tf AS (SELECT doc_id, dl, term, COUNT(*) AS tf
       |       FROM (SELECT doc_id, dl, unnest(t) AS term FROM ds)
       |       WHERE term IN ('table', 'spark', 'query')
       |       GROUP BY doc_id, dl, term),
       |dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |w AS (SELECT doc_id, term,
       |    (((n_docs - df + CAST(0.5 AS DOUBLE)) / (df + CAST(0.5 AS DOUBLE)))
       |     * (tf * CAST(2.2 AS DOUBLE)))
       |    / (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE)
       |       + CAST(0.75 AS DOUBLE) * (CAST(dl AS DOUBLE)
       |         / (CAST(sum_dl AS DOUBLE) / n_docs)))) AS w
       |  FROM tf JOIN dfc USING (term) CROSS JOIN corpus),
       |p AS (SELECT doc_id,
       |    COALESCE(MAX(CASE WHEN term = 'table' THEN w END), CAST(0 AS DOUBLE)) AS w_table,
       |    COALESCE(MAX(CASE WHEN term = 'spark' THEN w END), CAST(0 AS DOUBLE)) AS w_spark,
       |    COALESCE(MAX(CASE WHEN term = 'query' THEN w END), CAST(0 AS DOUBLE)) AS w_query
       |  FROM w GROUP BY doc_id)""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("text_bpe_tokens", bpeTokenCount, Some(
      s"""SELECT doc_id,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
         |  len($oTokens) AS n_ws_tokens
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("text_stats", textStats, Some(
      s"""SELECT doc_id, n_chars, len(t) AS n_tokens,
         |  len(list_distinct(t)) AS n_distinct,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(t, x -> CAST(length(x) AS BIGINT))), (a,b) -> a+b) AS DOUBLE)
         |    / len(t) AS mean_tok_len
         |FROM (SELECT doc_id, n_chars, $oTokens AS t FROM documents)
         |ORDER BY doc_id""".stripMargin)),
    Q("text_quality", qualityScore, Some(
      s"""SELECT doc_id, len(t) AS n_tokens,
         |  len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it'))) AS n_stop,
         |  length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS n_sym,
         |  CAST(len(list_filter(t, x -> x IN ('the','a','and','of','to','in','is','it'))) AS DOUBLE) / len(t) AS stop_ratio,
         |  CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS DOUBLE) / n_chars AS sym_ratio,
         |  CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS ttr
         |FROM (SELECT doc_id, n_chars, text, $oTokens AS t FROM documents)
         |ORDER BY doc_id""".stripMargin)),
    Q("text_langid", langId, Some(
      s"""SELECT detected, COUNT(*) AS n_docs FROM (
         |  SELECT CASE
         |    WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
         |    WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
         |    WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
         |    WHEN s_es > 0 THEN 'es'
         |    ELSE 'unknown' END AS detected
         |  FROM (SELECT
         |    len(list_filter(t, x -> x IN ('the','a','and','of','to'))) AS s_en,
         |    len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS s_de,
         |    len(list_filter(t, x -> x IN ('le','la','et','les','des'))) AS s_fr,
         |    len(list_filter(t, x -> x IN ('el','los','y','que','una'))) AS s_es
         |  FROM (SELECT $oTokens AS t FROM documents)))
         |GROUP BY detected ORDER BY detected""".stripMargin)),
    Q("text_fingerprint", fingerprint, Some(
      s"""SELECT doc_id, ${oPolyHash("regexp_replace(lower(text), '[^a-z0-9]', '', 'g')")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Q("text_pagerank", pagerank, Some {
      // the same integer rounds [[pagerank]] runs, unrolled as CTEs
      val rounds = (0 until PrIters).map { i =>
        s"""c$i AS MATERIALIZED (
           |  SELECT dst, (pr * c) // ow AS contrib
           |  FROM edges JOIN outw USING (src) JOIN pr$i ON pr$i.word = edges.src),
           |s$i AS MATERIALIZED (SELECT dst AS word, CAST(SUM(contrib) AS BIGINT) AS s FROM c$i GROUP BY dst),
           |pr${i + 1} AS MATERIALIZED (
           |  SELECT word, CAST((15 * CAST($PrScale AS BIGINT)) // (100 * n_nodes)
           |    + ($PrDampPct * COALESCE(s, 0)) // 100 AS BIGINT) AS pr
           |  FROM nodes CROSS JOIN n LEFT JOIN s$i USING (word))""".stripMargin
      }.mkString(",\n")
      s"""WITH tok AS MATERIALIZED (SELECT $oTokens AS t FROM documents),
         |e0 AS (
         |  SELECT t[g] AS src, t[g+1] AS dst
         |  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS g
         |        FROM tok WHERE len(t) >= 2)),
         |edges AS MATERIALIZED (SELECT src, dst, COUNT(*) AS c FROM e0 GROUP BY src, dst),
         |outw AS MATERIALIZED (SELECT src, CAST(SUM(c) AS BIGINT) AS ow FROM edges GROUP BY src),
         |nodes AS MATERIALIZED (SELECT src AS word FROM edges UNION SELECT dst AS word FROM edges),
         |n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
         |pr0 AS MATERIALIZED (SELECT word, CAST($PrScale AS BIGINT) // n_nodes AS pr FROM nodes CROSS JOIN n),
         |$rounds
         |SELECT word, pr FROM pr$PrIters ORDER BY pr DESC, word LIMIT 20""".stripMargin
    }),
    // oracle: the identical first-match-wins suffix CASE — ends_with
    // + substr on both engines, zero regex surface
    Q("text_stem_top", stemTop, Some(
      s"""WITH m AS (
         |  SELECT text || ' ' || w || 's ' || w || 'ing ' || w || 'ed' AS text
         |  FROM (SELECT text, ($oTokens)[1] AS w FROM documents)
         |  WHERE w IS NOT NULL),
         |t AS (SELECT unnest($oTokens) AS t FROM m),
         |st AS (SELECT CASE
         |    WHEN length(t) > 4 AND ends_with(t, 'sses') THEN substr(t, 1, length(t) - 2)
         |    WHEN length(t) > 4 AND ends_with(t, 'ies') THEN substr(t, 1, length(t) - 3) || 'y'
         |    WHEN length(t) > 5 AND ends_with(t, 'ing') THEN substr(t, 1, length(t) - 3)
         |    WHEN length(t) > 4 AND ends_with(t, 'ed') THEN substr(t, 1, length(t) - 2)
         |    WHEN ends_with(t, 'ss') THEN t
         |    WHEN length(t) > 3 AND ends_with(t, 's') THEN substr(t, 1, length(t) - 1)
         |    ELSE t END AS stem, t FROM t),
         |pf AS (SELECT stem, t, COUNT(*) AS n FROM st GROUP BY stem, t)
         |SELECT stem, CAST(SUM(n) AS BIGINT) AS n_tokens, COUNT(*) AS n_forms
         |FROM pf GROUP BY stem
         |ORDER BY n_tokens DESC, stem LIMIT 20""".stripMargin)),
    // oracle: identical exact-integer PMI core; the decimal products
    // ride HUGEINT, one double division at the end
    Q("text_collocations", collocations, Some(
      s"""WITH tok AS MATERIALIZED (SELECT $oTokens AS t FROM documents),
         |uni AS MATERIALIZED (
         |  SELECT w, COUNT(*) AS n FROM (SELECT unnest(t) AS w FROM tok) q
         |  GROUP BY w),
         |nn AS (SELECT CAST(SUM(n) AS HUGEINT) AS nn FROM uni),
         |big AS MATERIALIZED (
         |  SELECT w1, w2, COUNT(*) AS n_ab FROM (
         |    SELECT t[g] AS w1, t[g+1] AS w2
         |    FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS g
         |          FROM tok WHERE len(t) >= 2))
         |  GROUP BY w1, w2 HAVING COUNT(*) >= 5),
         |mm AS (SELECT CAST(SUM(n_ab) AS HUGEINT) AS mm FROM big)
         |SELECT big.w1, big.w2, big.n_ab, a.n AS n_a, b.n AS n_b,
         |  CAST(CAST(big.n_ab AS HUGEINT) * nn.nn * nn.nn AS DOUBLE)
         |    / CAST(mm.mm * a.n * b.n AS DOUBLE) AS pmi_lift
         |FROM big JOIN uni a ON big.w1 = a.w JOIN uni b ON big.w2 = b.w
         |CROSS JOIN nn CROSS JOIN mm
         |ORDER BY pmi_lift DESC, big.w1, big.w2 LIMIT 20""".stripMargin)),
    // oracle: same positional join; DuckDB lists are 1-based where
    // posexplode is 0-based, but positions only ever meet positions
    // from the SAME engine (p2 = p1 + 1), so the offset cancels.
    Q("text_phrase_search", phraseSearch, Some(
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, $oTokens AS t FROM documents),
         |big AS MATERIALIZED (
         |  SELECT t[g] || ' ' || t[g+1] AS bigram, COUNT(*) AS n
         |  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS g
         |        FROM tok WHERE len(t) >= 2)
         |  GROUP BY bigram ORDER BY n DESC, bigram LIMIT 1),
         |tw AS MATERIALIZED (
         |  SELECT string_split(bigram, ' ')[1] AS w1,
         |         string_split(bigram, ' ')[2] AS w2 FROM big),
         |pos AS MATERIALIZED (
         |  SELECT doc_id, g AS p, t[g] AS w
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS g FROM tok)),
         |hits AS (
         |  SELECT tw.w1, tw.w2, a.doc_id
         |  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
         |  JOIN tw ON a.w = tw.w1 AND b.w = tw.w2)
         |SELECT w1, w2, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ,
         |  CAST(SUM(DISTINCT doc_id) AS BIGINT) AS id_checksum
         |FROM hits GROUP BY w1, w2""".stripMargin)),
    Q("text_bigrams", topBigrams, Some(
      s"""SELECT bigram, COUNT(*) AS n FROM (
         |  SELECT t[g] || ' ' || t[g+1] AS bigram
         |  FROM (SELECT t, unnest(generate_series(1, len(t)-1)) AS g
         |        FROM (SELECT $oTokens AS t FROM documents) WHERE len(t) >= 2))
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin)),
    // oracle: the naive spelling — materialize every suffix STRING
    // of the constant-size fixture and sort; binary string order =
    // the engine's ASCII rank order, so the arrays agree exactly
    Q("text_suffix_array", suffixArray, Some(
      s"""WITH doc AS MATERIALIZED (
         |  SELECT string_agg(text, '~' ORDER BY doc_id) AS sstr
         |  FROM documents WHERE doc_id < $SaDocs),
         |suf AS MATERIALIZED (
         |  SELECT g - 1 AS pos, substring(sstr, CAST(g AS INTEGER)) AS suffix
         |  FROM doc, unnest(generate_series(1, length(sstr))) AS t(g)),
         |ranked AS (
         |  SELECT row_number() OVER (ORDER BY suffix) AS sa_rank, pos,
         |    substring(suffix, 1, 24) AS prefix
         |  FROM suf)
         |SELECT sa_rank, pos, prefix FROM ranked
         |WHERE sa_rank <= $SaOut ORDER BY sa_rank""".stripMargin)),
    // oracle: the naive suffix sort again, adjacent ranks by
    // row_number, and the IDENTICAL capped prefix-equality fold
    // oracle LCPs compare the two MATERIALIZED suffix strings
    // directly (first char mismatch k; a pair of distinct suffixes
    // can never run out at the same k, so '' vs char is the
    // mismatch) — never the one-row corpus string: a `FROM pr, doc`
    // cross join re-copies the corpus string per pair row in DuckDB
    // and dominated the whole oracle catalog (measured 5.4 s →
    // 0.4 s at sf0.01). The snippet reads the pair's own suffix.
    Q("text_lrs", longestRepeatedSubstrings, Some(
      s"""WITH doc AS MATERIALIZED (
         |  SELECT string_agg(text, '~' ORDER BY doc_id) AS sstr
         |  FROM documents WHERE doc_id < $SaDocs),
         |suf AS MATERIALIZED (
         |  SELECT g - 1 AS pos, substring(sstr, CAST(g AS INTEGER)) AS suffix
         |  FROM doc, unnest(generate_series(1, length(sstr))) AS t(g)),
         |rk AS MATERIALIZED (
         |  SELECT pos, suffix, row_number() OVER (ORDER BY suffix) AS r FROM suf),
         |lc AS MATERIALIZED (
         |  SELECT a.pos AS pos_a, b.pos AS pos_b, a.suffix AS sfa,
         |    CAST(COALESCE(list_min(list_filter(
         |      list_transform(generate_series(0, ${LcpCap - 1}), k ->
         |        CASE WHEN substring(a.suffix, CAST(1 + k AS INTEGER), 1)
         |                = substring(b.suffix, CAST(1 + k AS INTEGER), 1)
         |             THEN NULL ELSE k END), x -> x IS NOT NULL)),
         |      $LcpCap) AS BIGINT) AS lcp
         |  FROM rk a JOIN rk b ON b.r = a.r + 1)
         |SELECT lcp, pos_a, pos_b,
         |  substring(sfa, 1, CAST(LEAST(lcp, 40) AS INTEGER)) AS snippet
         |FROM lc
         |ORDER BY lcp DESC, pos_a, pos_b LIMIT 10""".stripMargin)),
    // oracle: the same integer bin — bin() renders the identical
    // binary string in DuckDB, so ⌊log₂⌋+1 needs no float log
    Q("text_zipf_bins", zipfBins, Some(
      s"""WITH f AS MATERIALIZED (
         |  SELECT tok, COUNT(*) AS f FROM (
         |    SELECT unnest($oTokens) AS tok FROM documents) q
         |  GROUP BY tok)
         |SELECT CAST(length(bin(f)) AS INTEGER) AS freq_bin,
         |  COUNT(*) AS n_types, CAST(SUM(f) AS BIGINT) AS n_tokens,
         |  MIN(f) AS min_freq, MAX(f) AS max_freq
         |FROM f GROUP BY 1 ORDER BY freq_bin""".stripMargin)),
    // oracle: the same min(decile)-derived first-seen counts over the
    // same integer decile
    Q("text_vocab_growth", vocabGrowth, Some(
      s"""WITH nd AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
         |tok AS MATERIALIZED (
         |  SELECT (doc_id * 10) // nd AS decile, tok FROM (
         |    SELECT doc_id, unnest($oTokens) AS tok FROM documents) q
         |  CROSS JOIN nd),
         |pd AS (SELECT decile, COUNT(*) AS token_mass,
         |         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types_seen
         |       FROM tok GROUP BY decile),
         |mint AS (SELECT decile, COUNT(*) AS n_new_types FROM (
         |    SELECT tok, MIN(decile) AS decile FROM tok GROUP BY tok) m
         |  GROUP BY decile)
         |SELECT pd.decile, pd.n_types_seen,
         |  COALESCE(mint.n_new_types, 0) AS n_new_types, pd.token_mass
         |FROM pd LEFT JOIN mint USING (decile) ORDER BY pd.decile""".stripMargin)),
    // oracle: the same running-stopword-count phrase ids (window
    // over ALL tokens, filter after — SQL WHERE would drop stops
    // before the cumsum), position-ordered string_agg, and the same
    // pooled Σdeg/Σfreq single division
    Q("text_rake_keywords", rakeKeywords, Some {
      val stops = RakeStop.map(x => s"'$x'").mkString(", ")
      s"""WITH tok AS MATERIALIZED (SELECT doc_id, $oTokens AS t FROM documents),
         |pos AS MATERIALIZED (
         |  SELECT doc_id, g AS p, t[g] AS w
         |  FROM (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS g FROM tok)),
         |ph AS MATERIALIZED (
         |  SELECT doc_id, p, w,
         |    CASE WHEN w IN ($stops) THEN 1 ELSE 0 END AS stop,
         |    SUM(CASE WHEN w IN ($stops) THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pid
         |  FROM pos),
         |phw AS MATERIALIZED (
         |  SELECT doc_id, pid, p, w FROM ph WHERE stop = 0),
         |plen AS MATERIALIZED (
         |  SELECT doc_id, pid, COUNT(*) AS plen FROM phw GROUP BY 1, 2),
         |ws AS MATERIALIZED (
         |  SELECT w, (1000 * CAST(SUM(plen) AS BIGINT)) // COUNT(*) AS wscore
         |  FROM phw JOIN plen USING (doc_id, pid) GROUP BY w),
         |sc AS MATERIALIZED (
         |  SELECT phw.doc_id, phw.pid,
         |    string_agg(phw.w, ' ' ORDER BY phw.p) AS phrase,
         |    COUNT(*) AS nw,
         |    CAST(SUM(ws.wscore) AS BIGINT) AS score
         |  FROM phw JOIN ws ON phw.w = ws.w
         |  GROUP BY 1, 2)
         |SELECT phrase, CAST(MIN(nw) AS BIGINT) AS n_words,
         |  COUNT(*) AS phrase_freq,
         |  CAST(MIN(score) AS BIGINT) AS rake_score_milli
         |FROM sc GROUP BY phrase
         |ORDER BY rake_score_milli DESC, phrase LIMIT 20""".stripMargin
    }),
    Q("tfidf_top_terms", tfidfTop, Some(
      s"""WITH tf AS (
         |  SELECT doc_id, unnest(t) AS term FROM (SELECT doc_id, $oTokens AS t FROM documents)),
         |tfc AS (SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY doc_id, term),
         |dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY term),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, term, tf, df,
         |    tf * (CAST(n_docs AS DOUBLE) / df) AS score
         |  FROM tfc JOIN dfc USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
         |  FROM scored)
         |SELECT doc_id, term, tf, df, score, rn FROM ranked WHERE rn <= 3
         |ORDER BY doc_id, rn""".stripMargin)),
    Q("text_bpe_train", bpeTrain, Some(oBpeTrainSql(BpeRounds))),
    Q("text_bpe_train12", (s, d) => bpeTrainN(s, d, DeepBpeRounds),
      Some(oBpeTrainSql(DeepBpeRounds))),
    Q("text_bpe_apply", bpeApply, Some(oBpeApplySql)),
    Q("text_bm25", bm25, Some(
      s"""WITH $oBm25Cte
         |SELECT doc_id, w_table, w_spark, w_query,
         |  (w_table + w_spark + w_query) AS score
         |FROM p ORDER BY score DESC, doc_id LIMIT 20""".stripMargin)),
  )
}
