package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator module contributes a Seq[Q]; each Q pairs the Spark
  * plan with the DuckDB oracle SQL the driver replays at sf0.01.
  */
object SparkEntry {

  /** The full registered catalog. */
  def all: Seq[Q] =
    WordCount.queries ++ Relational.queries ++ Windows.queries ++
      Events.queries ++ TextAnalysis.queries ++ Dedup.queries ++
      SpanDedup.queries ++
      Similarity.queries ++ Multimodal.queries ++ Temporal.queries ++
      Udaf.queries ++ Connectors.queries ++ Bucketing.queries ++
      Pipeline.queries ++ ScalarFns.queries ++ TrainingFilters.queries ++
      Quality.queries ++ graft.streaming.Streams.queries

  /** Flagship query; driver smoke-checks rows>0. The data dir is
    * overridable (env SPARK_GRAFT_SF_DIR) rather than hardcoded. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    WordCount.wordCount(Tables(spark, dir, "documents"))
  }

  /** The registered queries named in `names`, or `default` when no
    * names are given. Fails fast on a name the catalog does not hold:
    * an empty selection would read as a vacuous success (Verify dumps
    * `{}`, Bench prints a ~0 s total). */
  def pick(names: Option[Set[String]], default: Seq[Q]): Seq[Q] =
    names.fold(default) { ns =>
      val unknown = ns -- all.map(_.name)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      all.filter(q => ns(q.name))
    }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.spark).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap

  /** Curated bench subset — one representative per distinct physical
    * plan family, capped at ~70 names so three laps (warmup + two timed
    * passes) fit the driver's wall-clock budget on a host with
    * documented 10–20× interference waves (the full catalog ×3 timed
    * out in r7 before printing anything). Correctness still covers
    * EVERY registered query; demotion here only drops oracle-parity
    * twins and variants whose plan shape is already timed under
    * another name (e.g. `wordcount_text`/`wordcount_salted` vs
    * `wordcount`, `setop_intersect` vs `setop_except_all`,
    * memory-sink streaming twins of file-sink queries). */
  val benchSet: Set[String] = Set(
    // word count family
    // wordcount_topk demoted r16: its plan is wordcount's aggregate
    // (timed above) + a TakeOrdered (timed by topk_orders AND the
    // bounded-heap A/B window_topk_native) — a pure shape twin,
    // demoted to fund the r16 admissions below
    "wordcount",
    // relational / TPC-H-style — join_full_outer is a demoted
    // shape-twin (its full-outer hash join is timed inside
    // maint_table_diff's digest diff below); q6_forecast likewise
    // (scan-filter-agg, timed under q1_pricing/q14_promo_share) in
    // favor of events_value_deciles' percentile + broadcast fold
    "q1_pricing", "q_filter_pushdown", "join_broadcast",
    "join_null_aware_anti", "subquery_above_avg", "agg_arg_minmax",
    "join_multiway", "topk_orders", "distinct_parts", "setop_except_all",
    "join_lateral", "cube_sales", "q14_promo_share",
    "q3_shipping_priority", "q18_large_orders",
    // the partsupp-free Q9 SHAPE: the catalog's one 5-table two-fact
    // rollup with a computed two-term measure (r12 verdict stretch)
    "q9_shape_profit",
    // scalar function library (scalar_dates represents the family;
    // scalar_complex is its oracle-parity twin)
    "scalar_dates",
    // window functions — window_topn_per_cust vs window_topk_native is
    // a deliberate A/B: built-in sort+window spelling vs the custom
    // bounded-heap operator on the same query
    "window_topn_per_cust", "window_topk_native", "window_running_sum",
    // event analytics — events_sessionize vs events_sessionize_native
    // is a deliberate A/B: window+hash-agg spelling vs the custom
    // single-fold operator on the same query
    // events_tumbling is a demoted shape-twin (time-bucketed hash
    // agg, timed under events_retention's rollup) in favor of the
    // round-11 BPE trainer family below; events_scd2 (lag/lead
    // windows over the same user_id exchange) is timed under
    // events_sessionize, making room for events_top_paths — the one
    // per-group collect+sort plan family in the catalog
    "events_top_paths", "events_sessionize",
    "events_sessionize_native",
    "events_funnel", "events_anomaly", "events_range_frame",
    "events_retention", "events_value_deciles",
    // r15 admissions, each a plan family nothing else times, with
    // measured sf0.1 min-of-2 numbers: events_acf (exact n²-scaled
    // integer moments + t+k lag equi-join, 1.06 s),
    // join_interval_overlap (hour-bin-blocked interval self-join +
    // exact verify — the only interval-join family; 3.67 s at
    // admission, 2.25 s after the dedup-free max-start-bin emission),
    // lm_kneser_ney (four count statistics off one bigram table,
    // 1.61 s), multimodal_gif_decode (variable-width LZW + palette
    // mapping — the only entropy-coded decode family, 0.64 s)
    "events_acf", "join_interval_overlap",
    "multimodal_gif_decode",
    // r16 admissions (measured min-of-2 at sf0.1 on admission):
    // q2_shape_min_cost (2.43 s — the decorrelated min-cost-subquery
    // family: one (pk, sk) fact rollup consumed by two branches via
    // ReusedExchange, exact-decimal min-equality join),
    // q20_shape_excess_semi (1.51 s — the semi-join-of-a-semi-join
    // chain gated by a single-scan conditional aggregate),
    // lm_kn_trigram (2.87 s — the two-level back-off join chain; it
    // SUPERSEDES lm_kneser_ney in the bench set, whose flat
    // four-statistic rollup is this plan's lower level — the bigram
    // stays correctness-only). stream_interval_overlap stays
    // correctness-only: its per-batch state rewrite + read-time
    // histogram (6.41 s) is the stream_ann_upsert upsert-loop shape
    // over the already-benched join_interval_overlap tail.
    "q2_shape_min_cost", "q20_shape_excess_semi", "lm_kn_trigram",
    // text analysis — text_langid is a demoted shape-twin (per-row
    // scan + tiny agg, timed under text_stats/filter_unigram_score)
    "text_bpe_tokens", "text_stats", "text_fingerprint",
    "tfidf_top_terms", "text_bm25", "text_bpe_train",
    // corpus hygiene — lm_bigram_prob demoted r16: its count-table +
    // context-rollup + probability join is literally lm_kn_trigram's
    // own lower level, timed there now (lm_kneser_ney stays
    // correctness-only for the same reason)
    "filter_repetition", "filter_decontaminate", "filter_unigram_score",
    // dedup — dedup_ngram_jaccard and dedup_containment_asym are
    // demoted shape-twins (of dedup_minhash_lsh / dedup_containment)
    // in favor of the fuzzy edit-distance family: the D≤2 deletion
    // index is the one O(N·L²) plan family, and timing it NEXT TO its
    // O(N·L) radius-1 sibling makes the per-query map itself show the
    // neighborhood-size multiple.
    "dedup_exact", "dedup_incremental", "dedup_minhash_lsh",
    // bloom-gated incremental: the broadcast-bitset probe + gated
    // semi-join plan family (r13)
    "dedup_bloom_incremental",
    "dedup_clusters", "dedup_containment",
    // repeated-span (ExactSubstr) family: the detector carries the
    // gram shuffle + span folds; clean/keepfirst are its shape twins
    "dedup_repeated_spans",
    "dedup_fuzzy_names", "dedup_fuzzy_names2",
    "dedup_simhash_pairs", "dedup_embedding_lsh",
    // similarity / ANN — sim_knn_label is a demoted shape-twin
    // (label-blocked quadratic + bounded-heap top-k, both timed by
    // dedup_semantic and window_topk_native); dedup_semantic and
    // search_hybrid_rrf are the round-11 families: cluster-blocked
    // semantic pruning and shortlist rank fusion
    "sim_topk_brute", "sim_topk_lsh", "sim_topk_ivf",
    "sim_quantize_int8", "sim_kmeans_full",
    "dedup_semantic", "search_hybrid_rrf",
    // temporal joins
    "asof_click_purchase", "range_clicks_purchase",
    // sketches / UDAF — sketch_join_size times the two-full-scan
    // Count-Min build + cell-product composition (r13); the KMV /
    // CMS point-query twins share its aggregate family and stay
    // correctness-only
    "udaf_weighted_disc", "sketch_approx_quantiles", "sketch_hll_union",
    "sketch_join_size",
    // connectors / maintenance
    "maint_zorder_stats", "maint_table_diff",
    // data-quality: the wide exact-decimal moment aggregate (r13) —
    // one scan, 15 decimal(38,0) sums, correlations derived in the
    // final projection; no other benched query times this family
    "quality_corr_matrix",
    // the two-phase global-rank family on the big events table (r14):
    // range exchange + pid-partitioned window + broadcast offsets —
    // ks_drift/global_ids are its correctness-only shape twins
    "quality_equidepth_hist",
    // positional-index phrase probe: the broadcast-gated posting
    // equi-join family (r14) — no other benched query times a
    // posexplode index build + (doc, position) join
    "text_phrase_search",
    // interval-contribution rolling distinct: the explode-×7 +
    // two-stage countDistinct family (r14)
    "events_rolling_distinct",
    // multimodal — r17: multimodal_mjpeg_decode admitted (1.311 s
    // min-of-2 at sf0.1 across two JVMs — the multi-frame
    // container-walk + per-frame transform-decode family: 3 baseline
    // JPEG entropy decodes + integer IDCTs per row plus the RIFF/idx1
    // validation; no other benched query times a transform codec).
    // multimodal_features demoted to fund it: its byte-stub
    // partition-local fold (0.322 s) is the plan shape every REAL
    // codec decode (gif above, mjpeg here) already times.
    "multimodal_mjpeg_decode",
    // pipeline — bin_pack is the one sortWithinPartitions +
    // per-partition imperative fold family in the catalog (r14)
    "pipeline_corpus_prep", "pipeline_full", "pipeline_mix_weights",
    "pipeline_pack_sequences", "pipeline_bin_pack",
    // streaming
    "stream_wordcount", "stream_heavy_hitters",
    "stream_dedup_watermarked", "stream_user_stats",
    "stream_ann_upsert")

  /** Benchmarked at sf0.1: the curated set minus anything a module
    * marked non-headline (quadratic oracle-parity demos). */
  def benchQueries: Seq[Q] = all.filter(q => q.headline && benchSet(q.name))
}
