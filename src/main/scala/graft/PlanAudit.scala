package graft

/** Plan-quality audit: prints the formatted physical plan for each headline
  * query and greps it for the properties that matter at 100 TB —
  * parquet filter pushdown, column-pruned scans, broadcast joins where a
  * side is dimension-sized, and absence of cartesian products.
  *
  * Run: `sbt "runMain graft.PlanAudit [sfDir]"`. */
object PlanAudit {
  /** Dimension-keyed window sweep (round-10, r9 verdict item 2): q268
    * shipped a corpus-sized window partitioned by the 20-value `source`
    * key because the low-cardinality-window discipline lived in scaladoc
    * convention, not a gate. The sweep machine-checks EVERY contract
    * plan: a Window whose FIRST partition key is a known dimension-sized
    * column serializes data/|dim| rows into one task at any cluster size
    * — unless it is an offset-prefix miniature (ordered by `__pid` over
    * P×G rows, excluded by the lookahead) or the frame is provably
    * aggregate-sized ([[dimWindowWhitelist]], with a justification). */
  val dimensionCols: Seq[String] = Seq(
    "source", "lang", "language", "lang_label", "event_type", "nation",
    "n_name", "r_name", "c_mktsegment", "mktsegment", "segment",
    "l_returnflag", "l_linestatus", "l_shipmode", "o_orderpriority",
    "o_orderstatus", "device", "country", "variant", "stratum")
  val dimWindowRe: scala.util.matching.Regex =
    // the match EXTENDS past the partition key into the order keys /
    // frame spec (up to one plan line): two DIFFERENT windows over the
    // same dimension column then yield different match strings, so the
    // whitelist's distinct-hit budget counts them separately instead of
    // collapsing them into one exemption (round-10 review finding)
    ("""windowspecdefinition\((?:""" + dimensionCols.mkString("|") +
      """)#\d+L?, (?!__pid#)[^\n]{0,60}""").r
  /** query -> (max distinct dim-window matches allowed, why the frame is
    * provably AGGREGATE-sized). The count pin closes the review-pass
    * hole a bare name-exemption left open: a whitelisted query that
    * later GROWS a new dimension-keyed window beyond its justified set
    * fails the sweep instead of riding the old exemption. Anything not
    * listed must ride groupedOrdinal / the offset-prefix primitives,
    * whose miniature windows carry the `__pid` order-key marker. */
  val dimWindowWhitelist: Map[String, (Int, String)] = Map(
    "q147_freq_spectrum" -> (1,
      "window rides the (source, octave) re-aggregate — octave = " +
        "⌊log₂ count⌋ ≤ 64 rows per source at any corpus size"),
    "q159_hourly_bursts" -> (1,
      "trailing-24h frame over the gap-filled (hour, event_type) grid " +
        "— calendar-bounded hours × 5 types, not the raw fact table"),
    "q176_lang_vocab_profile" -> (1,
      "top-10 rank over each language's (lang, token) vocab slice — " +
        "vocabulary-sized (Heaps-sublinear; r9 verdict audited as " +
        "aggregate-sized); cap vocab via q57 top-k first at 100 TB"),
    "q186_ks_drift" -> (1,
      "CDF windows ride the sources × |length-domain| grid — bounded " +
        "by the VALUE DOMAIN, not the corpus (r9 verdict audited)"),
    "q198_lang_confusion" -> (1,
      "row-share window over the |langs|² confusion-cell aggregate"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // 8 cores whatever the host: the expectations assume 8 partitions
    val spark = GraftSession.local(8, logLevel = "ERROR")

    // (substring, mustBePresent) — checked on the pre-execution physical
    // plan (AQE may still improve joins at runtime; codegen stages only
    // appear post-execution, so they are not asserted here).
    val expectations: Map[String, Seq[(String, Boolean)]] = Map(
      "q01_clean_filter" -> Seq("PushedFilters: [IsNotNull(l_quantity)" -> true),
      "q04_rfm" -> Seq("BroadcastNestedLoopJoin" -> true), // 1-row ref side
      "q12_star_join" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // the shingle self-join must ride the BUCKETED staged layout with
      // no live exchange on the shingle key (round-13 verdict item 2 —
      // the write-time shuffle); a regression to an exchange here is the
      // bucket-metadata drift failure mode the q151 pin also guards
      "q31_dedup_ngram_jaccard" -> Seq("CartesianProduct" -> false,
        "Exchange hashpartitioning(shingle" -> false,
        "Bucketed: true" -> true),
      "q50_ann_bruteforce" -> Seq("BroadcastNestedLoopJoin" -> true,
        "CartesianProduct" -> false),
      "q60_events_hourly" -> Seq("HashAggregate" -> true),
      // deterministic sampling: pure narrow maps — any exchange is a bug
      "q47_train_split" -> Seq("Exchange" -> false),
      "q48_hash_sample" -> Seq("Exchange" -> false),
      // rebalance: the big side must join the 5-row rate table broadcast
      "q49_mixture_rebalance" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // quantize: the encode pass is a pure narrow map (stats are literals)
      "q58_quantize_int8" -> Seq("Exchange" -> false),
      // funnel: per-stage type filters must reach the parquet scan
      "q59_funnel" -> Seq("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,signup)" -> true,
        "CartesianProduct" -> false),
      // decontamination: benchmark gram index must broadcast — the corpus
      // side may never shuffle into the join
      "q76_decontaminate" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      "q84_decontam_bloom" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // PII redaction: pure narrow projection — any exchange is a bug
      "q77_pii_redact" -> Seq("Exchange" -> false),
      // gap-fill: grid × types is a miniature cross join (BNLJ on 1-row
      // bounds is fine); a CartesianProduct over the fact table is not
      "q80_gapfill_hourly" -> Seq("CartesianProduct" -> false),
      // merge: equi-join on the key, never a cross product
      "q82_merge_upsert" -> Seq("CartesianProduct" -> false),
      // cube: grouping sets execute via Expand, one aggregate
      "q86_cube_revenue" -> Seq("Expand" -> true, "CartesianProduct" -> false),
      // vocab encode: the dictionary side must broadcast
      "q88_vocab_encode" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // scd2: all windows share the custkey partitioning → exactly one
      // hash exchange in the whole history build
      "q91_scd2_history" -> Seq("CartesianProduct" -> false),
      // tf-idf / pmi: the df/unigram tables must broadcast onto the big side
      "q92_tfidf" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      "q93_pmi_collocations" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // z-order: bounds are a 1-row broadcast (BNLJ fine), never a real cross
      "q94_zorder" -> Seq("CartesianProduct" -> false),
      // pagerank: every iteration joins the edge list by key
      "q95_pagerank" -> Seq("CartesianProduct" -> false),
      // grouping sets / profiling: one Expand-based aggregate, one scan
      "q96_grouping_sets" -> Seq("Expand" -> true, "CartesianProduct" -> false),
      // profiling: union of narrow per-column hash aggregates — the Expand
      // multi-distinct would inflate the shuffle ×6 and sort-aggregate the
      // expanded rows on string keys (measured 10 s vs ~1 s at sf0.1); the
      // per-row path must stay hash (residual sorts only touch the
      // distinct-value table)
      "q98_profile" -> Seq("Expand" -> false, "CartesianProduct" -> false),
      // boilerplate: the df-capped lexicon must broadcast; removal is an
      // anti-join on (doc_id, pos) — never anything pairwise
      "q107_boilerplate" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // semantic dedup: the pairwise stage is an equi-join on coarse_id
      "q108_semantic_dedup" -> Seq("CartesianProduct" -> false),
      // hashed classifier: pure narrow map — any exchange is a bug
      "q109_quality_classifier" -> Seq("Exchange" -> false,
        "CartesianProduct" -> false),
      // custom as-of: the dedicated exec must plan (no fallback) and the
      // composed form's union+window machinery must be absent
      "q110_asof_native" -> Seq("AsOfJoin" -> true, "Window" -> false,
        "CartesianProduct" -> false),
      // incremental dedup: batch ⋈ index equi-joins only
      "q111_incremental_dedup" -> Seq("CartesianProduct" -> false),
      // stratified sample: the allocation table must broadcast onto the
      // ranked docs (1-row totals ride BNLJ; never a real cross product)
      "q112_stratified_sample" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // triangles: wedge + closing joins are equi-joins on edge keys
      "q115_triangles" -> Seq("CartesianProduct" -> false),
      // association rules: part-count dims broadcast onto the pair counts
      // (no q122 entry: bfsHops returns a localCheckpoint-truncated frame,
      // so its executedPlan is a checkpoint scan — any expectation on it
      // would be vacuously green; its join shape is pinned by the oracle
      // and the parent-property spec instead. Same for q165: the per-round
      // plan — cached dst-partitioned edges never re-shuffle, ≤3 live
      // label-sized exchanges — is pinned by PlansSpec's tree-collect test.
      // q152's stateful STREAMING shape cannot appear here either (the
      // memory-sink result plans as a sink scan); StreamingSpec pins it via
      // progress events: exactly one stateStoreSave on 8 state partitions.)
      "q117_association_rules" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // fingerprints: pure narrow maps over the document scan
      "q42_fingerprint" -> Seq("Exchange" -> false),
      "q44_rolling_hash" -> Seq("Exchange" -> false),
      // minhash/knn: banded equi-joins only, offsets/dims broadcast
      "q32_dedup_minhash" -> Seq("CartesianProduct" -> false),
      "q124_knn_join" -> Seq("CartesianProduct" -> false),
      // distributed crossing-median: the offsets miniature must broadcast
      // back onto the range-partitioned rows; nothing pairwise anywhere
      "q113_weighted_median" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      "q116_robust_scale" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // temperature mixture: the |langs|-row rate table broadcasts; the
      // document side never shuffles
      "q125_temperature_mix" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // length batches: the P×B ordinal-offset miniature broadcasts
      "q126_length_batches" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // distributed running agg / rank family: the offset miniatures must
      // broadcast back onto the range-partitioned rows
      "q62_events_running" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      "q75_rank_functions" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // q74 packing shares the offset-prefix pin checked below
      "q74_packing" -> Seq("CartesianProduct" -> false),
      // literal-centroid ML read-outs (round 5): label arithmetic is
      // scalar expressions over the CACHED feature table; nothing in the
      // family may go pairwise (an Exchange->false pin is NOT expressible
      // here — InMemoryTableScan prints the cached BUILD plan, whose
      // materialized fit exchange is not a live shuffle)
      "q20_cluster_sizes" -> Seq("CartesianProduct" -> false),
      "q22_inertia" -> Seq("CartesianProduct" -> false),
      "q25_scatter_data" -> Seq("CartesianProduct" -> false),
      // IVF: probe sets broadcast onto the cell-partitioned table
      "q52_ann_ivf" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // contamination score: eval-gram index broadcasts as a left-join hit
      // tag; the corpus side must never shuffle before its one aggregate
      "q127_contamination_score" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // release pipeline: doc_id semi/anti joins only, nothing pairwise
      "q128_release_pipeline" -> Seq("CartesianProduct" -> false),
      // partition pruning (round 6): the date predicate must reach the scan
      // as a PARTITION filter — 29 of 30 event_date directories never open
      "q130_partitioned_day" -> Seq(
        "PartitionFilters: [isnotnull(event_date" -> true,
        "CartesianProduct" -> false),
      // filtered ANN: probe sets broadcast onto the labeled index
      "q131_ann_filtered" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // mixture plan: the 5-row weight table broadcasts; the 1-row total
      // rides BNLJ — nothing data-sized moves after the lang aggregate
      "q132_mixture_plan" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // dq checks: FK passes probe the fact side against the DISTINCT
      // dimension-key projection — that key set must broadcast; the
      // rule-family conditional sums are plain hash aggregates
      "q139_dq_checks" -> Seq("BroadcastHashJoin" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false),
      // blocked linkage: the pairwise stage is an EQUI-join on the block
      // key over the distinct-value domain — a cross product would mean
      // blocking silently stopped constraining the pair space
      "q140_blocked_linkage" -> Seq("CartesianProduct" -> false),
      // source diversity: both TTR streams pre-collapse on (source, value)
      // hash aggregates; the Expand-based multi-distinct (q98's measured
      // 10x trap) must not plan
      "q141_source_diversity" -> Seq("Expand" -> false,
        "HashAggregate" -> true, "CartesianProduct" -> false),
      // split leakage: pair-list ⋈ split-map are key equi-joins only
      "q142_split_leakage" -> Seq("CartesianProduct" -> false),
      // skew audit: per-key counts map-side-combine; the 1-row total
      // broadcasts back — the fact table must aggregate exactly once
      "q148_salting_plan" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false),
      // normalized dedup: ONE fingerprint-hash shuffle feeding the
      // dup-rank window, nothing pairwise
      "q149_normalized_fingerprint" -> Seq("Window" -> true,
        "hashpartitioning(fingerprint" -> true,
        "CartesianProduct" -> false),
      // gram novelty: gram agg + first-owner equi-join back, no pairs
      "q150_gram_novelty" -> Seq("CartesianProduct" -> false),
      // bucketed join: sort-merge over co-located buckets
      "q151_bucketed_join" -> Seq("SortMergeJoin" -> true,
        "CartesianProduct" -> false),
      // label audit: labels join the k·n kNN miniature, nothing pairwise
      // beyond the LSH-bucketed q124 core
      "q154_knn_label_audit" -> Seq("CartesianProduct" -> false),
      // source matrix: pair index ⋈ narrow source map, equi-joins only
      "q155_cross_source_matrix" -> Seq("CartesianProduct" -> false),
      // round-8 family ------------------------------------------------
      // forward as-of: the native exec plans (no window fallback)
      "q174_asof_forward" -> Seq("AsOfJoin" -> true, "Window" -> false,
        "CartesianProduct" -> false),
      // unigram LM: the vocab count table broadcasts onto the token stream
      "q175_unigram_surprisal" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // lang profile: vocab-sized aggregate, no pairwise anything
      "q176_lang_vocab_profile" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false),
      // bigram LM: the history table broadcasts; c12 join is equi
      "q177_bigram_surprisal" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // containment: inverted-index equi-join, never pairwise
      "q178_containment_pairs" -> Seq("CartesianProduct" -> false),
      // winsorize: the two quantile miniatures broadcast back onto the scan
      "q179_winsorized_stats" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // unpivot: melt executes as Expand, one narrow expansion, no shuffle
      // beyond the metric aggregate's own
      "q180_unpivot_metrics" -> Seq("Expand" -> true,
        "CartesianProduct" -> false),
      // autocov: hours-sized self-join is equi on (type, hour)
      "q182_hourly_autocov" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false),
      // heatmap: one hash aggregate; the 1-row total rides BNLJ
      "q184_time_heatmap" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false),
      // cohort: signup anchor and sizes join on user/cohort keys only
      "q185_cohort_matrix" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // KS: the grid is miniature × miniature (BNLJ legal); never data-sized
      "q186_ks_drift" -> Seq("CartesianProduct" -> false),
      // bootstrap: narrow hash-slice expansion into ONE aggregate
      "q187_bootstrap" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false),
      // lookalikes: seed baskets must BROADCAST onto the part index — the
      // corpus side may never shuffle into the candidate join
      "q189_similar_customers" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // backtest/attribution/growth: equi-joins + aggregates only
      "q190_seasonal_backtest" -> Seq("CartesianProduct" -> false),
      "q191_linear_attribution" -> Seq("CartesianProduct" -> false),
      "q192_new_vs_returning" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false),
      // retrieval: the final top-k must be TakeOrderedAndProject (never a
      // global sort), and the df/totals sides must broadcast
      "q200_bm25" -> Seq("TakeOrderedAndProject" -> true,
        "BroadcastHashJoin" -> true, "CartesianProduct" -> false),
      "q203_sql_api" -> Seq("TakeOrderedAndProject" -> true,
        "CartesianProduct" -> false),
      // skyline: phase-2 confirm is a broadcast anti nested-loop over the
      // candidate miniature — an unbroadcast cartesian would be n²
      "q202_skyline" -> Seq("BroadcastNestedLoopJoin" -> true,
        "CartesianProduct" -> false),
      // KMV: the pairwise stage joins sketch rows broadcast; the corpus
      // pass must partial-aggregate (map-side ObjectHashAggregate)
      "q204_kmv_overlap" -> Seq("ObjectHashAggregate" -> true,
        "CartesianProduct" -> false),
      // BPE result is literal rows collected from vocab-sized rounds; the
      // contract plan must be the parallelized literal scan, nothing else
      "q205_bpe_merges" -> Seq("Scan ExistingRDD" -> true,
        "Exchange" -> false),
      // random walks: every step is two equi-joins (degree, ranked edge) —
      // a nested-loop candidate expansion or cartesian is a regression
      "q206_random_walks" -> Seq("CartesianProduct" -> false,
        "BroadcastNestedLoopJoin" -> false),
      // merkle diff: the drill must read only divergent buckets — the
      // bucket filter arrives via broadcast semi-joins, never a re-scan
      // shipped into a shuffled join of the full tables
      "q207_merkle_diff" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // moment sketch: ONE hash aggregate (the power sums partial-combine
      // map-side); no join, no window, nothing pairwise — the mergeable-
      // sketch claim IS this plan shape
      "q210_moment_sketch" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      // k-anonymity: two chained hash aggregates, join- and window-free
      "q211_k_anonymity" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      // join-size estimate: two sketch aggregates joined on (row, bucket)
      // — equi only; the estimate/exact/F1 miniatures ride BNLJ
      "q237_join_size_estimate" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false),
      // span scrub: gram/canonical/covered stages are hash aggregates and
      // hash joins only — no per-gram window (the canonical pick is a
      // struct-min groupBy) and no cartesian anywhere in the rewrite
      "q238_span_scrub" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false),
      // canary scan: the probe table must BROADCAST into the nested-loop
      // containment scan — the corpus side never exchanges before the join
      "q239_canary_scan" -> Seq("BroadcastNestedLoopJoin" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false),
      // leakage-safe split: one equi-join against the cluster table plus
      // narrow md5 arithmetic — no window, no cartesian
      "q240_leakage_safe_split" -> Seq("CartesianProduct" -> false,
        "Window" -> false),
      // data card: four source-keyed hash aggregates meeting in broadcast
      // joins on the 20-row key. The dup-membership LEFT SEMI against the
      // CC label set is allowed to sort-merge: since round 9 the CC output
      // carries honest unknown-size leaf stats (the stats-reset fix), and
      // at 100 TB that set is corpus-fraction-sized — a shuffle semi-join
      // IS the production plan; only a materialized cache makes it
      // broadcastable, and a cold plan must not pretend otherwise
      "q241_data_card" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      // PQ ADC: the 16-row codebook and the 640-row query distance table
      // broadcast; the ADC lookup is a broadcast hash join on (s, cid);
      // nothing data-sized ever cartesians or sort-merges
      "q242_pq_adc" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false),
      // PQ recall: both retrieval arms keep their own shapes; the
      // intersection is a key-equi left-semi + one aggregate — no
      // cartesian, no sort-merge, nothing data-sized windows beyond the
      // arms' own bounded top-k ranks
      "q285_pq_recall" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false),
      // PQ rescore (q288): stage 1 keeps q242's broadcast shape; the
      // stage-2 rescore joins the shortlist miniature against the corpus
      // codes key-equi and the query codes broadcast; the re-rank windows
      // partition L-row miniatures — nothing data-sized sort-merges or
      // cartesians anywhere in the two-stage plan
      "q288_pq_rescore" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false),
      // DSIR select: the 256-bucket histograms and ratio table BROADCAST
      // into the bigram stream; per-doc scoring is one hash aggregate;
      // nothing data-sized sorts, windows, or cartesians
      "q243_dsir_select" -> Seq("BroadcastHashJoin" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false, "Window" -> false),
      // postings index: two chained aggregates (term,doc) → (term,shard);
      // both delta encodings are in-row array transforms — NO window, no
      // join of any kind anywhere in the build
      "q244_postings_index" -> Seq("CartesianProduct" -> false,
        "Window" -> false, "SortMergeJoin" -> false,
        "BroadcastHashJoin" -> false),
      // grouped OLS: ONE hash aggregate (map-side combinable sufficient
      // stats) + constant-time per-group solve — no join, window, or
      // second pass anywhere
      "q245_grouped_ols" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      // A/B read-out: user-keyed aggregate → 2-row variant aggregate →
      // scalar Welch projection; join-, window- and cartesian-free
      "q246_ab_test" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      // KN bigram: vocab-sized c1/N+ tables BROADCAST into the bigram-type
      // stream; the top-25 is a TakeOrderedAndProject (map-side top-k),
      // never a global sort or window
      "q247_kn_bigram" -> Seq("BroadcastHashJoin" -> true,
        "TakeOrderedAndProject" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false, "Window" -> false),
      // coreset: the 4-row seed table broadcasts (NLJ for the distance
      // fan-out, hash join for the is_seed tag); one vec-keyed aggregate;
      // nothing data-sized sorts, windows, or cartesians
      "q248_coreset_sample" -> Seq("BroadcastNestedLoopJoin" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // schema evolution: the merged scan must carry the added column in
      // its ReadSchema (a first-footer read silently drops it) and the
      // roll-up is one aggregate — join- and window-free
      "q249_schema_evolution" -> Seq("o_orderpriority" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false, "Window" -> false),
      // hazard table: one user-keyed aggregate; the at-risk suffix sum is
      // a broadcast self-join of the |days|-row distribution — the event
      // log is scanned once and never windows
      "q250_hazard_table" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // chi-square: one (variant,type) aggregate; margins broadcast back
      // into the cell table; no window, no cartesian, no big-side sort
      "q251_chi_square" -> Seq("BroadcastHashJoin" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false, "Window" -> false),
      // CUPED: one user-keyed aggregate feeds both the pooled-stat scalar
      // (broadcast) and the 2-row variant aggregate; no window, no
      // big-side sort — variance reduction costs one extra column
      "q252_cuped" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // Mann-Whitney: user + value aggregates, then the offset-prefix
      // cumulative (its windows run per range-partition / over the
      // partition-count offset table only — the groupedCumSum contract);
      // no cartesian despite U's all-pairs definition
      "q253_mann_whitney" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false),
      // permutation test: the ×(nPerm+1) fan-out explodes the |users|
      // table, NOT the event log; one (k,variant) aggregate builds all
      // permutations at once; the observed row broadcasts back
      "q254_permutation_test" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // vocab growth: first-doc/token distributions join the 10-row
      // checkpoint table via broadcast range joins — prefix scans become
      // two aggregates; no window, no cartesian of anything data-sized
      "q255_vocab_growth" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // Good-Turing: word→count→freq-of-freqs chained aggregates; the
      // shifted self-join and the totals broadcast as miniatures
      "q256_good_turing" -> Seq("HashAggregate" -> true,
        "BroadcastHashJoin" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false, "Window" -> false),
      // word dropout: the drop decision and rebuild live inside one
      // filter HOF over the materialized words array — a pure narrow
      // map, no exchange of any kind beyond the scan
      "q257_word_dropout" -> Seq("CartesianProduct" -> false,
        "Window" -> false, "SortMergeJoin" -> false,
        "BroadcastHashJoin" -> false, "HashAggregate" -> false,
        "Exchange" -> false),
      // negative sampling: vocab prefix + interval lookup are broadcast
      // joins of model-sized tables; only the word count touches data
      "q258_negative_sampling" -> Seq("BroadcastNestedLoopJoin" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // triplet mining: anchors broadcast (NLJ fan-out), map-side top-1
      // per lane, miniature lane join — no window, no cartesian, no
      // data-sized sort
      "q259_triplet_mining" -> Seq("BroadcastNestedLoopJoin" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // DiD: the q252 frame shape — user aggregate, 2-row variant
      // aggregate, scalar projection; join- and window-free
      "q260_diff_in_diff" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false, "BroadcastHashJoin" -> false),
      // prefix sim join: the candidate self-join must ride the rare-token
      // prefix index as a shuffled hash join on the token key — never a
      // cartesian; windows are per-doc (partitioned by doc_id), the
      // verification joins are key-equi on (doc, token), and every
      // reference of the shingle index is a parquet scan of the STAGED
      // prepared layout (round 12 — replaces the round-11 per-call
      // UnsafeRow checkpoint, whose ExistingRDD scan must be GONE: the
      // index is built once per corpus snapshot, never per call)
      "q261_prefix_sim_join" -> Seq("ShuffledHashJoin" -> true,
        "Scan ExistingRDD" -> false,
        "CartesianProduct" -> false, "BroadcastNestedLoopJoin" -> false,
        "HashAggregate" -> true,
        // round-13 verdict item 2: the candidate self-join reads the
        // BUCKETED staged prefix index on both sides — no live exchange
        // on the prefix-shingle key (w/w2) anywhere in the plan
        "Exchange hashpartitioning(w#" -> false,
        "Exchange hashpartitioning(w2#" -> false,
        "Bucketed: true" -> true),
      // Neyman sample: 5-row moment aggregate, miniature allocation
      // windows, quotas broadcast back onto the per-segment rank window —
      // the q112 shape; no data-sized sort-merge or cartesian anywhere
      "q262_neyman_sample" -> Seq("BroadcastHashJoin" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false),
      // AMS F2: the x54 counter fan-out must hit the distinct-value
      // aggregate (one scan, partial agg), never the raw scan; the
      // miniature median/exact frames broadcast back
      "q263_ams_f2" -> Seq("HashAggregate" -> true,
        "BroadcastNestedLoopJoin" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false),
      // Theil-Sen: one scan to the days-sized daily aggregate; the pair
      // fan-out and both median ranks live on broadcast miniatures
      "q264_theil_sen" -> Seq("HashAggregate" -> true,
        "BroadcastNestedLoopJoin" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false),
      // activity completeness: aggregate -> per-user window -> aggregate;
      // join-free end to end, window partitioned by the user key
      "q265_activity_completeness" -> Seq("HashAggregate" -> true,
        "Window" -> true, "SortMergeJoin" -> false,
        "BroadcastHashJoin" -> false, "CartesianProduct" -> false),
      // minhash error audit: the q220 pair construction — shuffle-hash
      // index join bounded by colliding pairs, never all-pairs
      "q266_minhash_error_audit" -> Seq("ShuffledHashJoin" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false),
      // declarative HLL: one scan to a 256-row register aggregate plus the
      // exact-distinct rider; scalar assembly broadcasts
      "q267_hll_declarative" -> Seq("HashAggregate" -> true,
        "BroadcastNestedLoopJoin" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false, "Window" -> false),
      // quantile normalize: BOTH ordinals (within-source rank AND pooled)
      // ride groupedOrdinal — range partition + broadcast offset miniature;
      // n_s is a broadcast per-source count. The Window nodes that remain
      // are the offset-prefix miniatures; the data-sized
      // source-partitioned rank window is regex-forbidden below (the
      // q62/q75 precedent — round-9 verdict item 1)
      "q268_quantile_normalize" -> Seq("Window" -> true,
        "BroadcastHashJoin" -> true, "CartesianProduct" -> false),
      // HLL merge rollup: register aggregates and their max-merge; the
      // ALL row re-aggregates the REGISTER table, never the event scan
      "q269_hll_merge" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "BroadcastNestedLoopJoin" -> false),
      // class separability: one scan to (label, dim) partial sums; the
      // pair matrix is broadcast miniature algebra — no data-sized join
      "q270_class_separability" -> Seq("HashAggregate" -> true,
        "BroadcastHashJoin" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false),
      // sorted neighborhood: the groupedOrdinal range partitioning plus
      // the xw offset probe equi-join — no cartesian, no name-by-name
      "q271_sorted_neighborhood" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "BroadcastNestedLoopJoin" -> false),
      // markov attribution: the output frame is the driver-solved
      // miniature (LocalTableScan); the heavy lifting (journey windows +
      // the count aggregate) happens before the collect and is pinned by
      // the spec's exact replay instead of plan substrings
      "q272_markov_attribution" -> Seq("CartesianProduct" -> false,
        "SortMergeJoin" -> false),
      // entity merge: blocked + SNM pair generators stay equi-joined, the
      // CC loop is upstream of the final survivorship aggregate (its
      // checkpointed label frame scans as ExistingRDD), and nothing
      // pairwise or data-sized-windowed survives into the contract plan
      "q273_entity_merge" -> Seq("HashAggregate" -> true,
        "Scan ExistingRDD" -> true, "CartesianProduct" -> false,
        "Window" -> false),
      // BH-FDR: the x41 permutation fan-out collapses map-side to
      // |types|x41 sufficient-stat rows; the per-type obs frame
      // broadcasts; the rank/running-min windows ride the lit(1)
      // partition over the <= |event_types| post-aggregate miniature
      "q274_bh_fdr" -> Seq("HashAggregate" -> true,
        "BroadcastHashJoin" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false),
      // packed-sequence manifest: the corpus prefix sum rides the
      // groupedCumSum offset-prefix primitive (checkpoint barrier scans
      // as ExistingRDD); the manifest aggregate keys on high-cardinality
      // seq_id — no unpartitioned or dimension-keyed window anywhere
      "q275_packed_manifest" -> Seq("HashAggregate" -> true,
        "Scan ExistingRDD" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false),
      // Cohen's kappa: one (label,pred) aggregate collapses the corpus;
      // the marginal join and the po/pe algebra run on broadcast
      // miniatures (the 1-row crossJoin plans as BNLJ by design)
      "q276_cohens_kappa" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // CMS error audit: per-key counts map-side-combine; the depth*width
      // counter table BROADCASTS back for the read-back min; the band
      // aggregate is <= 64 rows — no shuffle after the count aggregate
      "q277_cms_error_audit" -> Seq("HashAggregate" -> true,
        "BroadcastHashJoin" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false, "Window" -> false),
      // source ablation: the cached score table joins source key-equi on
      // doc_id; ONE source aggregate collapses the corpus; totals
      // broadcast back onto the |sources| miniature — no window, no sort
      "q282_source_ablation" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false),
      // simhash calibration: the pair universe is the q31 shingle-keyed
      // inverted-index join (shuffled hash, never cartesian); signatures
      // join key-equi on doc_id; the decile aggregate is <= 10 rows
      "q281_simhash_calibration" -> Seq("ShuffledHashJoin" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "BroadcastNestedLoopJoin" -> false, "Window" -> false),
      // simhash router calibration: same pair universe + signature joins
      // as q281 — both cuts are shift/mask integer ops inside the same
      // aggregate, so the re-parameterization costs no extra join
      "q283_simhash_router" -> Seq("ShuffledHashJoin" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "BroadcastNestedLoopJoin" -> false, "Window" -> false),
      // clustered rollup (q284): the q278 date predicate must reach the
      // clustered layout's parquet scan as a pushed min/max filter (that
      // is what realizes the audited skip), the scan must read only the
      // two referenced columns, and the rollup is one hash aggregate
      // routed near-dup audit: same inverted-index pair universe as
      // q281/q283, TWO signature caches key-equi joined, both band cuts
      // inside one aggregate — no extra pass, nothing pairwise-quadratic
      "q287_routed_near_dup" -> Seq("ShuffledHashJoin" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "BroadcastNestedLoopJoin" -> false, "Window" -> false),
      "q284_clustered_rollup" -> Seq(
        "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" -> true,
        "ReadSchema: struct<o_totalprice:double,o_orderdate:date>" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "Window" -> false),
      // Z-order skipping (q290): BOTH dimension predicates must reach the
      // Z layout's parquet scans as pushed min/max filters — that is the
      // multi-dimensional claim the lane realizes; each arm is one hash
      // aggregate over its pruned scan
      "q290_zorder_skipping" -> Seq(
        "PushedFilters: [IsNotNull(o_custkey), LessThanOrEqual(o_custkey" -> true,
        "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" -> true,
        "HashAggregate" -> true, "CartesianProduct" -> false,
        "SortMergeJoin" -> false, "Window" -> false),
      // split parity: the doc-keyed split⋈source join is key-equi; ONE
      // (split, source) aggregate collapses the corpus; marginals and
      // the chi-square algebra broadcast — nothing pairwise, no windows
      "q280_split_parity" -> Seq("HashAggregate" -> true,
        "BroadcastHashJoin" -> true, "CartesianProduct" -> false,
        "Window" -> false),
      // zone-map audit: ONE fact scan into the calendar-bounded month
      // aggregate; the predicate explode and the 2-row summary ride the
      // zone miniature — no joins, no windows
      "q278_zone_map_audit" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false, "BroadcastHashJoin" -> false),
      // PII Wilson bounds: q168's one-scan source aggregate with the
      // interval algebra fused onto the |sources| miniature — no joins,
      // no windows, nothing beyond the one aggregate exchange
      "q279_pii_wilson" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "Window" -> false, "BroadcastHashJoin" -> false),
      // l-diversity: three chained hash aggregates, same family shape
      "q236_l_diversity" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      // unicode NFC audit: the codegen'd normalize expression is a narrow
      // map fused into the scan; one source-keyed aggregate, nothing else
      "q212_unicode_nfc" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      // dp release: one hash aggregate + group-sized scalar noise — the
      // same join-/window-free shape as its q210–q212 siblings
      "q213_dp_release" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      // TWA: one window on the high-cardinality customer key + one hash
      // aggregate on the same key — join-free, cartesian-free
      "q215_twa_price" -> Seq("Window" -> true, "HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false),
      // phash near-dup: candidates come from the banded EQUI-join — a
      // nested-loop/cartesian pair expansion is the n² regression the
      // banding exists to prevent
      "q216_image_phash" -> Seq("CartesianProduct" -> false,
        "BroadcastNestedLoopJoin" -> false),
      // media energy/motion: decode is a narrow map; the per-clip argmax
      // (struct-max ⇒ SortAggregate — struct ordering is not
      // hash-aggregable) is the ONLY plan structure, with its partial
      // combine BEFORE the single exchange; join- and window-free
      "q217_audio_energy" -> Seq("SortAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      "q218_video_motion" -> Seq("SortAggregate" -> true,
        "CartesianProduct" -> false, "Window" -> false,
        "SortMergeJoin" -> false, "BroadcastHashJoin" -> false),
      // LSH curve / dedup sweep: candidates must ride the q31
      // shuffled-hash inverted-index join — an SMJ would pay the per-key
      // quadratic duplicate-group walk on the shingle key, a cartesian
      // would be n²
      "q220_lsh_curve" -> Seq("ShuffledHashJoin" -> true,
        "CartesianProduct" -> false),
      "q222_dedup_sweep" -> Seq("ShuffledHashJoin" -> true,
        "CartesianProduct" -> false),
      // token budget: two doc-keyed hash aggregates; the only window is
      // the 10-row post-aggregate cumulative — join-free
      "q221_token_budget" -> Seq("HashAggregate" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false,
        "BroadcastHashJoin" -> false),
      // TPC-H Q5 shape: the dim decorations must broadcast; a cartesian
      // anywhere in the 6-way star is a regression
      "q226_local_supply" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false),
      "q227_supplier_hhi" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false, "Window" -> false),
      // PCA gate: every join in the eigen-check is a broadcast of a ≤64-row
      // miniature (means, eigvec, λ) onto the cached 2145-row moment table;
      // the 1-row count rides BNLJ — nothing data-sized moves
      "q233_pca_power" -> Seq("BroadcastHashJoin" -> true,
        "CartesianProduct" -> false, "SortMergeJoin" -> false),
      // ORC interchange: the quantity predicate must reach the ORC scan
      // (stripe skipping at scale) and pruning must drop the unused
      // l_orderkey column from the read schema
      "q234_orc_roundtrip" -> Seq(
        "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,25.0)]" -> true,
        "l_orderkey" -> false, "CartesianProduct" -> false))

    // Offset-prefix partitioning pin (machine check for the round-4
    // ReuseExchange hazard, found by hand in a7b6075): every offset-prefix
    // primitive (groupedOrdinal, groupedCumSum, crossingMedian,
    // runningAggDistributed, sequencePacking) range-partitions ONCE and
    // eagerly localCheckpoints, because two separate evaluations of one
    // repartitionByRange may SAMPLE DIFFERENT boundaries and corrupt the
    // offsets. In the executed plan that pin shows as: the checkpoint
    // barrier is present (Scan ExistingRDD) and NO live range exchange
    // remains (a `rangepartitioning` Exchange in any consumer plan would
    // be a second, independently-sampled evaluation site).
    // Caveats on the two pins (round-6 ADVICE): `Scan ExistingRDD` is any
    // RDD scan, which in these six plans can only be the checkpoint barrier
    // (no other RDD source exists in them — revisit if one ever appears);
    // the forbidden pattern is anchored to an actual Exchange NODE below so
    // it cannot fire on incidental mentions of range partitioning — but an
    // orderBy deliberately added to one of these queries would introduce a
    // legitimate `Exchange rangepartitioning` and need its own carve-out.
    val offsetPrefixQueries = Seq("q62_events_running", "q74_packing",
      "q75_rank_functions", "q113_weighted_median", "q116_robust_scale",
      "q126_length_batches", "q133_quality_topp", "q158_curriculum",
      // round 8: crossingQuantile/crossingBoundaries/const-group ordinal
      "q179_winsorized_stats", "q181_equidepth_deciles",
      "q188_interarrival", "q193_revenue_gini",
      // round 10: both q268 ordinal lanes ride groupedOrdinal; q264's two
      // medians ride crossingMedian; q87/q112/q262 rank lanes ride
      // groupedOrdinal (all replacing dimension-keyed data-sized windows)
      "q268_quantile_normalize", "q264_theil_sen", "q87_domain_cap",
      "q112_stratified_sample", "q262_neyman_sample")
    val offsetPrefixChecks: Map[String, Seq[(String, Boolean)]] =
      offsetPrefixQueries.map(q => q -> Seq(
        "Scan ExistingRDD" -> true)).toMap

    // Regex-matched expectations, for shapes a plain substring cannot pin
    // (window specs embed column ids). The windowspecdefinition patterns
    // forbid the low-cardinality window trap in the q62/q75 contract plans:
    // a window partitioned SOLELY by the 5-value event_type (resp. 25-value
    // nation key) and ordered by full-data columns serializes each group
    // into ONE task at any cluster size. The distributed twins' miniature
    // windows (per-type P×G offset prefixes ordered by __pid) do NOT match
    // these patterns. The Exchange pattern is the offset-prefix forbid,
    // anchored to the node name so only a LIVE range exchange (a second,
    // independently-sampled repartitionByRange evaluation) trips it.
    val offsetPrefixRegexChecks: Map[String, Seq[(String, Boolean)]] =
      offsetPrefixQueries.map(q => q -> Seq(
        """Exchange rangepartitioning\(""" -> false)).toMap
    val regexExpectations: Map[String, Seq[(String, Boolean)]] = Map(
      "q62_events_running" -> Seq(
        """windowspecdefinition\(event_type#\d+, ts_ms#""" -> false),
      "q75_rank_functions" -> Seq(
        """windowspecdefinition\(c_nationkey#""" -> false,
        """windowspecdefinition\(nationkey#\d+L?, negbal#""" -> false),
      // round-10: q268's within-source rank must NOT be a window
      // partitioned by the 20-value source key and ordered by the
      // data-sized score (one corpus/20-row task per group). The
      // groupedOrdinal miniature window (partitionBy(source),
      // orderBy(__pid) over P×G offset rows) does not match this pattern.
      "q268_quantile_normalize" -> Seq(
        """windowspecdefinition\(source#\d+, avg_e6#""" -> false),
      // THE q151 gate: bucket co-location means NO live exchange on either
      // join key — if bucket metadata stops lining up (count drift, key
      // rename) Spark silently re-shuffles both sides and only this pin
      // notices. The post-join mktsegment aggregate's exchange stays legal.
      "q151_bucketed_join" -> Seq(
        """Exchange hashpartitioning\((user_id|c_custkey)""" -> false))

    // SPARK_GRAFT_DUMP=q52,q108 prints the full formatted plan of matching
    // queries — the local-iteration escape hatch for inspecting codegen
    // spans and exchange placement without editing this file
    val dump = sys.env.get("SPARK_GRAFT_DUMP")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

    var bad = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.executedPlan.toString
      if (dump.exists(_.exists(name.startsWith))) {
        println(s"==== plan dump: $name ====")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      val checks = expectations.getOrElse(name, Nil) ++
        offsetPrefixChecks.getOrElse(name, Nil)
      val reChecks = regexExpectations.getOrElse(name, Nil) ++
        offsetPrefixRegexChecks.getOrElse(name, Nil)
      // normalize expr IDs (#123) out of the match before distinct: the
      // same logical whitelisted window materialized twice in one plan
      // (reused subtree, different #ids) must count as ONE hit, not two.
      // Accepted trade (round 11): a genuine duplicate-execution
      // regression of an ALREADY-WHITELISTED window (two identical Window
      // execs) also collapses to one — that class is caught by the
      // per-lane "Window" -> false pins on non-whitelisted lanes and by
      // the bench, while this sweep's job is the q268 dimension-key CLASS
      val dimMatches = dimWindowRe.findAllIn(plan).toList
        .map(_.replaceAll("#\\d+", "")).distinct
      val dimAllowed = dimWindowWhitelist.get(name).map(_._1).getOrElse(0)
      val dimHits =
        if (dimMatches.size <= dimAllowed) Nil
        else dimMatches.drop(dimAllowed)
          .map(h => s"DIM-WINDOW '${h.take(60)}' (${dimMatches.size} " +
            s"found, $dimAllowed whitelisted — data-sized per-group " +
            "task: use groupedOrdinal/offset-prefix, or raise the " +
            "whitelist entry with a justification)")
      val failures = checks.collect {
        case (s, true) if !plan.contains(s) => s"MISSING '$s'"
        case (s, false) if plan.contains(s) => s"FORBIDDEN '$s'"
      } ++ reChecks.collect {
        case (re, true) if re.r.findFirstIn(plan).isEmpty => s"MISSING ~'$re'"
        case (re, false) if re.r.findFirstIn(plan).isDefined => s"FORBIDDEN ~'$re'"
      } ++ dimHits
      if (failures.nonEmpty) {
        bad += failures.size
        println(s"== $name: ${failures.mkString("; ")}")
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } else {
        val scans = plan.linesIterator.filter(_.contains("PushedFilters")).take(2)
          .map(_.trim.take(120)).mkString(" | ")
        println(s"ok $name${if (scans.nonEmpty) s"  [$scans]" else ""}")
      }
    }
    println(s"audit complete: $bad expectation failures")
    spark.stop()
  }
}
