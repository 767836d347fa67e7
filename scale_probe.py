"""Scaling self-audit: rebuilds the 10× fixtures and re-measures the
SCALE.md "Measured scaling" table.

Round 7 on, every timed query executes to a noop sink (bench.py's
full-compute action): .count() let Catalyst prune aggregate/window
expressions, and for some keys the pruned part is exactly the stage
whose growth the probe exists to measure (q_dedup_substring's island
window, q_spearman_corr's co-moments).

Synthesizes a 10× corpus (50k documents / 20k embeddings, replicated
from sf0.1 with remapped ids and per-copy text perturbation) and a 10×
relational fixture (6M-row lineitem / 1.5M-row orders, remapped keys)
under /tmp, then times representative keys warm (min of 2) at sf0.01,
sf0.1, and 10×. Prints one JSON line per scale.

Usage: python scale_probe.py [--rebuild]
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import SWEEP_TABLES, time_runs, timed_pass, warm_up  # noqa: E402

# Min-of-N rules (bench.time_runs): min-of-2, third pass inside each
# scale's own noise band. The growth RATIO divides base into x10, so a
# GC tail on EITHER side distorts the flagged factor. The base side
# gets a third pass below 1 s (±50% band — BASELINE.md drift note;
# round-8 change); the 10x side below 10 s (same ±20% band scaled by
# the data — the round-9 q_corpus_curate 10.45x flag was a min-of-2
# x10-side tail: 7.42 s vs 6.18 s min-of-3, now re-timed with
# tools/probe.py at the x10 fixture). Re-measure before you flag.
BASE_RULE = (2, 1.0)
X10_RULE = (2, 10.0)
X100_RULE = (2, None)

OUT = "/tmp/engine_scale_x10"
BASE = "/root/testdata/sf0.1"
DOC_KEYS = [
    "q_dedup_exact", "q_dedup_fuzzy_minhash", "q_dedup_keep_best",
    "q_corpus_curate", "q_sim_topk", "q_sim_lsh_topk", "q_sim_ivf_topk",
    "q_tfidf_top", "q_text_stats", "q_ngram_freq", "q_embed_quantize",
    "q_split_train",
    # round-4 curation/sketch additions
    "q_heavy_hitters", "q_contamination", "q_text_chunk", "q_text_redact",
    "q_word_pmi",
    # round-5: vector standardization + label centroids + clustering,
    # sampling, multimodal DSP
    "q_feature_scale", "q_embed_meanpool", "q_cluster_kmeans",
    "q_sample_weighted", "q_group_sample_k", "q_multimodal_audio",
    # round-5: batched-numpy multimodal kernels (10x payload bytes)
    "q_multimodal_frames", "q_multimodal_resize",
    # round-5 build phase: entropy kernel + Gram partials + PCA
    "q_text_entropy", "q_embed_gram", "q_embed_pca",
    # round-6: grouped sketch top-k (candidate-bounded shuffle),
    # tokenizer-coverage gate (fit-once literal apply), O(Δ)
    # delta-vs-index dedup, product quantization, IVFADC+refine ANN
    "q_group_topk_sketch", "q_vocab_coverage", "q_dedup_incremental",
    # round-12: the near-dup twin of the incremental gate (documents
    # grow 10x; band-index equi-join, O(delta) stream side).
    "q_dedup_incremental_minhash",
    "q_embed_pq", "q_sim_ivfpq_topk", "q_bm25_score",
    "q_text_perplexity",
    # round-6 final wave: chunk-level dedup, Zipf token fit,
    # hashing-trick featurization
    "q_dedup_paragraph", "q_zipf_fit", "q_feature_hash",
    "q_embed_opq",
    # banded-MinHash containment joins its fuzzy-minhash sibling in
    # the 10x tier (same candidate generation, plus the exact
    # intersection join)
    "q_dedup_containment",
    # round-7: chunk-grain decontamination (documents grow 10x) and
    # ANN index refresh (embeddings grow 10x; first run trains the
    # per-fixture codebooks, min-of-2 reports the artifact-reuse pass)
    "q_contamination_chunk", "q_ivf_refresh",
    # round-7 wave 2: DSIR importance weights + duplicated-span
    # accounting + sequence packing (documents grow 10x)
    "q_dsir_weight", "q_dedup_substring", "q_pack_sequences",
    # round-8: SemDeDup (embeddings grow 10x), quality-classifier
    # codegen apply + posting-list RAG retrieval (documents grow
    # 10x). q_stitch_user_fn is excluded — its fixture is a fixed
    # 3x3x3 grid with no fixture-table input; q_dedup_url rides
    # REL_KEYS (events grow 10x); the streaming gate twin is excluded
    # like every q_stream_* key (file-replay setup time dominates).
    "q_dedup_semantic", "q_quality_classifier", "q_rag_retrieve",
    "q_sample_temperature",
    # round-9: semantic eval-leak detector (embeddings grow 10x; the
    # holdout matrix grows with them, so the GEMM work grows ~100x —
    # the probe documents that the BATCH side stays the linear term
    # because |holdout| is benchmark-bounded in production, not
    # corpus-proportional like the synthetic slice).
    # q_dedup_eval_semantic is excluded like q_dedup_eval (it IS the
    # brute-force baseline); the streaming gate twin is excluded like
    # every q_stream_* key.
    "q_contamination_semantic",
    # round-9: BPE merge learning — the corpus-sized stage is the one
    # word-frequency aggregate; merge rounds run on the |word types|
    # table, so the probe documents sub-linear growth (types grow
    # slower than tokens).
    "q_tokenizer_fit", "q_tokenizer_apply",
    # round-9: RRF fusion (documents grow 10x; candidates stay
    # posting-list-bounded per query) + perceptual-hash dedup
    # (payload bytes grow 10x; banding bounds the pair join)
    "q_rank_fusion", "q_dedup_phash",
    # round-10: substring-dedup removal (documents grow 10x; shares
    # the measurement twin's hash-only shuffles, adds one
    # |islands|-row aggregate + a codegen splice).
    # q_dedup_eval_phash is excluded like q_dedup_eval (it composes
    # the brute-force all-pairs hamming truth baseline).
    "q_dedup_substring_cut",
    # round-10: vocab construction rides the tokenizer shape (one
    # pass over the |word types| table after the memoized fit).
    "q_tokenizer_vocab",
    # round-10: token-budget planner (documents grow 10x; one
    # map-side aggregate, |sources|-row integer math after).
    "q_token_budget",
    # round-10: decontamination excision (documents grow 10x; rides
    # q_contamination's broadcast-holdout shape + the zero-exchange
    # splice).
    "q_contamination_cut",
    # round-10: quality-threshold ablation (documents grow 10x; one
    # conditional-aggregate pass, |thresholds|-row output).
    "q_quality_ablation",
    # round-12: mix-schedule manifest (documents grow 10x; broadcast
    # planner join + one explode, zero stream-side exchange — output
    # inflates by sum(full_epochs), by design linear in corpus size).
    "q_mix_schedule",
    # q_pack_schedule is excluded (probe-exclusion rule): it is ONE
    # shard-partitioned window cumsum OVER q_mix_schedule's manifest,
    # which is itself in this tier — its growth IS the manifest's
    # (the q_pack_efficiency precedent).
    # q_pack_efficiency is excluded (probe-exclusion rule): it is one
    # map-side |shards|-row aggregate OVER q_pack_sequences' manifest,
    # which is itself in this tier — its growth IS the manifest's.
    # q_dedup_eval_bands is excluded like q_dedup_eval (it composes
    # the brute-force n-gram-Jaccard truth baseline).
    # q_dedup_cross_source is excluded for the same composed-over
    # reason: two broadcast joins + a |sources|^2-row aggregate OVER
    # q_dedup_ngram_jaccard's verified pairs (the probed pipeline).
    # q_sim_eval_ivf is excluded like q_dedup_eval (it composes the
    # brute-force all-pairs cosine truth baseline, q_sim_topk — the
    # deliberate quadratic reference point).
    # q_sim_eval_lsh is excluded for the identical reason: same
    # composed brute-force truth (_sim_truth / q_sim_topk), candidate
    # side rides the already-probed q_sim_lsh_topk pipeline across
    # the width grid.
    # q_sim_eval_ivfpq is excluded for the identical reason (third
    # ANN eval over the same composed _sim_truth baseline; candidate
    # side rides the benched q_sim_ivfpq_topk pipeline across the
    # shortlist grid).
    # q_contamination_report is excluded like q_dedup_report (a
    # 4-row union of single-row aggregates OVER the four probed
    # contamination pipelines).
    # round-12 second wave: seeded shuffle manifest + stride
    # interleave (documents grow 10x; both are one exchange + one
    # window / one literal-folded projection) and the per-dimension
    # embedding profile (embeddings grow 10x; one map-side groupBy).
    "q_shuffle_shards", "q_interleave_sources", "q_embed_dim_stats",
    # q_pack_mask_spans is excluded (probe-exclusion rule): one
    # bounded explode + one shard-local aggregate OVER
    # q_pack_sequences' manifest, which is itself in this tier.
    # q_dedup_eval_simhash is excluded like q_dedup_eval_phash (its
    # candidate side is the deliberate guarded all-pairs XOR scan,
    # and its truth composes the brute-force n-gram-Jaccard
    # baseline).
    # round-12 third wave: norm-outlier screen (embeddings grow 10x;
    # one narrow aggregate + 1-row literal moments) and the bloom
    # pre-filter eval (documents grow 10x; rides q_contamination's
    # gram lineage x3 sizes, all semi-joins).
    # q_minhash_calibration is excluded: its (8,1) loosest-banding
    # candidate mass is quadratic on the closed-vocabulary fixtures
    # (min-values repeat across a bounded shingle universe) — a
    # fixture artifact the probe would misread as an operator
    # regression; the production banding shapes are probed via
    # q_dedup_fuzzy_minhash / q_dedup_incremental_minhash.
    "q_embed_outlier_vecs", "q_contamination_bloom_eval",
    # round-12 fourth wave: per-source PII governance (documents grow
    # 10x; two narrow regex scans + one doc_id join). The streaming
    # gate twin is excluded like every q_stream_* key.
    "q_pii_report",
    # round-12 fifth wave: span-corruption plan (documents grow 10x;
    # position explode + codegen hash filter + two per-doc windows —
    # the gram-pipeline shape).
    # q_shuffle_epoch is excluded (probe-exclusion rule): one
    # exchange + one window OVER q_mix_schedule's probed manifest —
    # the q_pack_schedule rationale; q_pack_shuffled likewise (one
    # further window over q_shuffle_epoch's manifest).
    "q_span_corruption_mask",
    # round-12 sixth wave: PSI drift monitor (documents grow 10x;
    # one map-side (source, bucket) aggregate, |sources|x3-row math
    # after).
    "q_quality_drift",
    # round-12 seventh wave: length-bucketed batching (documents grow
    # 10x; bucket projection + bucket-keyed window rank — at real
    # scale the shard dimension bounds per-partition sort volume,
    # see the key's docstring). The live drift view is excluded like
    # every q_stream_* key.
    "q_batch_by_length",
    # q_sim_eval_truncated is excluded like q_sim_eval_ivf/_lsh: every
    # budget's ranking is the deliberate brute-force GEMM baseline
    # (the shared _chunked_cos_topk kernel), composed against the
    # same brute truth.
    # round-13 backfill (verdict r12 item 2 — the round-12 keys that
    # had neither a probe row nor an exclusion note):
    # q_dp_histogram (documents grow 10x; one map-side count
    # aggregate to |buckets| rows, codegen noise CASE + literal
    # threshold after),
    # q_langid_eval (documents grow 10x; two map-side aggregates
    # over the probed q_text_langid verdict frame + one |langs|-row
    # broadcast join),
    # q_tokenizer_eval (documents grow 10x in the memoized word-TYPE
    # aggregate; the merge-grid loop then runs on the type table,
    # which grows sub-linearly — the q_tokenizer_fit shape).
    "q_dp_histogram", "q_langid_eval", "q_tokenizer_eval",
    # round-13: the exponential-mechanism quantile release (documents
    # grow 10x; one map-side length histogram, |domain|-row windows
    # after) and the production bloom gate (documents grow 10x; rides
    # q_contamination's gram lineage, broadcast bit-set + broadcast
    # confirm joins).
    # q_token_budget_bpe is excluded (probe-exclusion rule): a
    # |sources|-row planner lane OVER q_tokenizer_apply's probed
    # per-doc counts — the q_pack_schedule rationale.
    # q_data_card is excluded like q_dedup_report (a |sources|-row
    # join of five probed/bounded pipelines).
    "q_dp_quantile", "q_contamination_bloom",
    # round-13 closing wave: the DP top-k selection (documents grow
    # 10x; one map-side histogram + |domain|-grain mechanism).
    "q_dp_topk",
    # round-13 closing wave: langid calibration (documents grow 10x;
    # the langid vote plan + one doc-keyed window + two bounded
    # aggregates).
    "q_langid_calibration",
    # round-13 closing wave: the class-balanced draw (documents grow
    # 10x; one count aggregate + one lang-keyed rank window).
    "q_sample_balanced",
    # round-14 broadening (VERDICT r13 item 4): the long-green text /
    # dedup / vector core joins the sweep. documents/embeddings grow
    # 10x; per-copy text perturbation keeps exact dups apart while
    # near-dup clusters stay 10-bounded, so pair-generating keys are
    # cluster-bounded, not quadratic. q_dedup_ngram_jaccard stays
    # excluded like q_dedup_eval — its shingle-posting equi-join is
    # quadratic in posting-list length, which the replicated fixture
    # inflates by design (it is the exact baseline for the banded
    # siblings already probed).
    "q_text_tokens", "q_text_langid", "q_text_quality",
    "q_text_fingerprint", "q_text_repetition", "q_text_clean",
    "q_token_histogram",
    # simhash banding (cluster-bounded pairs), best-copy resolution,
    # and the CC clustering over the probed minhash pair stream
    "q_dedup_simhash", "q_dedup_resolve", "q_dedup_cluster",
    # vector core: centroid kNN (broadcast centroids), whitening
    # (one Gram partial + codegen transform), posexplode flatten
    "q_knn_centroid", "q_embed_whiten", "q_explode_unnest",
]
REL_KEYS = [
    "q_agg_pricing_summary", "q_join_inner", "q_window_rank",
    "q_topk_orders", "q_agg_rollup", "q_join_salted",
    "q_basket_rules", "q_weighted_quantile", "q_ts_autocorr",
    # round-4: bloom-pruned join, MV refresh, CDC diff, graph, series
    "q_join_bloom", "q_incr_agg", "q_snapshot_diff",
    "q_pagerank", "q_gap_fill", "q_anomaly_iqr",
    # round-5: triangles (10x event graph), profiling, DQ audit, OLS
    "q_graph_triangles", "q_join_lateral",
    "q_profile_columns", "q_dq_audit", "q_linreg_group",
    "q_join_time_range", "q_interval_union", "q_graph_bfs",
    "q_table_checksum", "q_mjoin_topk",
    # round-5 build phase: CDC apply + restart-safe MERGE + candles
    # + variant round-trip
    "q_cdc_apply", "q_merge_idempotent", "q_ts_ohlc", "q_variant_funcs",
    "q_agg_mode", "q_time_travel",
    # round-6 final wave (events/orders grow 10x; q_skyline and
    # q_chi2_independence are excluded — their only inputs, part and
    # customer, are symlinked fixture constants here)
    "q_ab_welch", "q_ts_seasonal", "q_gini",
    "q_conversion_lag", "q_time_weighted_avg",
    "q_ks_test", "q_pct_change", "q_benford",
    "q_user_growth", "q_mann_whitney", "q_mutual_info",
    "q_rfm_segment",
    # round-7: t-digest rollup (events grow 10x; first run builds the
    # daily-digest artifact, min-of-2 reports the merge-only pass)
    "q_tdigest_quantile",
    # round-7 wave 2: dyadic EWMA (events grow 10x) + Spearman
    # midranks (lineitem grows 10x); q_l_diversity is excluded —
    # its only input, customer, is a symlinked fixture constant here
    "q_ts_ewma", "q_spearman_corr", "q_winsorize",
    # round-7 wave 4: exact bitmap distinct rollup (events grow 10x)
    # + Q5-shaped six-table star join (lineitem/orders grow 10x)
    "q_bitmap_rollup", "q_mjoin_volume",
    # round-8: URL canonicalization dedup (events grow 10x).
    # q_dp_count is excluded — its only input, customer, is a
    # symlinked fixture constant here (the q_l_diversity precedent),
    # and its work is |groups| rows by construction. q_dedup_eval is
    # excluded — it composes q_dedup_fuzzy_minhash (probed) with the
    # brute-force exact-Jaccard truth baseline, whose quadratic-by-
    # design cost the probe already reports separately (see bench.py
    # HEADLINE note).
    "q_dedup_url",
    # round-9: DP sum with contribution clipping (orders grow 10x;
    # the per-customer aggregate is the corpus-sized stage, the
    # release is |nations| rows)
    "q_dp_sum",
    # round-12 third wave: zone-map pruning report (events grow 10x;
    # rides the probed q_zorder_cells aggregate + |preds| x |cells|
    # literal comparisons)
    "q_file_skipping_stats",
    # round-13: join-key skew diagnostics (lineitem/orders/events all
    # grow 10x; three map-side count aggregates), the three-lane
    # incremental join refresh (orders grow 10x; broadcast delta
    # lanes + |groups|-row merge), and the tolerance as-of (orders
    # grow 10x; one window lag). q_source_json_corrupt is excluded
    # like the other source round-trip keys (staging I/O dominates
    # the probe, not plan growth).
    "q_join_skew_report", "q_incr_join_refresh",
    "q_join_asof_tolerance",
    # round-13 second wave: exact rolling median (events grow 10x;
    # one hash exchange + bounded 24-row frames). The checkpoint
    # twin is excluded like every q_stream_* key, and
    # q_stream_incr_join_refresh / q_dp_report likewise
    # (stream-replay setup / composed-report rationales).
    "q_ts_rolling_median",
    # round-13 closing wave: the forward/nearest as-of directions
    # (orders grow 10x; same one-window-exchange shape as the
    # tolerance key).
    "q_join_asof_forward", "q_join_asof_nearest",
    # round-13 closing wave: one-way ANOVA (events grow 10x; one
    # map-side aggregate) and the decile-lift gains table (orders
    # grow 10x; two aggregates + percentile broadcast).
    "q_anova", "q_decile_lift",
    # round-13 closing wave: the supervised lag-feature frame
    # (events grow 10x; one user-keyed window exchange, 4-row
    # frames). q_source_csv_corrupt is excluded like the JSONL twin
    # (staging I/O dominates the probe, not plan growth).
    "q_ts_lag_features",
    # round-13 closing wave: the k-group rank test and the
    # Brown-Forsythe Levene (events grow 10x; distinct-value /
    # two-pass moment shapes).
    "q_kruskal_wallis", "q_levene_test",
    # round-13 closing wave: exact sliding distinct + two-window
    # changepoint (events grow 10x). q_stream_anova is excluded like
    # every q_stream_* key (stream-replay setup dominates).
    "q_window_rolling_distinct", "q_ts_changepoint",
    # round-13 closing wave: the Poisson bootstrap (events grow 10x;
    # the 32x explode is the measured work).
    "q_bootstrap_ci",
    # round-13 closing wave: KM survival (orders grow 10x) and the
    # SRM gate (events grow 10x; distinct users + one aggregate).
    "q_survival_km", "q_ab_srm",
    # round-13 closing wave: the MDE planning table (events grow
    # 10x; one moment aggregate). q_stream_srm is excluded like
    # every q_stream_* key.
    "q_ab_power",
    # round-13 closing wave: CUPED co-moments (events grow 10x; two
    # map-side aggregates). q_stream_bootstrap_ci is excluded like
    # every q_stream_* key.
    "q_ab_cuped",
    # round-13 third wave: the O(Δ) semantic gate (embeddings grow
    # 10x on both sides — the bipartite per-cluster GEMM keeps the
    # growth in the linear band; the first exploded-join formulation
    # probed 73x here and was replaced before registration, the
    # probe doing exactly its job) and the centroid-drift monitor
    # (embeddings grow 10x; two map-side (cl, i) mean aggregates +
    # a k x d reduction).
    "q_dedup_incremental_semantic", "q_embed_centroid_drift",
    # q_mix_schedule_bpe / q_pack_schedule_bpe are excluded (the
    # q_pack_schedule rationale, one unit over): the planner lane and
    # window are the probed whitespace shapes over the probed
    # tokenizer lineage. q_pack_unit_ablation is excluded like
    # q_dedup_report (two |shards|-row aggregates OVER both probed
    # chains). q_stream_dedup_incremental_semantic is excluded like
    # every q_stream_* key.
    # round-14 broadening (VERDICT r13 item 4: probed-key count
    # >= 175): the long-green relational core joins the sweep so the
    # linear-band claim covers the whole surface, not just the
    # novel operators. All inputs below grow 10x in the fixture
    # (lineitem/orders/events); broadcast dims (part/customer) stay
    # fixture constants, which is exactly the broadcast contract
    # being proven.
    "q_join_broadcast", "q_join_left", "q_join_semi", "q_join_anti",
    "q_agg_distinct", "q_agg_cube", "q_agg_grouping_sets",
    "q_agg_stats",
    # window family: one hash exchange + sorted frames, frame width
    # fixed — growth must track rows, not frames
    "q_window_lag_lead", "q_window_frame_rows", "q_window_frame_range",
    "q_window_running_total",
    # event-time family (events grow 10x): tumbling/sliding/session
    # windows, first-event dedup, transition bigrams, the capped
    # sessionizer scan, attribution walk, retention cohorts, funnel
    "q_window_tumbling", "q_window_sliding", "q_window_session",
    "q_event_dedup_first", "q_event_transitions", "q_session_capped",
    "q_attribution", "q_retention", "q_events_funnel",
    # exact-quantile / moment family over lineitem-orders: the
    # distributed value-counts pattern must stay linear
    "q_percentile_cont", "q_percentile_disc", "q_corr_stats",
    "q_rollup_time", "q_quantile_bins", "q_robust_stats",
    # sketch rollup + layout keys (events grow 10x): HLL union tree,
    # z-order cell stats (q_file_skipping_stats' substrate — this
    # makes its 'rides the probed aggregate' note literally true)
    "q_hll_rollup", "q_zorder_cells",
    # reshape + history keys: fixed pivot width, 4-col unpivot,
    # SCD2 window over events
    "q_pivot", "q_unpivot", "q_scd2_history",
]


def _replicate(df, dst: str, parts: int, shifts: dict, tweak=None) -> None:
    """Write ten copies of ``df`` to ``dst`` as ``parts`` files. Copy
    i adds ``i * shift`` to each ``shifts`` column (so keys stay
    unique) and, if given, passes through ``tweak(copy, i)``."""
    from pyspark.sql import functions as F

    def copy(i):
        c = df
        for col, shift in shifts.items():
            c = c.withColumn(col, (F.col(col) + i * shift).cast("long"))
        return tweak(c, i) if tweak else c

    big = copy(0)
    for i in range(1, 10):
        big = big.union(copy(i))
    if os.path.islink(dst):  # an older fixture symlinked this table
        os.unlink(dst)
    big.repartition(parts).write.mode("overwrite").parquet(dst)


def _replicate_documents(spark, src: str, dst: str, parts: int,
                         tag: str) -> None:
    """Ten copies of documents with remapped ids; copy i > 0 appends
    ``f" {tag}{i}"`` to the text, so the copies are near-duplicates,
    not exact ones."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{src}/documents.parquet")
    _replicate(
        d, f"{dst}/documents.parquet", parts, {"doc_id": d.count()},
        lambda c, i: c.withColumn(
            "text", F.when(F.lit(i) == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(f" {tag}{i}")))))


def _replicate_relational(spark, src: str, dst: str, parts: int) -> None:
    """Ten copies of lineitem/orders (order keys shifted) and events.
    Events remap event ids AND user ids, so the user↔event_type graph
    (q_pagerank) and per-user series grow 10× rather than densifying
    the same users."""
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{src}/lineitem.parquet")
    o = spark.read.parquet(f"{src}/orders.parquet")
    shift = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
    _replicate(li, f"{dst}/lineitem.parquet", parts, {"l_orderkey": shift})
    _replicate(o, f"{dst}/orders.parquet", parts, {"o_orderkey": shift})
    ev = spark.read.parquet(f"{src}/events.parquet")
    ne = ev.agg(F.max("event_id")).collect()[0][0] + 1
    nu = ev.agg(F.max("user_id")).collect()[0][0] + 1
    _replicate(ev, f"{dst}/events.parquet", parts,
               {"event_id": ne, "user_id": nu})


def _link_rest(src: str, dst: str, tables) -> None:
    for t in tables:
        if not os.path.lexists(f"{dst}/{t}.parquet"):
            os.symlink(f"{src}/{t}.parquet", f"{dst}/{t}.parquet")


def build(spark) -> None:
    from pyspark.sql import functions as F

    _replicate_documents(spark, BASE, OUT, 32, "v")
    e = spark.read.parquet(f"{BASE}/embeddings.parquet")
    # perturb replicated embeddings (mirrors the text ' v{i}' tweak):
    # verbatim copies would give a degenerate distribution of exact
    # duplicate vectors, skewing LSH/IVF bucket occupancy at 10×
    _replicate(
        e, f"{OUT}/embeddings.parquet", 32, {"vec_id": e.count()},
        lambda c, i: c if i == 0 else c.withColumn(
            "embedding", F.transform(
                "embedding",
                lambda x, j: (x + 0.01 * F.lit(float(i))
                              * F.sin((j + 1).cast("double")
                                      * F.lit(float(i)))).cast("float"))))
    _replicate_relational(spark, BASE, OUT, 32)
    # remaining driver tables: symlink the sf0.1 originals
    _link_rest(BASE, OUT, ("region", "nation", "customer", "supplier",
                           "part"))


OUT100 = "/tmp/engine_scale_x100"
# three-decade claim for the linear text/curation ops: 5k → 50k → 500k
# docs. Quadratic/ANN ops are excluded by design (their scale paths
# are the banded/bucketed keys measured at 10×).
X100_KEYS = [
    "q_dedup_exact", "q_dedup_keep_best", "q_heavy_hitters",
    "q_text_chunk", "q_text_redact", "q_contamination", "q_text_stats",
    "q_split_train", "q_tfidf_top", "q_text_repetition", "q_word_pmi",
    # round-6 final wave: linear doc ops join the three-decade claim
    "q_dedup_paragraph", "q_feature_hash", "q_zipf_fit",
    # round-7: chunk-grain decontamination, DSIR weights,
    # duplicated-span accounting, sequence packing — all linear
    # document ops with hash-only shuffles
    "q_contamination_chunk", "q_dsir_weight", "q_dedup_substring",
    "q_pack_sequences",
    # round-8: classifier codegen apply (pure narrow — the 100x curve
    # should be scan-bound) and posting-list RAG retrieval (tf/df
    # aggregates + broadcast term join over 500k docs)
    "q_quality_classifier", "q_rag_retrieve",
    # round-9: the BPE lifecycle at 500k docs — fit's word-frequency
    # aggregate is the only corpus-sized stage (type table saturates,
    # so the curve should flatten BELOW linear); apply adds the
    # broadcast stats join back to the exploded corpus (linear).
    "q_tokenizer_fit", "q_tokenizer_apply",
    # round-9: RRF fusion (documents grow 10x; candidates stay
    # posting-list-bounded per query). q_dedup_phash left this list
    # in round 14: at x100 the replicated fixture multiplies every
    # near-dup FAMILY by 10, so true pairs grow ~100x per decade
    # (measured 245k -> 22.5M output pairs, 98x candidates) while
    # runtime grew only 16x — pair-OUTPUT-bound, and real corpora
    # don't grow family sizes with corpus size; it keeps its
    # cluster-bounded 10x probe (the q_dedup_ngram_jaccard exclusion
    # family, adjudicated in SCALE.md round 14).
    "q_rank_fusion",
    # round-10: substring-dedup removal joins the three-decade claim
    # (linear doc op: hash-only shuffles + codegen splice)
    "q_dedup_substring_cut",
    # round-10: vocab construction (type-table-bound — the fit's
    # sub-linear curve), token-budget planner + quality ablation
    # (single map-side aggregates — scan-bound curves), and
    # decontamination excision (broadcast holdout + codegen splice —
    # linear)
    "q_tokenizer_vocab", "q_token_budget", "q_quality_ablation",
    "q_contamination_cut",
    # round-12: the mix-schedule manifest (broadcast planner +
    # explode — scan-bound plus the contracted output inflation) and
    # the near-dup incremental gate (band-index equi-join, O(delta)
    # delta side — linear) join the three-decade claim.
    "q_mix_schedule", "q_dedup_incremental_minhash",
    # round-12 second session: seeded shuffle (16-shard window —
    # hash-only shuffle), stride interleave (per-source window + a
    # literal-folded projection), PII governance (narrow regex) and
    # the bloom sizing eval (memoized gram frames; min-of-2 reports
    # the persisted-frame pass — the q_ivf_refresh precedent) join
    # the three-decade claim.
    "q_shuffle_shards", "q_interleave_sources", "q_pii_report",
    "q_contamination_bloom_eval",
    # round-12 fifth wave: the span-corruption plan joins the
    # three-decade claim (linear doc op: position explode + hash
    # filter + two doc-keyed windows).
    "q_span_corruption_mask",
    # round-14: the newly 10x-probed text/dedup/vector core extends
    # to three decades (500k docs). All linear doc ops: tokenize /
    # vote / feature / shingle-hash / regex-clean maps with hash-only
    # or cardinality-bounded shuffles; simhash pairs stay
    # cluster-bounded under the perturbed-replica fixture.
    "q_text_tokens", "q_text_langid", "q_text_quality",
    "q_text_fingerprint", "q_text_clean", "q_token_histogram",
    "q_dedup_simhash",
    # round-15 (verdict item 3): the remaining 10x-only text/dedup
    # keys join the three-decade claim — measured rows in SCALE.md
    # round-15. Exclusions, each with measured evidence:
    # - q_dedup_semantic / q_dedup_incremental_semantic are
    #   EMBEDDING-driven and the x100 fixture symlinks the 10x
    #   embeddings (no third decade exists for them here); their
    #   scale evidence stays the 10x probe, where embeddings grow.
    # - the MinHash pair-emitting family (q_dedup_fuzzy_minhash,
    #   q_dedup_containment, q_dedup_cluster, q_dedup_resolve) is
    #   PAIR-OUTPUT-bound under the replicated fixture, the
    #   q_dedup_phash adjudication exactly: measured candidate pairs
    #   1,941 (sf0.1) -> 415,510 (x10) -> 43,395,584 (x100) — the
    #   replica construction multiplies every near-dup FAMILY by 10
    #   per decade, so true pairs grow ~100x per 10x docs while real
    #   open-vocabulary corpora keep family sizes corpus-size-
    #   independent. Runtime is SUB-linear in those pairs
    #   (fuzzy_minhash 2.03 s -> 25.64 s on 104x pairs; containment,
    #   which scores each pair by n-gram intersection, 347 s; the
    #   cluster/resolve composition iterates that graph). All four
    #   keep their 10x probes, where family sizes stay natural.
    "q_dedup_url",
    "q_contamination_bloom", "q_langid_eval", "q_langid_calibration",
    "q_tokenizer_eval", "q_text_perplexity", "q_quality_drift",
    "q_text_entropy", "q_ngram_freq",
    # round-15 second wave: the remaining documents-driven 10x-only
    # keys (scan set = documents.parquet, which this fixture grows to
    # 500k rows). DP release surface, sampling planners, grouped
    # sketches, BM25, the curation composite, and the exact-hash
    # incremental gate (hash-equi-join on the persisted index — not
    # the pair-emitting MinHash family, which stays excluded above).
    # q_explode_unnest / q_feature_scale are EMBEDDINGS-driven and
    # stay 10x-only (both x100 fixtures symlink the 10x embeddings).
    "q_batch_by_length", "q_bm25_score", "q_corpus_curate",
    "q_dedup_incremental", "q_dp_histogram", "q_dp_quantile",
    "q_dp_topk", "q_group_sample_k", "q_group_topk_sketch",
    "q_sample_balanced", "q_sample_temperature", "q_sample_weighted",
    "q_vocab_coverage",
]


def build_x100(spark) -> None:
    """100× documents (500k rows) from the 10× fixture; every other
    table symlinks the 10× build (document-driven keys only)."""
    os.makedirs(OUT100, exist_ok=True)
    _replicate_documents(spark, OUT, OUT100, 64, "w")
    _link_rest(OUT, OUT100, ("region", "nation", "customer", "supplier",
                             "part", "events", "lineitem", "orders",
                             "embeddings"))


def _validated_only(universe, what: str) -> list[str]:
    """Positional-arg key filter, validated against the sweep's key
    list: a misspelled key must ERROR, not silently produce an empty
    result row that reads as a completed sweep (round-14 ADVICE)."""
    only = [a for a in sys.argv[1:] if not a.startswith("--")]
    bad = [k for k in only if k not in universe]
    if bad:
        raise SystemExit(
            f"unknown {what} filter key(s): {bad}; "
            f"valid keys: {sorted(universe)}")
    return only


def _sweep(spark, sf: str, keys, rule, tag: str | None = None) -> dict:
    """Each key's min-of-N seconds at ``sf``, 2 decimals; with ``tag``,
    also print each key's figure as it lands."""
    row = {}
    for k in keys:
        row[k] = round(min(time_runs(timed_pass(spark, sf, k), *rule)), 2)
        if tag:
            print(json.dumps({"key": k, f"{tag}_sec": row[k]}), flush=True)
    return row


def run_x100(spark) -> None:
    if not os.path.exists(f"{OUT100}/documents.parquet"):
        build_x100(spark)
    t = warm_up(spark, OUT100, ("documents",))
    only = _validated_only(X100_KEYS, "X100_KEYS")
    row = _sweep(spark, OUT100,
                 [k for k in X100_KEYS if not only or k in only],
                 X100_RULE, "x100")
    t["documents"].unpersist()
    print(json.dumps({"scale": "x100", "seconds": row}), flush=True)


def main() -> None:
    from engine.registry import load_all
    from engine.session import get_spark

    spark = get_spark("scale_probe")
    load_all()
    if "--rebuild" in sys.argv or \
            not os.path.exists(f"{OUT}/documents.parquet"):
        build(spark)
    if "--x100" in sys.argv:
        run_x100(spark)
        return
    if "--x100rel" in sys.argv:
        run_x100rel(spark)
        return

    # positional args filter the probed keys (exact names) so a
    # round's backfill can measure just its new keys; with a filter,
    # --emit-json MERGES the new rows into the existing artifact
    # instead of overwriting the full sweep. Validated: a misspelled
    # key errors instead of silently probing nothing.
    only = _validated_only(DOC_KEYS + REL_KEYS, "DOC_KEYS/REL_KEYS")
    probe_keys = [k for k in DOC_KEYS + REL_KEYS
                  if not only or k in only]
    rows: dict[str, dict[str, float]] = {}
    for sf in ("/root/testdata/sf0.01", BASE, OUT):
        t = warm_up(spark, sf, SWEEP_TABLES)
        row = _sweep(spark, sf, probe_keys,
                     X10_RULE if sf == OUT else BASE_RULE)
        for name in SWEEP_TABLES:
            t[name].unpersist()
        label = sf.rstrip("/").rsplit("/", 1)[-1]
        rows[label] = row
        print(json.dumps({"scale": label, "seconds": row}), flush=True)

    if "--emit-json" in sys.argv:
        emit_artifact(rows, merge=bool(only))


# Keys whose measured shape is quadratic ON PURPOSE: brute-force
# baselines kept only as the oracle-checkable reference point for
# their banded/bucketed scale-path siblings (q_sim_lsh_topk /
# q_sim_ivf_topk). They are reported separately so the headline
# "no unplanned superlinear key" claim stays honest.
_QUADRATIC_BY_DESIGN = {"q_sim_topk"}

# Superlinear flag tolerance. "Superlinear" means growth EXCEEDING
# the 10x data factor beyond measurement noise: a truly-linear key
# measures ~10x +/- the combined two-sided min-of-3 band (each side
# wobbles ~20-30% run to run — measured across the three round-9
# sweeps, where q_corpus_curate's ratio spanned 8.2-14.5 while the
# per-stage tool pinned every stage at 6.99-9.66x), so a
# zero-tolerance >10.0 flag flips forever on exactly-linear keys.
# Keys above 10.0 but within the tolerance are reported LOUDLY in
# "linear_band_keys" (never hidden); re-time anything that lingers
# there with tools/probe.py at both fixtures.
_SUPERLINEAR_FACTOR = 12.0


def emit_artifact(rows: dict[str, dict[str, float]],
                  path: str = "SCALE.json", merge: bool = False) -> None:
    """Write the driver/judge-visible scaling artifact: raw measured
    seconds per (key, scale) plus the fitted 10x growth factor
    t(10x)/t(sf0.1) for every probed key.  A growth factor near 1 at
    these sizes means fixed overhead still dominates (the operator is
    cheaper than the harness); near 10 means linear in data; the
    headline claim is that NO key grows super-linearly.  bench.py
    attaches the summary to its JSON line so the per-round BENCH
    artifact carries the scaling evidence, not just absolute times."""
    here = os.path.dirname(os.path.abspath(__file__))
    if merge and os.path.exists(os.path.join(here, path)):
        # targeted backfill: fold the new rows into the recorded full
        # sweep, then recompute every derived field from the merged
        # seconds so the artifact stays internally consistent
        with open(os.path.join(here, path)) as f:
            prior = json.load(f).get("seconds", {})
        for scale, row in rows.items():
            merged = dict(prior.get(scale, {}))
            merged.update(row)
            rows[scale] = merged
        for scale, row in prior.items():
            rows.setdefault(scale, row)
    x10 = rows.get("engine_scale_x10", {})
    base = rows.get("sf0.1", {})
    growth = {
        k: round(x10[k] / base[k], 2)
        for k in x10 if base.get(k) and x10[k] > 0
    }
    planned = {k: g for k, g in growth.items()
               if k not in _QUADRATIC_BY_DESIGN}
    worst = max(planned.items(), key=lambda kv: kv[1]) if planned else None
    worst_bd = max(((k, g) for k, g in growth.items()
                    if k in _QUADRATIC_BY_DESIGN),
                   key=lambda kv: kv[1], default=None)
    art = {
        "generated_by": "scale_probe.py --emit-json",
        "fixture": {"sf0.1": "/root/testdata/sf0.1 (50k docs, 600k lineitem)",
                    "engine_scale_x10": "10x replicated+perturbed (/tmp)"},
        "seconds": rows,
        "growth_10x": growth,
        "worst_growth_10x": {"key": worst[0], "factor": worst[1]}
        if worst else None,
        "worst_growth_10x_by_design": {"key": worst_bd[0],
                                       "factor": worst_bd[1]}
        if worst_bd else None,
        "superlinear_keys": sorted(
            k for k, g in growth.items()
            if g > _SUPERLINEAR_FACTOR
            and k not in _QUADRATIC_BY_DESIGN),
        "linear_band_keys": {
            k: g for k, g in sorted(growth.items())
            if 10.0 < g <= _SUPERLINEAR_FACTOR
            and k not in _QUADRATIC_BY_DESIGN},
        "superlinear_tolerance": _SUPERLINEAR_FACTOR,
        "superlinear_by_design": sorted(
            k for k, g in growth.items()
            if g > 10.0 and k in _QUADRATIC_BY_DESIGN),
    }
    with open(os.path.join(here, path), "w") as f:
        json.dump(art, f, indent=1, sort_keys=True)
    print(json.dumps({"artifact": path,
                      "worst_growth_10x": art["worst_growth_10x"]}),
          flush=True)





OUTREL = "/tmp/engine_scale_rel100"
# three-decade claim for the relational core: 0.6M -> 6M -> 60M
# lineitem rows (sf0.1 -> x10 -> x100). Dimensions stay sf0.1-sized
# (they are dimensions); documents/embeddings symlink the 10x build.
REL100_KEYS = [
    "q_agg_pricing_summary", "q_join_inner", "q_window_rank",
    "q_topk_orders", "q_agg_rollup", "q_join_bloom", "q_incr_agg",
    "q_snapshot_diff", "q_mjoin_topk", "q_quantile_bins",
    "q_linreg_group", "q_profile_columns", "q_dq_audit",
    # round-6 final wave: lineitem/orders-driven statistics
    "q_ks_test", "q_mann_whitney", "q_benford", "q_gini",
    "q_rfm_segment",
    # round-7: rank correlation (value-grouped midrank models) and
    # the Q5 star join (dims constant, facts grow 100x)
    "q_spearman_corr", "q_mjoin_volume",
    # round-14: the round-13 experimentation / survival / as-of /
    # time-series stack joins the three-decade claim. The x100rel
    # fixture now replicates EVENTS 100x as well (remapped event AND
    # user ids, the 10x build discipline), so the events-driven
    # stats family measures a real 100x curve, not a symlinked 10x
    # plateau. orders-driven keys ride the 15M-row orders table.
    "q_survival_km", "q_decile_lift",
    "q_join_asof_tolerance", "q_join_asof_forward",
    "q_join_asof_nearest", "q_incr_join_refresh",
    "q_anova", "q_kruskal_wallis", "q_levene_test",
    "q_ab_srm", "q_ab_power", "q_ab_cuped",
    # the Poisson bootstrap is the stress entry: the bounded 32x
    # explode into ONE map-side-combined aggregate is exactly the
    # claim that must survive 60M input rows (1.9G exploded)
    "q_bootstrap_ci",
    "q_ts_changepoint", "q_ts_rolling_median", "q_ts_lag_features",
    "q_window_rolling_distinct",
    # round-14 second wave: the event-time family the 10x sweep
    # admitted this round rides the 10M-row events table to three
    # decades (one user/type-keyed exchange each; session scans are
    # per-partition linear), plus the exact-quantile/moment family
    # over the 60M-row lineitem (distributed value-counts must stay
    # stage-linear at any scale).
    "q_window_tumbling", "q_window_sliding", "q_window_session",
    "q_event_dedup_first", "q_event_transitions", "q_session_capped",
    "q_attribution", "q_retention", "q_events_funnel",
    "q_scd2_history", "q_hll_rollup", "q_zorder_cells",
    "q_rollup_time",
    "q_percentile_cont", "q_robust_stats", "q_corr_stats",
    "q_window_frame_rows",
    # round-14 third wave: the join / aggregate / window families
    # complete the rule "every relational key the 10x sweep admitted
    # this round also has a three-decade curve" (facts grow 100x,
    # dims stay broadcast constants — which is the broadcast contract
    # itself under test).
    "q_join_broadcast", "q_join_left", "q_join_semi", "q_join_anti",
    "q_agg_distinct", "q_agg_cube", "q_agg_grouping_sets",
    "q_agg_stats",
    "q_window_lag_lead", "q_window_frame_range",
    "q_window_running_total", "q_percentile_disc",
    # round-15 second wave: every remaining 10x-only key whose scan
    # set (df.inputFiles()) is driven by a table the x100rel fixture
    # grows (events 10M / orders 15M / lineitem 60M; dims stay
    # broadcast constants). The events-driven time-series /
    # incremental / graph stack and the lineitem/orders-driven
    # relational tail join the three-decade claim. Exclusions, each
    # with a scan-set rationale:
    # - q_merge_idempotent reads customer (constant dim) + its own
    #   staged update feed — no grown side exists in this fixture;
    # - q_time_travel reads its own versioned staging dir
    #   (fixture-size-independent by construction);
    # - q_tdigest_quantile times the memoized read of its staged
    #   per-day digest dir (sketch bound lives in pytest instead).
    "q_ab_welch", "q_anomaly_iqr", "q_bitmap_rollup", "q_cdc_apply",
    "q_conversion_lag", "q_file_skipping_stats", "q_gap_fill",
    "q_graph_bfs", "q_interval_union", "q_join_time_range",
    "q_mutual_info", "q_pagerank", "q_pct_change",
    "q_time_weighted_avg", "q_ts_autocorr", "q_ts_ewma", "q_ts_ohlc",
    "q_ts_seasonal", "q_user_growth", "q_winsorize",
    "q_agg_mode", "q_basket_rules", "q_graph_triangles",
    "q_join_lateral", "q_join_salted", "q_join_skew_report",
    "q_pivot", "q_table_checksum", "q_unpivot", "q_variant_funcs",
    "q_weighted_quantile", "q_dp_sum",
]


def build_x100rel(spark) -> None:
    """100x lineitem/orders/events (60M / 15M / 10M rows) from the
    10x fixture, with the 10x build's key remapping. A pre-round-14
    fixture symlinked the 10x events; _replicate replaces the link."""
    os.makedirs(OUTREL, exist_ok=True)
    _replicate_relational(spark, OUT, OUTREL, 64)
    _link_rest(OUT, OUTREL, ("region", "nation", "customer", "supplier",
                             "part", "documents", "embeddings"))
    # completion marker, written LAST: a crashed prior build that
    # already unlinked the events symlink but wrote only a partial
    # events table must not pass the rebuild gate and skew every
    # events-driven curve (round-14 ADVICE). run_x100rel gates on
    # this marker, not on symlink-ness.
    with open(f"{OUTREL}/_BUILD_COMPLETE", "w") as f:
        f.write("x100rel events replicated 100x\n")


def run_x100rel(spark) -> None:
    if (not os.path.exists(f"{OUTREL}/lineitem.parquet")
            or not os.path.exists(f"{OUTREL}/_BUILD_COMPLETE")):
        build_x100rel(spark)
    tables = ("lineitem", "orders", "events")
    t = warm_up(spark, OUTREL, tables)
    only = _validated_only(REL100_KEYS, "REL100_KEYS")
    row = _sweep(spark, OUTREL,
                 [k for k in REL100_KEYS if not only or k in only],
                 X100_RULE, "x100rel")
    for name in tables:
        t[name].unpersist()
    print(json.dumps({"scale": "x100rel", "seconds": row}), flush=True)


if __name__ == "__main__":
    main()
