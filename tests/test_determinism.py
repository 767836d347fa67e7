"""Metamorphic determinism (SURVEY.md §5.3): results must be invariant
to physical partitioning. Every hash-checked query already rounds /
exact-sums so that partial-aggregation order can't leak into values;
this test re-executes representative keys under a different shuffle
partitioning and requires bit-identical results.
"""
import pytest

from engine.registry import QUERIES, load_all

load_all()

KEYS = [
    "q_agg_pricing_summary",   # money sums (scaled-BIGINT exactness)
    "q_window_rank",           # window with tie-broken total order
    "q_stitch_3d",             # float weight aggregate
    "q_dedup_fuzzy_minhash",   # banded self-join
    "q_sim_topk",              # applyInPandas GEMM + global cut
    "q_event_dedup_first",     # row_number dedup
    "q_dedup_keep_best",       # content-hash window survivor choice
    "q_dataset_mix",           # broadcast thresholds + hash filter
    "q_ngram_freq",            # top-k with count/bigram tiebreak
    "q_join_salted",           # salt spread must not leak into values
    "q_events_funnel",         # conditional-min aggregation
    # round-4 curation/incremental operators
    "q_heavy_hitters",         # MG candidate set varies; exact pass must not
    "q_pagerank",              # integer fixed-point iteration
    "q_incr_agg",              # scaled-BIGINT state merge
    "q_word_pmi",              # integer ratio + support prune
    "q_anomaly_iqr",           # discrete-quantile fence comparison
    "q_contamination",         # gram-set semi join
    "q_snapshot_diff",         # full-outer CDC diff
    "q_grouped_topk_agg",      # collect_list order must not leak (sorted)
    "q_histogram",             # bucket arithmetic
    "q_cte_recursive",         # iterative-union frontier
    # round-5 geo operators
    "q_geo_cell_join",         # cell-ring candidate join + IEEE predicate
    "q_geo_knn",               # distance-ranked window with key tiebreak
    "q_graph_triangles",       # oriented wedge join, exact integers
    "q_join_lateral",          # decorrelated per-group limit
    # round-5 profiling / vector / composite operators
    "q_profile_columns",       # multi-distinct Expand must not leak
    "q_dq_audit",              # five independent rule aggregates
    "q_linreg_group",          # scaled-BIGINT sufficient statistics
    "q_feature_scale",         # fitted stats from exact integer sums
    "q_embed_meanpool",        # label-dim partial sums
    "q_quantile_bins",         # percentile_disc boundary fit
    "q_mjoin_topk",            # multi-join + TakeOrdered tiebreak
    "q_event_transitions",     # lag window with event_id tiebreak
    "q_union_evolution",       # by-name union null alignment
    "q_sample_weighted",       # integer draw-vs-weight comparison
    "q_join_time_range",       # bucketed range self-join pair counts
    "q_multimodal_audio",      # Arrow batch boundaries must not leak
    "q_fuzzy_match",           # broadcast DP distances
    "q_interval_union",        # island numbering via running max
    "q_table_checksum",        # commutative digest sum
    "q_group_sample_k",        # md5-rank stratum sample
    "q_graph_bfs",             # frontier joins; min(dist) order-free
    "q_session_capped",        # cross-batch scan state per user
    # round-12 second-session manifest keys: every ordering below is
    # hash-keyed with an explicit doc_id tiebreak, so a different
    # physical partitioning must not move a single row
    "q_shuffle_shards",        # per-shard md5-rank permutation
    "q_interleave_sources",    # literal-folded closed-form rank
    "q_pack_mask_spans",       # explode + shard-local aggregate
    "q_embed_dim_stats",       # scaled-BIGINT dimension moments
    "q_embed_outlier_vecs",    # 1-row literal moments + narrow map
    "q_file_skipping_stats",   # zone-map verdict aggregate
    "q_pii_report",            # regex counts + density quarantine
    "q_span_corruption_mask",  # hash-grid islands per doc
    "q_shuffle_epoch",         # epoch-salted per-shard permutation
    "q_pack_shuffled",         # window cumsum over shuffled order
    "q_quality_drift",         # smoothed PSI from exact counts
    "q_batch_by_length",       # in-bucket md5-rank batching
    # round-13 keys: planner/release/diagnostic tables must not move
    # a row under a different physical partitioning
    "q_token_budget_bpe",      # BPE totals + literal (S, B) planner
    "q_dp_quantile",           # quantized Gumbel argmax per pct
    "q_contamination_bloom",   # per-slot bloom pass + exact confirm
    "q_join_skew_report",      # three count aggregates + 128-bit lane
    "q_incr_join_refresh",     # three-lane partial-aggregate merge
    "q_data_card",             # five-family per-source composition
    "q_dp_report",             # four-release ledger union
    "q_ts_rolling_median",     # bounded-frame exact window percentile
    "q_mix_schedule_bpe",      # BPE planner broadcast + '#mix' tail
    "q_pack_schedule_bpe",     # shard-local cumsum over BPE manifest
    "q_pack_unit_ablation",    # both chains re-aggregated to 2 rows
    "q_dedup_incremental_semantic",  # per-cluster bipartite GEMM
    "q_embed_centroid_drift",  # (cl, i) mean aggregates + k-row drift
    # round-13 closing-session keys: every ordering is explicit
    # (window tiebreaks / md5 ranks / literal grids), so physical
    # partitioning must not move a row
    "q_join_asof_forward",     # window lead with (date, key) order
    "q_join_asof_nearest",     # lag+lead arbitration, same window
    "q_anova",                 # exact moments + k-row folds
    "q_langid_calibration",    # integer conf bins + exact ECE
    "q_decile_lift",           # percentile cutpoints + 10-row curve
    "q_ts_lag_features",       # bounded frames, bit-copied lags
    "q_sample_balanced",       # per-lang md5 rank, learned k
    "q_kruskal_wallis",        # doubled midranks, 128-bit ties
    "q_levene_test",           # 2x-median deviations + moments
    "q_window_rolling_distinct",  # first-appearance emission spans
    "q_ts_changepoint",        # exact contrast argmax per type
    "q_bootstrap_ci",          # literal-threshold Poisson weights
    "q_dp_topk",               # quantized Gumbel top-k over domain
    "q_survival_km",           # ordered integer risk-set folds
    "q_ab_srm",                # md5 assignment + closed-form chi2
    "q_ab_power",              # one moment row x literal grid
    # round-14 (VERDICT r13 item 6): the sweep now covers the FULL
    # r13 batch cohort — the last four keys join here
    "q_ab_cuped",              # theta from exact co-moments
    "q_join_asof_tolerance",   # lag window + literal cutoff filter
    "q_source_json_corrupt",   # PERMISSIVE parse + policy aggregate
    "q_source_csv_corrupt",    # DROPMALFORMED/corrupt-column triage
]


def _rows(spark, key, parts):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        df = QUERIES[key](spark, "/root/testdata/sf0.001")
        cols = sorted(df.columns)
        # None-safe total order (check.py's canon discipline): a
        # nullable leading column (e.g. q_join_asof_forward's
        # next_orderkey) otherwise TypeErrors the plain tuple sort
        return sorted(
            (tuple(r[c] for c in cols) for r in df.collect()),
            key=lambda t: tuple((x is None, str(type(x)), str(x))
                                for x in t),
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("key", KEYS)
def test_partitioning_invariance(spark, key):
    assert _rows(spark, key, 5) == _rows(spark, key, 32)


# Streaming twins: spark.sql.shuffle.partitions is baked into a NEW
# stream's state-store layout at first checkpoint, so a twin that is
# correct only under the session default would silently depend on
# cluster sizing. Each key below replays its file-source pipeline
# twice — 5-partition and 32-partition state stores, fresh checkpoints
# each — and must produce bit-identical result sets (VERDICT r13
# item 6: sensitivity pin for the streaming twins).
STREAM_KEYS = [
    "q_stream_stateful_totals",   # applyInPandasWithState GroupState
    "q_stream_srm",               # watermarked agg + closed-form chi2
    "q_stream_cuped",             # two-aggregate co-moment twin
    "q_stream_session_capped",    # r14: cross-batch scan state per user
]


def _fresh_stream_rows(spark, key, parts):
    """_rows with the per-session stream memo cleared first: without
    this, the second run would read the FIRST run's memory-sink table
    (q_stream_* keys memoize per (session, sf)) and the pin would
    compare the stream against itself instead of re-executing it
    under the new state-store partitioning."""
    from engine.io import memo_drop

    memo_drop(spark, "stream")
    return _rows(spark, key, parts)


@pytest.mark.parametrize("key", STREAM_KEYS)
def test_streaming_shuffle_partitions_invariance(spark, key):
    assert (_fresh_stream_rows(spark, key, 5)
            == _fresh_stream_rows(spark, key, 32))
