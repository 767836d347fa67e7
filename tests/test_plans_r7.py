"""Round-7 plan pins.

q_dedup_containment's prefilter is now AUTO: below _PREFILTER_DOCS
documents it keeps the cheap full-shingle exchange (measured faster
at bench scale); above it the d2 shingle side is broadcast-semi-
filtered to candidate docs before the exchange (the 100 TB shape).
These pins assert the auto switch actually changes the executed
plan — small corpus → no extra filter join, large corpus → the
broadcast semi-filter appears — and that repeated invocations reuse
one set of cached blocks instead of stacking persists.
"""
from __future__ import annotations

import re

from engine.io import memo, memo_drop
from engine.registry import QUERIES, load_all

from test_plans import final_plan

load_all()


def _containment_optimized(spark, sf_dir, fake_doc_count=None) -> str:
    """Build the containment query and return its OPTIMIZED logical
    plan, optionally pre-seeding the memoized documents row count so
    the auto switch sees a large corpus without generating one (the
    data stays the small fixture; twin equality is pinned separately
    in test_plans_r6c.py).  The logical plan is the right artifact
    here: the executed-plan toString garbles nested
    InMemoryRelation/AdaptiveSparkPlan subtrees, dropping the b2
    branch that carries the semi-filter."""
    # drop the memoized persisted frames so a fresh plan is built
    # under the (possibly faked) count
    memo_drop(spark, "containment")
    if fake_doc_count is not None:
        memo_drop(spark, "count", "documents")
        memo(spark, sf_dir, ("count", "documents"), lambda: fake_doc_count)
    try:
        df = QUERIES["q_dedup_containment"](spark, sf_dir)
        return df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        if fake_doc_count is not None:
            memo_drop(spark, "count", "documents")
        memo_drop(spark, "containment")


def test_containment_auto_prefilter_switches_on_corpus_size(spark, sf_dir):
    small = _containment_optimized(spark, sf_dir)
    big = _containment_optimized(spark, sf_dir, fake_doc_count=50_000)
    # at scale the d2 shingle side gains the broadcast candidate-doc
    # semi-filter (LeftSemi survives Catalyst where an inner join is
    # proven redundant and eliminated); below the threshold the
    # cheap full-exchange path has no semi join at all
    assert "LeftSemi" not in small, small
    assert re.search(r"Join LeftSemi.*\n.*", big), big
    assert big.count("LeftSemi") == 1, big
    # and the semi-filter's build side is hinted broadcast
    assert "rightHint=(strategy=broadcast)" in big, big


def test_containment_repeat_invocations_reuse_cached_blocks(spark, sf_dir):
    QUERIES["q_dedup_containment"](spark, sf_dir).collect()
    jsc = spark.sparkContext._jsc.sc()
    n1 = jsc.getPersistentRDDs().size()
    QUERIES["q_dedup_containment"](spark, sf_dir).collect()
    n2 = jsc.getPersistentRDDs().size()
    assert n2 == n1, (n1, n2)


def test_contamination_chunk_broadcasts_both_small_sides(spark, sf_dir):
    """Both benchmark-sized frames — the holdout gram set and the
    contaminated-doc aggregate — must reach the corpus as broadcast
    hash joins; a shuffle join on either side would exchange the
    corpus-gram frame at 100 TB."""
    plan = final_plan(spark, "q_contamination_chunk", sf_dir)
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_dsir_model_join_is_broadcast(spark, sf_dir):
    """The 64-bucket log-ratio model must reach the per-(doc, bucket)
    frame as a broadcast hash join — a shuffle join here would
    exchange the corpus-token aggregate against a 64-row frame."""
    plan = final_plan(spark, "q_dsir_weight", sf_dir)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_spearman_rank_models_broadcast(spark, sf_dir):
    """Both rank-model joins (|distinct values| rows per group) must
    broadcast against the fact rows."""
    plan = final_plan(spark, "q_spearman_corr", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_ewma_single_exchange(spark, sf_dir):
    """All 16 lag terms must evaluate inside ONE window over ONE
    exchange — a second exchange would mean the lags split into
    separate window operators."""
    plan = final_plan(spark, "q_ts_ewma", sf_dir)
    import re
    n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_exchange == 1, plan
    assert plan.count("Window") == 1, plan


def test_mjoin_volume_broadcasts_dims_one_fact_shuffle(spark, sf_dir):
    """Q5 shape: every dimension side broadcast, at most ONE
    sort-merge (the lineitem-orders fact-fact join); a second SMJ
    would mean a dim chain leaked into a data-sized exchange."""
    plan = final_plan(spark, "q_mjoin_volume", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") <= 1, plan
